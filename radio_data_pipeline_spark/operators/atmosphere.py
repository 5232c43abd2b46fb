"""Atmosphere correction — reference atmosphere_correction.py
(SURVEY.md §2.5 M8-M10).

Pipeline: per-row weather -> water-vapor density (Buck equation) ->
ITU-R P.676 gaseous attenuation over the frequency axis -> element-wise
division of DATA. All three steps are one NumPy body
(correct_data_arrow) that one Arrow UDF runs per batch: the batch's
weather enters as (rows, 1) columns against the frequency axis, so the
rows x channels transmission is one broadcast, and the list array's
flat DATA values are divided by it, indexed by (row, position). DATA
crosses the Python boundary as Arrow buffers both ways, never as
per-row Python lists. ``buck_vapor_density_expr`` is the same Buck
equation as a column expression. Everything is per-row independent, so
the whole stage is shuffle-free and scales embarrassingly.

The reference calls the `itur` library (atmosphere_correction.py:47-57);
the UDF always computes the PUBLISHED simplified gaseous-attenuation
algorithm of Rec. ITU-R P.676 (the early-Annex-2 / CCIR-676
approximation: oxygen + water-vapour specific-attenuation polynomials,
equivalent heights, cosecant slant path), whether or not `itur` is
installed, so the product does not depend on the environment. Golden
tests pin the implementation against independently computed values of
the published formulas (test_atmosphere_multimodal); where `itur` is
installed, test_optional_extras compares the kernel against it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def buck_vapor_density_expr(temp_c: Column, humidity_pct: Column) -> Column:
    """Water-vapor density rho [g/m^3] from the Buck saturation vapor
    pressure equation — reference M8 (atmosphere_correction.py:25-45).

    Coefficients are the reference's exactly (Buck-1981 with the
    reference's constant enhancement factor, atmosphere_correction.py:34
    and :37) so computed values match bit-for-bit:
    ``(1.0007 + 3.46e-6) * 6.1121 * exp(17.502*t/(t+240.97))`` above
    freezing, ``(1.0003 + 4.18e-6) * 6.1115 * exp(22.452*t/(t+272.55))``
    below. (The reference's enhancement factor omits the pressure term
    of the published Buck correction — reproduced as-is for parity.)

    Reference quirk, documented divergence: the reference tests
    ``temperature + 273.15 >= 0`` on an input that is *already* Kelvin
    (caller converts at atmosphere_correction.py:72), so its
    below-freezing Buck variant is unreachable. We take Celsius in and
    branch on the actual freezing point, keeping the below-freezing
    branch reachable for genuinely sub-zero Celsius input.
    """
    above = (1.0007 + 3.46e-6) * 6.1121 * F.exp(
        17.502 * temp_c / (temp_c + 240.97))
    below = (1.0003 + 4.18e-6) * 6.1115 * F.exp(
        22.452 * temp_c / (temp_c + 272.55))
    e_s = F.when(temp_c >= 0, above).otherwise(below)
    t_k = temp_c + 273.15
    return 216.7 * ((humidity_pct / 100.0) * e_s) / t_k


def p676_gamma_oxygen(f_ghz, pressure_hpa: float, temp_k: float):
    """Dry-air (oxygen) specific attenuation [dB/km] from the
    published simplified algorithm of Rec. ITU-R P.676 (early Annex 2,
    the CCIR-676 approximation reproduced in standard propagation
    texts), valid 1-350 GHz at sea level.

    Reference conditions are 1013 hPa / 15 degC; ambient scaling uses
    the recommendation's corrections: quadratic pressure dependence
    (collision broadening) and -1.0 %/degC temperature coefficient.

    Vectorized over ``f_ghz`` (numpy array or scalar); the weather
    arguments broadcast against it.
    """
    f = np.asarray(f_ghz, dtype=float)
    # f < 57 GHz branch
    lo = (7.19e-3 + 6.09 / (f ** 2 + 0.227)
          + 4.81 / ((f - 57.0) ** 2 + 1.50)) * f ** 2 * 1e-3
    # 63 <= f <= 350 GHz branch
    hi = (3.79e-7 * f + 0.265 / ((f - 63.0) ** 2 + 1.59)
          + 0.028 / ((f - 118.0) ** 2 + 1.47)) * (f + 198.0) ** 2 * 1e-3
    # 57-63 GHz: the recommendation prescribes interpolating across
    # the unresolved 60-GHz oxygen complex (known to smooth out the
    # true ~15 dB/km peak)
    g57 = (7.19e-3 + 6.09 / (57.0 ** 2 + 0.227) + 4.81 / 1.50) \
        * 57.0 ** 2 * 1e-3
    g63 = (3.79e-7 * 63.0 + 0.265 / 1.59
           + 0.028 / ((63.0 - 118.0) ** 2 + 1.47)) * (63.0 + 198.0) ** 2 \
        * 1e-3
    mid = g57 + (g63 - g57) * (f - 57.0) / 6.0
    gamma = np.where(f < 57.0, lo, np.where(f > 63.0, hi, mid))
    t_c = temp_k - 273.15
    scale = (pressure_hpa / 1013.0) ** 2 * (1.0 - 0.01 * (t_c - 15.0))
    return gamma * np.maximum(scale, 0.0)


def p676_gamma_water(f_ghz, rho: float, temp_k: float):
    """Water-vapour specific attenuation [dB/km], same published
    simplified algorithm (valid 1-350 GHz): the 22.235 / 183.31 /
    325.15 GHz line terms over an f^2 * rho envelope, with the
    recommendation's -0.6 %/degC temperature correction.
    ``rho`` is water-vapour density [g/m^3]."""
    f = np.asarray(f_ghz, dtype=float)
    gamma = (0.050 + 0.0021 * rho
             + 3.6 / ((f - 22.2) ** 2 + 8.5)
             + 10.6 / ((f - 183.3) ** 2 + 9.0)
             + 8.9 / ((f - 325.4) ** 2 + 26.3)) * f ** 2 * rho * 1e-4
    t_c = temp_k - 273.15
    return gamma * np.maximum(1.0 - 0.006 * (t_c - 15.0), 0.0)


def p676_equivalent_heights(f_ghz):
    """Equivalent heights (h_o, h_w) [km] for the zenith path, from
    the same simplified algorithm: constant 6 km dry height below the
    oxygen complex, water height 1.6 km (clear air) with resonant
    enhancements at the three vapour lines."""
    f = np.asarray(f_ghz, dtype=float)
    h_o = np.full_like(f, 6.0)
    h_w = 1.6 * (1.0 + 3.0 / ((f - 22.2) ** 2 + 5.0)
                 + 5.0 / ((f - 183.3) ** 2 + 6.0)
                 + 2.5 / ((f - 325.4) ** 2 + 4.0))
    return h_o, h_w


def p676_slant_attenuation(f_ghz, elev_deg, rho, pressure_hpa, temp_k):
    """Total slant-path gaseous attenuation [dB] by the cosecant law
    (elevation clamped to 5 deg, below which the flat-atmosphere
    cosecant model is invalid): A = (gamma_o*h_o + gamma_w*h_w) /
    sin(elev). This is the published approximation the reference
    reaches through `itur`'s mode='approx' path
    (atmosphere_correction.py:55). The weather arguments are scalars,
    or (rows, 1) columns that give a rows x channels result."""
    h_o, h_w = p676_equivalent_heights(f_ghz)
    zenith = (p676_gamma_oxygen(f_ghz, pressure_hpa, temp_k) * h_o
              + p676_gamma_water(f_ghz, rho, temp_k) * h_w)
    airmass = 1.0 / np.maximum(np.sin(np.radians(np.maximum(elev_deg, 5.0))),
                               1e-6)
    return zenith * airmass


def transmission(freqs_ghz: np.ndarray, elev_deg, tambient_c,
                 pressure_hpa, humidity_pct) -> np.ndarray:
    """The atmospheric transmission 10^(-A/10) over the frequency axis
    — reference M9 (atmosphere_correction.py:47-57). The weather
    arguments are scalars or (rows, 1) columns, which give a rows x
    channels result."""
    t_k = tambient_c + 273.15
    # reference's Buck-1981 coefficients (see buck_vapor_density_expr);
    # above-freezing branch only, because validation drops rows with a
    # negative TAMBIENT
    e_s = (1.0007 + 3.46e-6) * 6.1121 * np.exp(
        17.502 * tambient_c / (tambient_c + 240.97))
    rho = 216.7 * ((humidity_pct / 100.0) * e_s) / t_k
    att = p676_slant_attenuation(freqs_ghz, elev_deg, rho, pressure_hpa, t_k)
    return 10.0 ** (-att / 10.0)


def correct_data_arrow(data: pa.ListArray, elev_deg: pa.Array,
                       tambient_c: pa.Array, pressure_hpa: pa.Array,
                       humidity_pct: pa.Array,
                       freqs_ghz: np.ndarray) -> pa.ListArray:
    """Reference M10 (atmosphere_correction.py:59-86) on one Arrow
    batch: each row's DATA divided element-wise by its transmission.

    Element j of row i is divided by transmission[i, j], read from the
    list array's offsets and flat values, so rows of any length and a
    sliced batch (non-zero offset) work. A row's result has
    max(len(row), channels) elements, as SQL zip_with gives: an
    element with no channel or a channel with no element is NULL. A
    NULL row stays NULL; a NULL element, and an element whose
    transmission is NaN (NULL weather) or zero, is NULL; a NaN element
    stays NaN."""
    trans = transmission(freqs_ghz, *(
        a.cast(pa.float64()).to_numpy(zero_copy_only=False)[:, None]
        for a in (elev_deg, tambient_c, pressure_hpa, humidity_pct)))
    n, channels = trans.shape
    rows_valid = data.is_valid().to_numpy(zero_copy_only=False)
    offsets = data.offsets.to_numpy().astype(np.int64)
    lengths = np.diff(offsets)
    out_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.where(rows_valid, np.maximum(lengths, channels), 0),
              out=out_offsets[1:])

    # input element k of row i sits at position k - offsets[i]; its
    # output index and its transmission's flat index are k plus a
    # per-row shift
    src = np.arange(offsets[0], offsets[-1])
    dst = src + np.repeat(out_offsets[:-1] - offsets[:-1], lengths)
    t_idx = src + np.repeat(np.arange(n) * channels - offsets[:-1], lengths)
    if not rows_valid.all() or lengths.max(initial=0) > channels:
        pos = src - np.repeat(offsets[:-1], lengths)
        keep = np.repeat(rows_valid, lengths) & (pos < channels)
        src, dst, t_idx = src[keep], dst[keep], t_idx[keep]

    values = data.values
    t = trans.reshape(-1)[t_idx]
    ok = ~np.isnan(t) & (t != 0.0)
    if values.null_count:
        ok &= values.is_valid().to_numpy(zero_copy_only=False)[src]
    out = np.full(out_offsets[-1], np.nan)
    out_valid = np.zeros(out_offsets[-1], dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        out[dst] = values.to_numpy(zero_copy_only=False)[src] / t
    out_valid[dst] = ok
    return pa.ListArray.from_arrays(
        pa.array(out_offsets, pa.int32()), pa.array(out, mask=~out_valid),
        mask=pa.array(~rows_valid))


def apply_atmosphere_correction(df: DataFrame,
                                frequencies_mhz: list[float]) -> DataFrame:
    """Reference M10 (atmosphere_correction.py:59-86): DATA /=
    transmission element-wise, per-row weather, by correct_data_arrow
    in one Arrow UDF. Frequencies arrive in MHz and are converted to
    GHz exactly as the reference does (atmosphere_correction.py:68)."""
    freqs_ghz = np.asarray(frequencies_mhz, dtype=float) / 1000.0

    @F.arrow_udf(T.ArrayType(T.DoubleType()))
    def _correct(data: pa.Array, elev: pa.Array, tambient: pa.Array,
                 pressure: pa.Array, humidity: pa.Array) -> pa.Array:
        return correct_data_arrow(data, elev, tambient, pressure, humidity,
                                  freqs_ghz)

    return df.withColumn("DATA", _correct(
        "DATA", "ELEVATIO", "TAMBIENT", "PRESSURE", "HUMIDITY"))
