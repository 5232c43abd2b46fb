"""Atmosphere correction — reference atmosphere_correction.py
(SURVEY.md §2.5 M8-M10).

Pipeline: per-row weather -> water-vapor density (Buck equation) ->
ITU-R P.676 gaseous attenuation over the frequency axis -> element-wise
division via zip_with. A pandas UDF computes the density and the
rows x channels transmission of each Arrow batch as NumPy broadcasts
(weather as column vectors against the frequency axis).
``buck_vapor_density_expr`` is the same Buck equation as a column
expression. Everything is per-row independent, so the whole stage is
shuffle-free and scales embarrassingly.

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
import pandas as pd

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


def transmission_udf(frequencies_ghz: list[float]):
    """Build a pandas UDF computing the per-row atmospheric
    transmission vector 10^(-A/10) over the frequency axis — reference
    M9 (atmosphere_correction.py:47-57).

    Each Arrow batch is one p676_slant_attenuation call: the batch's
    weather enters as (rows, 1) columns and the frequency axis (header
    metadata, a closure constant) as (channels,), so the result is the
    rows x channels transmission with no per-row Python loop."""
    freqs_arr = np.asarray(frequencies_ghz, dtype=float)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _transmission(elev_deg: pd.Series, tambient_c: pd.Series,
                      pressure_hpa: pd.Series, humidity_pct: pd.Series,
                      ) -> pd.Series:
        elev, t_c, p, h = (s.to_numpy(dtype=float)[:, None] for s in
                           (elev_deg, tambient_c, pressure_hpa,
                            humidity_pct))
        t_k = t_c + 273.15
        # reference's Buck-1981 coefficients (see
        # buck_vapor_density_expr); above-freezing branch only, because
        # validation drops rows with a negative TAMBIENT
        e_s = (1.0007 + 3.46e-6) * 6.1121 * np.exp(
            17.502 * t_c / (t_c + 240.97))
        rho = 216.7 * ((h / 100.0) * e_s) / t_k
        att = p676_slant_attenuation(freqs_arr, elev, rho, p, t_k)
        return pd.Series(list(10.0 ** (-att / 10.0)))

    return _transmission


def apply_atmosphere_correction(df: DataFrame,
                                frequencies_mhz: list[float]) -> DataFrame:
    """Reference M10 (atmosphere_correction.py:59-86): DATA /=
    transmission element-wise, per-row weather. Frequencies arrive in
    MHz and are converted to GHz exactly as the reference does
    (atmosphere_correction.py:68)."""
    udf = transmission_udf([f / 1000.0 for f in frequencies_mhz])
    with_t = df.withColumn(
        "_transmission",
        udf(F.col("ELEVATIO"), F.col("TAMBIENT"), F.col("PRESSURE"),
            F.col("HUMIDITY")),
    )
    corrected = with_t.withColumn(
        "DATA",
        F.zip_with(F.col("DATA"), F.col("_transmission"),
                   lambda d, t: d / t),
    )
    return corrected.drop("_transmission")
