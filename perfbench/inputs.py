"""Seeded SDFITS inputs for the benchmark and their NumPy reduction.

Every file is written with the package's own ``write_sdfits`` from
frames built by ``sources.synthetic.make_observation``; the same frames
are reduced here in plain NumPy once, at set-up, so each timed op can
be checked against them afterwards. The reference reuses the package's
pure-NumPy kernels (``find_calibration_indices``, ``rcr_linear_fit``,
``fit_stats``, ``calibration_height``, ``p676_slant_attenuation``) and
re-does all the Spark plumbing around them (validation, stream
grouping, segment labels, joins, sums) independently.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd

from radio_data_pipeline_spark.operators.atmosphere import (
    p676_slant_attenuation,
)
from radio_data_pipeline_spark.operators.calibration import (
    calibration_height,
    fit_stats,
    rcr_linear_fit,
)
from radio_data_pipeline_spark.operators.header import ObservationHeader
from radio_data_pipeline_spark.operators.segmentation import (
    find_calibration_indices,
)
from radio_data_pipeline_spark.operators.validation import PHYSICAL_COLUMNS
from radio_data_pipeline_spark.sources.fits import (
    corrupt_drop_end,
    write_sdfits,
)
from radio_data_pipeline_spark.sources.synthetic import (
    ObsSpec,
    make_observation,
)

START = datetime(2024, 3, 1)
EPOCH = datetime(1970, 1, 1)
STREAMS = [(0, 0), (0, 1), (1, 0), (1, 1)]


@dataclass
class Observation:
    """One written SDFITS file and what reducing it must give."""
    path: str
    obsmode: str
    table: pd.DataFrame
    # (IFNUM, PLNUM) -> (t, calibrated intensity), sorted by t
    continuum: dict = field(default_factory=dict)
    # (IFNUM, PLNUM) -> per-channel spectrum
    spectrum: dict = field(default_factory=dict)
    # HIRES only: per validated row (IFNUM, PLNUM, row_idx) -> sum of
    # the atmosphere-corrected DATA vector
    atmosphere: pd.DataFrame | None = None


def header_cards(obsmode: str, n_channels: int) -> tuple[dict, list[str]]:
    header = {"DATE": START.strftime("%Y-%m-%dT%H:%M:%S"),
              "OBSMODE": obsmode, "OBSFREQ": 1400.0, "OBSBW": 80.0}
    history = ["DATAMODE HIRES", "HIRES bands 1400.0 1600.0",
               f"START,STOP channels 0 {n_channels - 1}"]
    return header, history


def observation_table(spec: ObsSpec) -> pd.DataFrame:
    """The four (IFNUM, PLNUM) streams of one observation, in the
    column layout an SDFITS file carries (no obs_id / row_idx)."""
    pdf = pd.concat([make_observation(spec, i, p) for i, p in STREAMS],
                    ignore_index=True)
    pdf = pdf.drop(columns=["obs_id", "row_idx"])
    pdf["DATE_OBS"] = pdf["DATE_OBS"].map(
        lambda d: d.strftime("%Y-%m-%dT%H:%M:%S"))
    return pdf


def inject_faults(pdf: pd.DataFrame, rng: np.random.Generator) -> pd.DataFrame:
    """NaN DATA elements and negative-TSYS rows on science rows only,
    so validation masks and drops them without touching the cal
    spikes the segmentation and the fits depend on."""
    out = pdf.copy()
    science = np.flatnonzero((out["CALSTATE"] == 0)
                             & (out["SWPVALID"] == 1)).tolist()
    n_ch = len(out.at[0, "DATA"])
    for i in rng.choice(science, size=6, replace=False):
        vec = list(out.at[i, "DATA"])
        for c in rng.choice(n_ch, size=2, replace=False):
            vec[c] = float("nan")
        out.at[i, "DATA"] = vec
    neg = rng.choice(science, size=3, replace=False)
    out.loc[neg, "TSYS"] = -out.loc[neg, "TSYS"].abs()
    return out


def _write(path: str, pdf: pd.DataFrame, obsmode: str, n_channels: int,
           broken: bool = False) -> None:
    header, history = header_cards(obsmode, n_channels)
    buf = write_sdfits(pdf, header, history)
    with open(path, "wb") as fh:
        fh.write(corrupt_drop_end(buf) if broken else buf)


def write_corpus(out_dir: str, seed: int, n_obs: int, faulty: bool,
                 n_broken: int = 0) -> list[Observation]:
    """``n_obs`` observation files (half track, half onoff) plus
    ``n_broken`` files whose END card is dropped. Faulty corpora have a
    false start on every stream and NaN / negative-TSYS rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    obs = []
    for i in range(n_obs):
        onoff = bool(i % 2)
        spec = ObsSpec(obs_id=i, onoff=onoff, false_start=faulty,
                       seed=int(rng.integers(1 << 30)))
        pdf = observation_table(spec)
        if faulty:
            pdf = inject_faults(pdf, rng)
        o = Observation(os.path.join(out_dir, f"obs{i:05d}.fits"),
                        "onoff" if onoff else "track", pdf)
        _write(o.path, pdf, o.obsmode, spec.n_channels)
        reduce_corpus_reference(o)
        obs.append(o)
    for i in range(n_broken):
        spec = ObsSpec(obs_id=n_obs + i, seed=int(rng.integers(1 << 30)))
        _write(os.path.join(out_dir, f"broken{i:03d}.fits"),
               observation_table(spec), "track", spec.n_channels,
               broken=True)
    return obs


def write_hires(out_dir: str, seed: int, n_files: int,
                n_channels: int) -> list[Observation]:
    """``n_files`` single-observation HIRES files, half track and half
    onoff, ``n_channels`` channels wide."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    obs = []
    for i in range(n_files):
        onoff = bool(i % 2)
        spec = ObsSpec(obs_id=i, n_channels=n_channels, onoff=onoff,
                       seed=int(rng.integers(1 << 30)))
        pdf = observation_table(spec)
        o = Observation(os.path.join(out_dir, f"hires{i:03d}.fits"),
                        "onoff" if onoff else "track", pdf)
        _write(o.path, pdf, o.obsmode, n_channels)
        reduce_hires_reference(o)
        obs.append(o)
    return obs


# ------------------------------------------------------------------
# NumPy reduction
# ------------------------------------------------------------------

def validated(pdf: pd.DataFrame) -> pd.DataFrame:
    """validate_observation on a whole-channel window: rows with any
    negative physical column dropped, row_idx = position in the file."""
    out = pdf.assign(row_idx=np.arange(len(pdf)))
    keep = np.ones(len(out), dtype=bool)
    for c in PHYSICAL_COLUMNS:
        if c in out.columns:
            keep &= ~(out[c].to_numpy(dtype=float) < 0)
    return out[keep].reset_index(drop=True)


def _seconds(dates: pd.Series) -> np.ndarray:
    ts = pd.to_datetime(dates, format="%Y-%m-%dT%H:%M:%S")
    return ((ts - pd.Timestamp(EPOCH)).dt.total_seconds()).to_numpy()


def _data(stream: pd.DataFrame) -> np.ndarray:
    return np.nan_to_num(np.vstack(stream["DATA"].map(np.asarray)), nan=0.0)


def _segment_fit(t: np.ndarray, y: np.ndarray) -> dict:
    """The per-(segment, CALSTATE) robust fit as rcr_fit_segments
    reports it."""
    t_mean = float(t.mean())
    x = t - t_mean
    if len(x) < 4:
        return dict(intercept=None, slope=None, b_sd=None, m_sd=None,
                    t_mean=t_mean)
    b, m, keep = rcr_linear_fit(x, y)
    b_sd, m_sd = fit_stats(x[keep], y[keep], b, m)
    return dict(intercept=b, slope=m, b_sd=b_sd, m_sd=m_sd, t_mean=t_mean)


def _gain(t: np.ndarray, y: np.ndarray, pre, post) -> np.ndarray:
    """Gain calibration (apply_gain_calibration semantics)."""
    if pre.delta is not None and post.delta is not None:
        denom = math.sqrt(pre.uncertainty ** 2 + post.uncertainty ** 2)
        z = abs(pre.delta - post.delta) / denom if denom > 0 else None
        if z is not None and z >= 1.96:
            t1, t2 = t.min(), t.max()
            frac = np.zeros_like(t) if t2 == t1 else (t - t1) / (t2 - t1)
            return y / (pre.delta + (post.delta - pre.delta) * frac)
        return y / ((pre.delta + post.delta) / 2)
    if pre.delta is not None:
        return y / pre.delta
    if post.delta is not None:
        return y / post.delta
    return y


def _reduce_stream(stream: pd.DataFrame, channel_count: int,
                   t0: float, sign_by_position: bool):
    """Continuum (t, calibrated intensity) and spectrum of one
    validated stream, rows in file order."""
    cal = stream["CALSTATE"].to_numpy()
    swp = stream["SWPVALID"].to_numpy()
    modes = stream["OBSMODE"].tolist()
    ds, pc, off = find_calibration_indices(cal, swp, modes, "onoff",
                                           channel_count)
    pos = np.arange(len(stream))
    segment = np.where(pos < ds, "pre_cal",
                       np.where(pos >= pc, "post_cal", "science"))
    t = _seconds(stream["DATE_OBS"]) - t0
    data = _data(stream)
    intensity = data.sum(axis=1)

    heights = {}
    for seg in ("pre_cal", "post_cal"):
        fits = []
        for state in (0, 1):
            m = (segment == seg) & (swp == 0) & (cal == state)
            if m.any():
                fits.append({"calstate": state,
                             **_segment_fit(t[m], intensity[m])})
        heights[seg] = calibration_height(pd.DataFrame(
            fits, columns=["calstate", "intercept", "slope", "b_sd",
                           "m_sd", "t_mean"]))
    sci = segment == "science"
    cont = (t[sci], _gain(t[sci], intensity[sci], heights["pre_cal"],
                          heights["post_cal"]))

    spec_rows = (cal == 0) & (swp == 0)
    if sign_by_position:
        off_row = pos >= off if off is not None else np.zeros(len(pos), bool)
    else:
        off_row = np.array(["onoff:off" in m for m in modes])
    sign = np.where(off_row, -1.0, 1.0)
    spectrum = (data[spec_rows] * sign[spec_rows, None]).sum(axis=0)
    return cont, spectrum


def reduce_corpus_reference(o: Observation) -> None:
    """What continuum_pipeline_distributed / spectrum_pipeline_
    distributed (header_obsmode='onoff') give for every stream."""
    v = validated(o.table)
    cc = v["IFNUM"].nunique() * v["PLNUM"].nunique()
    for key, stream in v.groupby(["IFNUM", "PLNUM"], sort=True):
        o.continuum[key], o.spectrum[key] = _reduce_stream(
            stream.sort_values("row_idx"), cc, 0.0, sign_by_position=True)


def reduce_hires_reference(o: Observation) -> None:
    """What reduce_sdfits(path) gives for stream (0, 0), plus the
    per-row atmosphere correction of every validated row."""
    v = validated(o.table)
    cc = v["IFNUM"].nunique() * v["PLNUM"].nunique()
    stream = v[(v["IFNUM"] == 0) & (v["PLNUM"] == 0)]
    t0 = _seconds(pd.Series([START.strftime("%Y-%m-%dT%H:%M:%S")]))[0]
    key = (0, 0)
    o.continuum[key], o.spectrum[key] = _reduce_stream(
        stream, cc, t0, sign_by_position=False)
    freqs_ghz = np.asarray(frequency_axis(o)) / 1000.0
    sums = []
    data = _data(v)
    for i, row in enumerate(v.itertuples(index=False)):
        t_k = row.TAMBIENT + 273.15
        e_s = (1.0007 + 3.46e-6) * 6.1121 * math.exp(
            17.502 * row.TAMBIENT / (row.TAMBIENT + 240.97))
        rho = 216.7 * ((row.HUMIDITY / 100.0) * e_s) / t_k
        att = p676_slant_attenuation(freqs_ghz, row.ELEVATIO, rho,
                                     row.PRESSURE, t_k)
        sums.append(float((data[i] / 10.0 ** (-att / 10.0)).sum()))
    o.atmosphere = pd.DataFrame({"IFNUM": v["IFNUM"], "PLNUM": v["PLNUM"],
                                 "row_idx": v["row_idx"], "sum": sums})


def frequency_axis(o: Observation) -> list[float]:
    """The header's frequency axis for IFNUM 0 (what reduce_sdfits
    joins onto the spectrum)."""
    header, history = header_cards(o.obsmode, len(o.table.at[0, "DATA"]))
    return ObservationHeader.from_fits(header, history).frequencies(0)
