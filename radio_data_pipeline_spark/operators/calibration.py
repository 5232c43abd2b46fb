"""Gain-calibration operators — reference M1-M6 (continuum.py:46-187,
SURVEY.md §2.5).

Two layers:
- distributed closed-form OLS (``ols_fit``) via covar_pop/var_pop
  aggregates — the scale path, one shuffle keyed by segment;
- per-segment Robust Chauvenet Rejection (``rcr_fit_segments``) via
  applyInPandas — calibration segments are tiny (dozens of rows), so
  the sequential robust-rejection loop runs inside one Arrow batch per
  segment. The reference uses the compiled `rcr` library (Maples et
  al. 2018 ApJS, continuum.py:85-94); that library is unavailable
  here, so the same published algorithm's rejection loop (Chauvenet
  criterion around a robust sigma) is implemented in NumPy — a
  documented substitution, pinned by golden tests.

Gain application (M6) implements the INTENDED time-interpolation
semantics: the reference's z>=1.96 branch rebinds the loop variable
(``i /= ...``, continuum.py:178-181), which never writes back into the
array — a no-op. Tests pin our (intended) behavior.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ------------------------------------------------------------------
# M1/M2: closed-form OLS as aggregates (distributed scale path)
# ------------------------------------------------------------------

def ols_fit(df: DataFrame, group_cols: list[str], x_col: str, y_col: str,
            ) -> DataFrame:
    """slope = covar_pop(x,y)/var_pop(x); intercept = avg(y) -
    slope*avg(x). Equivalent to scipy.linregress point estimates
    (continuum.py:82) but computed in one distributed aggregation."""
    x, y = F.col(x_col), F.col(y_col)
    slope = F.covar_pop(x, y) / F.var_pop(x)
    return df.groupBy(*group_cols).agg(
        slope.alias("slope"),
        (F.avg(y) - slope * F.avg(x)).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
        F.avg(x).alias("x_mean"),
    )


# ------------------------------------------------------------------
# M3: Robust Chauvenet Rejection around a linear model (per segment)
# ------------------------------------------------------------------

def _chauvenet_threshold(n: int) -> float:
    """z such that n * P(|Z| > z) = 0.5 (the Chauvenet criterion)."""
    from statistics import NormalDist
    p = 1.0 - 0.25 / n  # two-sided: P(Z < z) = 1 - 0.5/(2n)
    return NormalDist().inv_cdf(p)


def rcr_linear_fit(x: np.ndarray, y: np.ndarray,
                   max_iter: int = 50) -> tuple[float, float, np.ndarray]:
    """Robust linear fit: iterate OLS -> robust location (median of
    residuals) -> robust sigma (scaled MAD about that location) ->
    Chauvenet rejection of |resid - mu| > z*sigma, to a fixpoint.

    Mirrors the role of rcr.FunctionalForm + performBulkRejection
    (continuum.py:85-94) using the published algorithm's ingredients
    (Maples et al. 2018, ApJS 238:2: reject about the ROBUST location,
    not about the possibly-contamination-shifted fit). Centering the
    rejection at mu matters under one-sided contamination: the OLS fit
    shifts toward the contaminants, so zero-centered rejection cuts
    good points on the far side — measured as kept-mask divergence
    from the published median-technique in 91% of contaminated
    segments, fixed to bounded sigma-estimator-only differences by
    centering (tests/test_radio_pipeline.py cross-check battery).
    x is mean-centered by the caller exactly as the reference does
    (continuum.py:77-78). Returns (intercept, slope, kept_mask).
    """
    keep = np.ones(len(x), dtype=bool)
    slope = intercept = 0.0
    for _ in range(max_iter):
        xs, ys = x[keep], y[keep]
        if len(xs) < 3:
            break
        vx = np.var(xs)
        slope = (np.cov(xs, ys, bias=True)[0, 1] / vx) if vx > 0 else 0.0
        intercept = ys.mean() - slope * xs.mean()
        resid = y - (intercept + slope * x)
        mu = np.median(resid[keep])
        mad = np.median(np.abs(resid[keep] - mu))
        sigma = 1.4826 * mad if mad > 0 else np.std(resid[keep])
        if sigma == 0:
            break
        z = _chauvenet_threshold(int(keep.sum()))
        new_keep = np.abs(resid - mu) <= z * sigma
        new_keep &= keep  # rejection is monotone (bulk rejection)
        if new_keep.sum() == keep.sum() or new_keep.sum() < 3:
            keep = new_keep if new_keep.sum() >= 3 else keep
            break
        keep = new_keep
    return intercept, slope, keep


def fit_stats(x: np.ndarray, y: np.ndarray, intercept: float, slope: float,
              ) -> tuple[float, float]:
    """M4 (continuum.py:104-107): sigma^2 = SSR/(n-2); std-errors of
    intercept (b_sd) and slope (m_sd). Returns (b_sd, m_sd)."""
    n = len(x)
    resid = y - (slope * x + intercept)
    sigma2 = float(np.sum(resid ** 2)) / (n - 2)
    sxx = float(np.sum((x - x.mean()) ** 2))
    if sxx == 0.0:
        # all kept points share one timestamp: the slope (and its
        # error) are undefined — report NaN like the degenerate-fit
        # path instead of ZeroDivisionError inside the kernel
        return float("nan"), float("nan")
    m_sd = math.sqrt(sigma2 / sxx)
    b_sd = math.sqrt(sigma2 * (1.0 / n + (x.mean() ** 2) / sxx))
    return b_sd, m_sd


_RCR_SCHEMA = T.StructType([
    T.StructField("obs_id", T.LongType()),
    T.StructField("IFNUM", T.IntegerType()),
    T.StructField("PLNUM", T.IntegerType()),
    T.StructField("segment", T.StringType()),
    T.StructField("calstate", T.IntegerType()),
    T.StructField("intercept", T.DoubleType()),
    T.StructField("slope", T.DoubleType()),
    T.StructField("b_sd", T.DoubleType()),
    T.StructField("m_sd", T.DoubleType()),
    T.StructField("t_mean", T.DoubleType()),
    T.StructField("n", T.IntegerType()),
])


_RCR_KEYS = ["obs_id", "IFNUM", "PLNUM", "segment", "CALSTATE"]


def fit_segment(t: np.ndarray, y: np.ndarray) -> dict:
    """The robust fit of one diode-on or diode-off half of a cal
    spike: (intercept, slope, b_sd, m_sd, t_mean), the fit fields None
    when the half is too short to fit."""
    t_mean = float(t.mean())
    x = t - t_mean  # mean-centering, continuum.py:77-78
    if len(x) < 4:
        # reference guard: <4 points on either side -> no fit
        # (continuum.py:119)
        return dict(intercept=None, slope=None, b_sd=None, m_sd=None,
                    t_mean=t_mean)
    b, m, keep = rcr_linear_fit(x, y)
    b_sd, m_sd = fit_stats(x[keep], y[keep], b, m)
    return dict(intercept=b, slope=m, b_sd=b_sd, m_sd=m_sd, t_mean=t_mean)


def _fit_group(pdf: pd.DataFrame) -> dict:
    """The per-segment robust fit as one rcr_fit_segments row."""
    return {
        "obs_id": pdf["obs_id"].iloc[0],
        "IFNUM": pdf["IFNUM"].iloc[0],
        "PLNUM": pdf["PLNUM"].iloc[0],
        "segment": pdf["segment"].iloc[0],
        "calstate": pdf["CALSTATE"].iloc[0],
        "n": len(pdf),
        **fit_segment(pdf["t"].to_numpy(dtype=float),
                      pdf["intensity"].to_numpy(dtype=float)),
    }


def rcr_fit_segments(continuum_df: DataFrame) -> DataFrame:
    """Run the robust fit over every (stream, segment, CALSTATE) group
    of an integrated-continuum frame with columns
    (obs_id, IFNUM, PLNUM, segment, CALSTATE, t, intensity).

    Physical shape: repartition by the segment key, sort within
    partitions, then ONE mapInPandas kernel that fits every complete
    group inside each Arrow batch, carrying the (possibly split)
    boundary group to the next batch. The naive
    ``groupBy(...).applyInPandas`` ships one Arrow round-trip PER
    GROUP (~5-8 ms each — measured 2.3 s of pure overhead for 320
    dozen-row segments, vs 0.3 s of actual fit math); batching many
    groups per Arrow exchange removes that multiplier while keeping
    the same shuffle key, the same results, and bounded memory (the
    carry holds at most one segment)."""
    def run(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # rows are sorted by key, so the (maybe incomplete) last
            # group is the contiguous tail — hold it for the next batch
            last = pdf.iloc[-1]
            tail = (pdf[_RCR_KEYS] == last[_RCR_KEYS]).all(axis=1)
            carry = pdf[tail]
            done = pdf[~tail]
            if len(done):
                yield pd.DataFrame(
                    [_fit_group(g) for _, g in
                     done.groupby(_RCR_KEYS, sort=False)])
        if carry is not None and len(carry):
            yield pd.DataFrame([_fit_group(carry)])

    return (continuum_df
            .repartition(*_RCR_KEYS)
            .sortWithinPartitions(*_RCR_KEYS)
            .mapInPandas(run, schema=_RCR_SCHEMA))


# ------------------------------------------------------------------
# M5: calibration height per cal segment
# ------------------------------------------------------------------

@dataclass
class CalibrationHeight:
    delta: float | None
    uncertainty: float | None


def calibration_height(fits: pd.DataFrame) -> CalibrationHeight:
    """Combine the diode-on and diode-off fits of ONE cal segment into
    the calibration height (continuum.py:111-138): evaluate both fits
    at the shared midpoint time, delta = on(t*) - off(t*), uncertainty
    by quadrature (continuum.py:134)."""
    on = fits[fits["calstate"] == 1]
    off = fits[fits["calstate"] == 0]
    if len(on) != 1 or len(off) != 1:
        return CalibrationHeight(None, None)
    return height_from_fits(on.iloc[0], off.iloc[0])


def height_from_fits(on, off) -> CalibrationHeight:
    """M5 from the diode-on and diode-off fits (``fit_segment``
    fields) of one cal segment; None for a missing or unfit half."""
    if on is None or off is None or \
            pd.isna(on["intercept"]) or pd.isna(off["intercept"]):
        return CalibrationHeight(None, None)
    t_star = (on["t_mean"] + off["t_mean"]) / 2.0
    dt_on = t_star - on["t_mean"]
    dt_off = t_star - off["t_mean"]
    y_on = dt_on * on["slope"] + on["intercept"]
    y_off = dt_off * off["slope"] + off["intercept"]
    delta = y_on - y_off
    unc = math.sqrt(on["b_sd"] ** 2 + off["b_sd"] ** 2
                    + (on["m_sd"] * dt_on) ** 2 + (off["m_sd"] * dt_off) ** 2)
    return CalibrationHeight(float(delta), float(unc))


# ------------------------------------------------------------------
# M6: gain calibration of the science continuum
# ------------------------------------------------------------------

def gain_calibrate(t: np.ndarray, y: np.ndarray, pre: CalibrationHeight,
                   post: CalibrationHeight) -> np.ndarray:
    """M6 on one stream's science rows in NumPy, with the branches of
    apply_gain_calibration_distributed: interpolate the height in time
    between the first and last science samples when both heights are
    present and z >= 1.96, else their mean (also when the z
    denominator is zero or undefined), else the one present height,
    else leave y unchanged."""
    if pre.delta is not None and post.delta is not None:
        denom = math.sqrt(pre.uncertainty ** 2 + post.uncertainty ** 2)
        if denom > 0 and abs(pre.delta - post.delta) / denom >= 1.96:
            t1, t2 = t.min(), t.max()
            frac = np.zeros_like(t) if t2 == t1 else (t - t1) / (t2 - t1)
            return y / (pre.delta + (post.delta - pre.delta) * frac)
        return y / ((pre.delta + post.delta) / 2.0)
    if pre.delta is not None:
        return y / pre.delta
    if post.delta is not None:
        return y / post.delta
    return y


def apply_gain_calibration(science: DataFrame,
                           pre: CalibrationHeight,
                           post: CalibrationHeight,
                           t_col: str = "t",
                           y_col: str = "intensity") -> DataFrame:
    """Divide the science intensities by the calibration height
    (continuum.py:173-187), with the INTENDED interpolation semantics:

    - both heights present and z = |pre-post|/sqrt(s_pre^2+s_post^2)
      >= 1.96: divide by the height linearly interpolated in time
      between the first and last science samples (the reference's
      loop-variable no-op is documented above);
    - both present, z < 1.96: divide by the mean height;
    - one present: divide by it; none: unchanged.

    The first/last science times are two scalar aggregates (min/max) —
    a driver round-trip of two doubles, matching SURVEY §3's "two
    small collects" note.
    """
    y = F.col(y_col)
    if pre.delta is not None and post.delta is not None:
        denom = math.sqrt(pre.uncertainty ** 2 + post.uncertainty ** 2)
        # perfect (zero-residual) fits give denom == 0; the z test is
        # then undefined and we fall through to the mean-height branch
        # — the same outcome as the distributed form, where x/0 is
        # null and null >= 1.96 is null (falsy)
        z = abs(pre.delta - post.delta) / denom if denom > 0 else None
        if z is not None and z >= 1.96:
            t1, t2 = science.agg(F.min(t_col), F.max(t_col)).first()
            if t2 == t1:
                return science.withColumn(y_col, y / F.lit(pre.delta))
            frac = (F.col(t_col) - F.lit(t1)) / F.lit(t2 - t1)
            height = F.lit(pre.delta) + F.lit(post.delta - pre.delta) * frac
            return science.withColumn(y_col, y / height)
        return science.withColumn(y_col, y / F.lit((pre.delta + post.delta) / 2))
    if pre.delta is not None:
        return science.withColumn(y_col, y / F.lit(pre.delta))
    if post.delta is not None:
        return science.withColumn(y_col, y / F.lit(post.delta))
    return science


# ------------------------------------------------------------------
# M5/M6 as joins: no driver round-trip, any number of observations
# in one lineage. The corpus continuum runs height_from_fits and
# gain_calibrate inside its per-observation kernel instead; these stay
# as the operator form it is tested against.
# ------------------------------------------------------------------

STREAM_COLS = ["obs_id", "IFNUM", "PLNUM"]


def calibration_heights_df(fits: DataFrame) -> DataFrame:
    """M5 as a join: combine each segment's diode-on and diode-off fits
    into (delta, uncertainty) per (stream, segment). One row per fit on
    each side, so this is a tiny equi-join keyed identically to the fit
    aggregation — no extra shuffle."""
    on = fits.filter((F.col("calstate") == 1)
                     & F.col("intercept").isNotNull()).select(
        *STREAM_COLS, "segment",
        F.col("intercept").alias("on_b"), F.col("slope").alias("on_m"),
        F.col("b_sd").alias("on_b_sd"), F.col("m_sd").alias("on_m_sd"),
        F.col("t_mean").alias("on_t"))
    off = fits.filter((F.col("calstate") == 0)
                      & F.col("intercept").isNotNull()).select(
        *STREAM_COLS, "segment",
        F.col("intercept").alias("off_b"), F.col("slope").alias("off_m"),
        F.col("b_sd").alias("off_b_sd"), F.col("m_sd").alias("off_m_sd"),
        F.col("t_mean").alias("off_t"))
    j = on.join(off, [*STREAM_COLS, "segment"])
    t_star = (F.col("on_t") + F.col("off_t")) / 2.0
    dt_on = t_star - F.col("on_t")
    dt_off = t_star - F.col("off_t")
    delta = (dt_on * F.col("on_m") + F.col("on_b")
             - (dt_off * F.col("off_m") + F.col("off_b")))
    unc = F.sqrt(F.col("on_b_sd") ** 2 + F.col("off_b_sd") ** 2
                 + (F.col("on_m_sd") * dt_on) ** 2
                 + (F.col("off_m_sd") * dt_off) ** 2)
    return j.select(*STREAM_COLS, "segment", delta.alias("delta"),
                    unc.alias("uncertainty"))


def apply_gain_calibration_distributed(science: DataFrame,
                                       heights: DataFrame,
                                       t_col: str = "t",
                                       y_col: str = "intensity",
                                       ) -> DataFrame:
    """M6 with per-stream heights joined in instead of collected to
    the driver. Branch semantics identical to apply_gain_calibration;
    the science time bounds come from a per-stream aggregate joined
    back, so the whole computation is one lineage regardless of
    observation count. No broadcast hints: the per-stream tables are
    one row per stream — AQE broadcasts them while they are small, and
    at millions of streams the joins stay keyed on the stream columns
    both sides already shuffle on."""
    pivoted = heights.groupBy(*STREAM_COLS).agg(
        F.max(F.when(F.col("segment") == "pre_cal",
                     F.col("delta"))).alias("pre_d"),
        F.max(F.when(F.col("segment") == "pre_cal",
                     F.col("uncertainty"))).alias("pre_u"),
        F.max(F.when(F.col("segment") == "post_cal",
                     F.col("delta"))).alias("post_d"),
        F.max(F.when(F.col("segment") == "post_cal",
                     F.col("uncertainty"))).alias("post_u"),
    )
    bounds = science.groupBy(*STREAM_COLS).agg(
        F.min(t_col).alias("_t1"), F.max(t_col).alias("_t2"))
    enriched = (science
                .join(pivoted, STREAM_COLS, "left")
                .join(bounds, STREAM_COLS, "left"))

    pre_d, post_d = F.col("pre_d"), F.col("post_d")
    # try_divide: a zero denominator (two perfect fits) gives a null z
    # and the mean-height branch, also in ANSI mode where "/" raises
    z = F.try_divide(F.abs(pre_d - post_d),
                     F.sqrt(F.col("pre_u") ** 2 + F.col("post_u") ** 2))
    frac = F.when(F.col("_t2") == F.col("_t1"), F.lit(0.0)).otherwise(
        (F.col(t_col) - F.col("_t1")) / (F.col("_t2") - F.col("_t1")))
    interp = pre_d + (post_d - pre_d) * frac
    both = pre_d.isNotNull() & post_d.isNotNull()
    height = (
        F.when(both & (z >= 1.96), interp)
         .when(both, (pre_d + post_d) / 2.0)
         .when(pre_d.isNotNull(), pre_d)
         .when(post_d.isNotNull(), post_d)
    )
    y = F.col(y_col)
    calibrated = F.when(height.isNotNull(), y / height).otherwise(y)
    return (enriched.withColumn(y_col, calibrated)
            .drop("pre_d", "pre_u", "post_d", "post_u", "_t1", "_t2"))
