"""Integration operators — reference A1/A2/M7 (SURVEY.md §2.3, §2.5).

Continuum = sum over the channel (in-row array) axis; Spectrum = sum
over the time (row) axis; ON-OFF = spectrum(ON) - spectrum(OFF).

Every Spark spectrum (integrate_spectrum, on_off_spectrum and
pipeline.spectrum_pipeline_distributed) is the one aggregation
_signed_spectrum, with the reference's masked-sum NULL rule
(spectrum.py:63-69): a NULL DATA element (a NaN masked by validation
F6) is skipped, and a channel NULL in every row of its group sums to
NULL, not 0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def array_sum(col: Column) -> Column:
    """NULL-skipping in-order fold of an array<double> — NumPy
    masked-sum semantics (NaNs were masked to NULL by validation F6)."""
    return F.aggregate(
        col, F.lit(0.0),
        lambda acc, x: acc + F.coalesce(x.cast("double"), F.lit(0.0)),
    )


def integrate_continuum(df: DataFrame, epoch_ts: str | None = None,
                        keep_cols: list[str | Column] | None = None,
                        ) -> DataFrame:
    """Reference A1 (utils.py:105-118, mode 'continuum'): per row,
    t = DATE_OBS - header.DATE in seconds and intensity = sum(DATA).

    Pure per-row expressions — no shuffle, stays in whole-stage
    codegen; at 100 TB this is a map-only stage.
    """
    t0 = (F.lit(epoch_ts).cast("timestamp").cast("double")
          if epoch_ts is not None else F.lit(0.0))
    if keep_cols is None:
        keep_cols = [c for c in ("obs_id", "IFNUM", "PLNUM", "row_idx")
                     if c in df.columns]
    return df.select(
        *keep_cols,
        # cast via timestamp so both TimestampType columns and ISO-8601
        # strings (the FITS decode output) normalize identically (M11)
        (F.col("DATE_OBS").cast("timestamp").cast("double") - t0)
        .alias("t"),
        array_sum(F.col("DATA")).alias("intensity"),
    )


def _signed_spectrum(df: DataFrame, group_cols: list[str],
                     sign: Column) -> DataFrame:
    """sum(DATA[pos] * sign) per (group_cols..., pos): posexplode +
    groupBy, unsorted. Spark's sum skips NULL products, and a group
    with none left sums to NULL (the module's NULL rule)."""
    return (
        df.select(*group_cols, sign.alias("_sign"),
                  F.posexplode("DATA").alias("pos", "val"))
        .groupBy(*group_cols, "pos")
        .agg(F.sum(F.col("val") * F.col("_sign")).alias("intensity"))
    )


def integrate_spectrum(df: DataFrame,
                       group_cols: list[str] | None = None) -> DataFrame:
    """Reference A2 (utils.py:120-124, mode 'spectrum'): element-wise
    sum of DATA vectors across rows -> one row per channel position,
    ordered by (group_cols..., pos).

    posexplode + groupBy(pos): the single shuffle is keyed by
    (group..., pos) — with n_channels in the thousands and group keys
    carrying observation/stream ids, key cardinality is high and
    uniform, so the shuffle is well balanced. Partial aggregation
    (map-side combine) means the shuffle volume is
    O(groups x channels), independent of row count.
    """
    group_cols = group_cols or []
    return _signed_spectrum(df, group_cols, F.lit(1.0)) \
        .orderBy(*group_cols, "pos")


def on_off_spectrum(df: DataFrame, on_pred: Column) -> DataFrame:
    """Reference M7 (spectrum.py:63-67): spectrum(ON) - spectrum(OFF)
    element-wise, ordered by pos, as ONE aggregation with a +1/-1 row
    sign instead of two aggregations and a join."""
    sign = F.when(on_pred, F.lit(1.0)).otherwise(F.lit(-1.0))
    return _signed_spectrum(df, [], sign).orderBy("pos")
