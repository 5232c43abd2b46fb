"""Validation operators — reference validate.py (SURVEY.md §2.2 F5-F7,
§2.5 M11, §2.1 S2).

The reference validates one file eagerly and prints failures
(validate.py:48-49, 69-70); here validation is a lazy transformation,
and a corrupt file surfaces from the FITS reader's failfast mode
(sources/fits.py) as an error instead of a silent print.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Columns the reference checks for non-negativity (validate.py:56-57).
PHYSICAL_COLUMNS = [
    "TSYS", "TCAL", "ELEVATIO", "TAMBIENT", "PRESSURE", "HUMIDITY",
    "DURATION", "EXPOSURE", "LST", "RESTFREQ", "FREQRES", "TRGTLONG",
    "MJD", "UTSECS",
]


def mask_nan_values(df: DataFrame) -> DataFrame:
    """Reference F6 (validate.py:25-37): mask (not drop) NaN elements
    of the DATA vector. NaN -> NULL so downstream array sums skip them
    exactly like NumPy masked sums do."""
    return df.withColumn(
        "DATA",
        F.transform("DATA",
                    lambda x: F.when(F.isnan(x), F.lit(None)).otherwise(x)),
    )


def physical_filter(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Reference F5 (validate.py:51-70): drop rows where any present
    physical column is negative. The reference filters column-by-column
    sequentially and skips absent columns with a warning; here it is
    one conjunctive predicate over the intersection with the actual
    schema, which Catalyst pushes into the scan. The predicate is
    built as one SQL string: one py4j call instead of several per
    column."""
    columns = PHYSICAL_COLUMNS if columns is None else columns
    present = set(df.columns)
    return df.filter(F.expr(" AND ".join(
        ["true"] + [f"(`{c}` IS NULL OR `{c}` >= 0)"
                    for c in columns if c in present])))


def valid_timestamp_flag(df: DataFrame) -> DataFrame:
    """Reference M11 validation (validate.py:39-49): the reference only
    *prints* unparseable DATE-OBS values; we surface a boolean
    `_ts_valid` flag so callers can count/quarantine bad rows without a
    driver round-trip."""
    col = F.col("DATE_OBS")
    if dict(df.dtypes)["DATE_OBS"] in ("timestamp", "timestamp_ntz"):
        return df.withColumn("_ts_valid", col.isNotNull())
    return df.withColumn("_ts_valid", F.try_to_timestamp(col).isNotNull())


def crop_channels(df: DataFrame, start: int, stop: int,
                  data_col: str = "DATA") -> DataFrame:
    """Reference F7 (validate.py:72-102): slice every DATA vector to
    the [start, stop] channel window from the 'START,STOP channels'
    header card. Spark slice() is 1-based; reference slicing is
    0-based inclusive of stop (data[start:stop+1], validate.py:102)."""
    return df.withColumn(data_col,
                         F.slice(F.col(data_col), start + 1, stop - start + 1))


def validate_observation(df: DataFrame,
                         channel_window: tuple[int, int] | None = None,
                         ) -> DataFrame:
    """Full validation stage (validate.py:104-127): NaN mask ->
    timestamp flag -> physicality filter -> channel crop. Lazy; one
    pass over the data when an action runs."""
    out = mask_nan_values(df)
    out = valid_timestamp_flag(out)
    out = physical_filter(out)
    if channel_window is not None:
        out = crop_channels(out, *channel_window)
    return out


def physical_filter_observed(df: DataFrame):
    """`physical_filter` plus pipeline observability: returns
    (filtered_df, Observation) where the Observation reports — from
    the SAME pass that executes the query, at zero extra cost —
    `n_input` rows seen and `n_negative` rows the filter dropped.

    The reference prints validation complaints as side effects
    (validate.py:69-70); `df.observe` is the Spark-native replacement:
    accumulator-style metrics attached to the lineage, collected on
    ANY action, no second scan, works identically on a 1000-executor
    cluster. Read `obs.get` after an action on the returned frame.
    """
    from pyspark.sql import Observation

    cols = [c for c in PHYSICAL_COLUMNS if c in df.columns]
    bad = None
    for c in cols:
        neg = (F.col(c) < 0) & F.col(c).isNotNull()
        bad = neg if bad is None else (bad | neg)
    if bad is None:
        bad = F.lit(False)
    obs = Observation("physical_validation")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        # coalesce: SUM over zero rows is NULL — an empty input must
        # report 0 dropped, not None (monitoring does `> 0` checks)
        F.coalesce(F.sum(bad.cast("long")), F.lit(0))
        .alias("n_negative"))
    return physical_filter(observed), obs
