"""End-to-end reduction pipelines — the Spark equivalents of the
reference entry points (SURVEY.md §3).

The corpus forms reduce every (obs_id, IFNUM, PLNUM) stream at once
with no driver round-trip:

- ``continuum_pipeline_distributed``: one per-observation kernel
  (segmentation, robust cal fits, calibration heights and gain in
  NumPy) over the Spark-integrated rows — Continuum(...).continuum()
  (continuum.py:140-191);
- ``spectrum_pipeline_distributed``: one signed posexplode
  aggregation, the off transition a per-stream window —
  Spectrum(...).spectrum() (spectrum.py:46-71).

``reduce_observation`` is the one-observation form (main.py:20-47):
the same two kernels on one validated file, with the time and
frequency crops applied before them and one stream selected after;
``reduce_sdfits`` reads and validates the file first.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radio_data_pipeline_spark.operators.calibration import (
    STREAM_COLS,
    fit_segment,
    gain_calibrate,
    height_from_fits,
)
from radio_data_pipeline_spark.operators.filters import (
    filter_frequency_ranges,
    filter_time_ranges,
)
from radio_data_pipeline_spark.operators.header import ObservationHeader
from radio_data_pipeline_spark.operators.integrate import integrate_continuum
from radio_data_pipeline_spark.operators.segmentation import (
    find_calibration_indices,
)


def _reduce_stream_continuum(s: pd.DataFrame, header_obsmode: str,
                             channel_count: int) -> pd.DataFrame:
    """One stream's gain-calibrated science continuum, rows in file
    order: segmentation (O13/O15) -> per-(segment, CALSTATE) robust
    fits of the SWPVALID==0 cal rows (M2-M4) -> calibration heights
    (M5) -> gain division (M6)."""
    cal = s["CALSTATE"].to_numpy()
    swp = s["SWPVALID"].to_numpy()
    data_start, post_cal, _off = find_calibration_indices(
        cal, swp, s["OBSMODE"].tolist(), header_obsmode, channel_count)
    pos = np.arange(len(s))
    t = s["t"].to_numpy(dtype=float)
    y = s["intensity"].to_numpy(dtype=float)
    pre = pos < data_start
    post = ~pre & (pos >= post_cal)
    heights = []
    for segment in (pre, post):
        halves = {}
        for state in (0, 1):
            rows = segment & (swp == 0) & (cal == state)
            if rows.any():
                halves[state] = fit_segment(t[rows], y[rows])
        heights.append(height_from_fits(halves.get(1), halves.get(0)))
    science = ~pre & ~post
    return s.loc[science, [*STREAM_COLS, "t"]].assign(
        intensity=gain_calibrate(t[science], y[science], *heights))


def continuum_pipeline_distributed(df: DataFrame,
                                   header_obsmode: str = "track",
                                   ) -> DataFrame:
    """The corpus continuum: every (obs_id, IFNUM, PLNUM) stream of
    `df` reduced in ONE lineage with ZERO driver round-trips by one
    per-observation kernel.

    Returns (obs_id, IFNUM, PLNUM, t, intensity) for the science rows
    of every stream. t is seconds since the Unix epoch (one file's
    reduce_observation rebases it on the header date), and
    channel_count is each observation's own distinct-IFNUM x
    distinct-PLNUM product (continuum.py:24-28). Time and frequency
    crops are predicates applied to `df` upstream (reduce_observation).

    Shape: t and the channel sum are the same Spark expressions as
    integrate_continuum, so no DATA array crosses into Python; one
    groupBy(obs_id).applyInPandas then runs segmentation, the robust
    cal fits, the calibration heights and the gain division per
    stream in NumPy. One SDFITS file is one observation — a few
    hundred narrow rows per group — and the only shuffle is keyed on
    the observation id.
    """
    rows = integrate_continuum(
        df, keep_cols=[*STREAM_COLS, "row_idx", "CALSTATE", "SWPVALID",
                       "OBSMODE"])
    schema = T.StructType([rows.schema[c]
                           for c in (*STREAM_COLS, "t", "intensity")])

    def per_observation(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([*STREAM_COLS, "row_idx"])
        channel_count = pdf["IFNUM"].nunique() * pdf["PLNUM"].nunique()
        return pd.concat(
            [_reduce_stream_continuum(s, header_obsmode, channel_count)
             for _, s in pdf.groupby(["IFNUM", "PLNUM"], sort=False)],
            ignore_index=True)

    return rows.groupBy("obs_id").applyInPandas(per_observation, schema)


def spectrum_pipeline_distributed(df: DataFrame,
                                  header_obsmode: str = "track",
                                  ) -> DataFrame:
    """All-streams spectrum in one lineage: the ON-OFF subtraction (M7)
    folded into ONE signed aggregation — rows at or after a stream's
    first 'onoff:off' row contribute -value — so the reduction is a
    single posexplode + groupBy keyed on (stream, channel). Shuffle
    volume after map-side partial aggregation is O(streams x channels),
    independent of row count.

    The off transition (O14) is a per-stream window min(row_idx) over
    the 'onoff:off' rows, taken before the CALSTATE/SWPVALID filter, so
    the spectrum needs no segmentation pass of its own.

    Returns (obs_id, IFNUM, PLNUM, pos, intensity); join the per-ifnum
    frequency axis (header.frequencies) on pos downstream."""
    sign = F.lit(1.0)
    if header_obsmode == "onoff":
        off_start = F.min(F.when(F.col("OBSMODE").contains("onoff:off"),
                                 F.col("row_idx"))) \
            .over(Window.partitionBy(*STREAM_COLS))
        df = df.withColumn("_off_start", off_start)
        sign = F.when(F.col("row_idx") >= F.col("_off_start"),
                      F.lit(-1.0)).otherwise(F.lit(1.0))
    filtered = df.filter((F.col("CALSTATE") == 0) & (F.col("SWPVALID") == 0))
    return (
        filtered.select(*STREAM_COLS, sign.alias("_sign"),
                        F.posexplode("DATA").alias("pos", "val"))
        .groupBy(*STREAM_COLS, "pos")
        .agg(F.sum(F.col("val") * F.col("_sign")).alias("intensity"))
    )


def reduce_observation(validated: DataFrame, header: ObservationHeader,
                       ifnum: int = 0, plnum: int = 0,
                       include_time=None, exclude_time=None,
                       include_freq=None, exclude_freq=None,
                       ) -> dict[str, DataFrame]:
    """One validated observation -> {"continuum", "spectrum"} for the
    (ifnum, plnum) stream, both lazy, no driver round-trip.

    The time (F3) and frequency (F4) crops apply to every stream of
    the file before either kernel. The continuum kernel runs over all
    streams, so channel_count stays the file's distinct-IFNUM x
    distinct-PLNUM product (continuum.py:24-28), and the stream is
    selected (F1) after it: (obs_id, t, intensity) with t in seconds
    since the header DATE. The spectrum is (pos, frequency,
    intensity), ordered by pos; in onoff mode rows at or after the
    stream's first 'onoff:off' row count as OFF (spectrum.py:64-65),
    and a channel with no non-NULL value sums to NULL.
    """
    data = validated
    if include_time or exclude_time:
        data = filter_time_ranges(data, include_time, exclude_time)
    freqs = header.frequencies(ifnum)
    if include_freq or exclude_freq:
        data, freqs = filter_frequency_ranges(data, freqs, include_freq,
                                              exclude_freq)
    stream = (F.col("IFNUM") == ifnum) & (F.col("PLNUM") == plnum)
    t0 = F.lit(header.date).cast("timestamp").cast("double")
    continuum = (continuum_pipeline_distributed(data, header.obsmode)
                 .filter(stream)
                 .select("obs_id", (F.col("t") - t0).alias("t"),
                         "intensity"))
    # frequency axis as a broadcast (pos, frequency) join, NOT an
    # N-channel literal array expression: at HIRES widths (16k+
    # channels) a literal F.array(...) is a giant expression tree —
    # the measured codegen-blowup failure mode (BENCH_SCALING.md §4).
    freq_df = validated.sparkSession.createDataFrame(
        [(i, float(f)) for i, f in enumerate(freqs)],
        "pos int, frequency double")
    spectrum = (spectrum_pipeline_distributed(data.filter(stream),
                                              header.obsmode)
                .join(F.broadcast(freq_df), "pos")
                .select("pos", "frequency", "intensity")
                .orderBy("pos"))
    return {"continuum": continuum, "spectrum": spectrum}


def reduce_sdfits(spark, path: str, ifnum: int = 0, plnum: int = 0,
                  include_time=None, exclude_time=None,
                  include_freq=None, exclude_freq=None,
                  ) -> dict[str, DataFrame]:
    """The reference's full entry point (main.py:20-47) for one SDFITS
    file: header pass -> scan (S1/S2) -> validation ->
    reduce_observation.

    Returns {"validated": ..., "continuum": ..., "spectrum": ...}, all
    lazy; the header pass is the one eager step. `path` must
    match exactly one file (ValueError otherwise): the products are
    one observation's, like the reference — reduce a corpus with
    continuum_pipeline_distributed / spectrum_pipeline_distributed.
    channel_count (the false-start threshold) is counted after the
    time crop, so it differs from the whole file's only when the crop
    removes every row of some IFNUM or PLNUM value."""
    from radio_data_pipeline_spark.operators.validation import (
        validate_observation,
    )
    from radio_data_pipeline_spark.sources.fits import (
        read_sdfits,
        read_sdfits_headers,
    )
    import json

    hdr_rows = read_sdfits_headers(spark, path).collect()
    if len(hdr_rows) != 1:
        raise ValueError(f"reduce_sdfits reduces one SDFITS file; "
                         f"{path!r} matched {len(hdr_rows)}")
    header = ObservationHeader.from_fits(
        json.loads(hdr_rows[0]["header_json"]),
        json.loads(hdr_rows[0]["history_json"]))

    raw = read_sdfits(spark, path)
    validated = validate_observation(raw, channel_window=header.channel_window)
    return {"validated": validated,
            **reduce_observation(validated, header, ifnum, plnum,
                                 include_time, exclude_time,
                                 include_freq, exclude_freq)}
