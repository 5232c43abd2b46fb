"""End-to-end reduction pipelines — the Spark equivalents of the
reference entry points (SURVEY.md §3):

- ``continuum_pipeline``  = Continuum(...).continuum()  (continuum.py:140-191)
- ``spectrum_pipeline``   = Spectrum(...).spectrum()    (spectrum.py:46-71)

Each is a composition of lazy transformations; the only driver
round-trips are the per-segment calibration-height scalars (M5/M6),
matching SURVEY §3's lifecycle note.

The corpus forms reduce every (obs_id, IFNUM, PLNUM) stream at once
with no driver round-trip:

- ``continuum_pipeline_distributed``: one per-observation kernel
  (segmentation, robust cal fits, calibration heights and gain in
  NumPy) over the Spark-integrated rows;
- ``spectrum_pipeline_distributed``: one signed posexplode
  aggregation, the off transition a per-stream window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radio_data_pipeline_spark.operators.calibration import (
    STREAM_COLS,
    apply_gain_calibration,
    calibration_height,
    fit_segment,
    gain_calibrate,
    height_from_fits,
    rcr_fit_segments,
)
from radio_data_pipeline_spark.operators.filters import (
    filter_frequency_ranges,
    filter_time_ranges,
    select_stream,
)
from radio_data_pipeline_spark.operators.header import ObservationHeader
from radio_data_pipeline_spark.operators.integrate import (
    integrate_continuum,
    integrate_spectrum,
    on_off_spectrum,
)
from radio_data_pipeline_spark.operators.segmentation import (
    find_calibration_indices,
    find_calibrations,
    label_segments,
)


def _prepare(df: DataFrame, header: ObservationHeader, ifnum: int, plnum: int,
             include_time=None, exclude_time=None,
             include_freq=None, exclude_freq=None,
             extra_predicate=None):
    """Shared front half: stream count (A3 on the UNFILTERED input,
    continuum.py:24-28) -> stream select (F1) -> time crop (F3) ->
    frequency crop / axis derivation (F4/P2)."""
    # reference semantics (continuum.py:26-28): channel_count is the
    # PRODUCT len(unique IFNUM) * len(unique PLNUM), not the count of
    # observed (IFNUM, PLNUM) pairs — they diverge when some stream
    # combinations are missing, shifting the 3*channel_count
    # false-start threshold in the segmentation state machine.
    # Returned as a THUNK: only the continuum path needs it, and the
    # aggregate is a full-input scan the spectrum path must not pay
    def stream_count() -> int:
        row = df.agg(F.countDistinct("IFNUM").alias("i"),
                     F.countDistinct("PLNUM").alias("p")).first()
        return row["i"] * row["p"]
    out = select_stream(df, ifnum, plnum)
    if extra_predicate is not None:
        out = out.filter(extra_predicate)
    if include_time or exclude_time:
        out = filter_time_ranges(out, "DATE_OBS", include_time, exclude_time)
    frequencies = header.frequencies(ifnum)
    if include_freq or exclude_freq:
        out, frequencies = filter_frequency_ranges(
            out, frequencies, include_freq, exclude_freq)
    return out, frequencies, stream_count


def continuum_pipeline(df: DataFrame, header: ObservationHeader,
                       ifnum: int = 0, plnum: int = 0,
                       include_time=None, exclude_time=None,
                       include_freq=None, exclude_freq=None) -> DataFrame:
    """Full gain-calibrated continuum: returns (obs_id, t, intensity).

    Stage map (continuum.py:140-191): crops -> find_calibrations (O13)
    -> segment labels (O15) -> per-segment diode on/off integration
    (F2+A1) -> robust fits (M2/M3/M4) -> calibration heights (M5) ->
    science integration (A1) -> gain calibration (M6).
    """
    data, _freqs, stream_count = _prepare(
        df, header, ifnum, plnum, include_time, exclude_time,
        include_freq, exclude_freq)

    indices = find_calibrations(data, channel_count=stream_count(),
                                header_obsmode=header.obsmode)
    # lazy localCheckpoint, not cache(): the subtree feeds cal_rows
    # AND science, and checkpoint blocks are released by the
    # ContextCleaner when the frame is collected — an unpersist-less
    # cache would accumulate across a corpus loop (same rule as
    # continuum_pipeline_distributed)
    labeled = label_segments(data, indices).localCheckpoint(eager=False)

    # Calibration segments: diode on/off split (F2: SWPVALID==0 within
    # the pre/post windows, continuum.py:51-59) -> continuum integrate.
    cal_rows = labeled.filter(
        F.col("segment").isin("pre_cal", "post_cal")
        & (F.col("SWPVALID") == 0))
    cal_cont = integrate_continuum(cal_rows, epoch_ts=header.date,
                                   keep_cols=["obs_id", "IFNUM", "PLNUM",
                                              "segment", "CALSTATE"])
    fits = rcr_fit_segments(cal_cont).toPandas()

    pre = calibration_height(fits[fits["segment"] == "pre_cal"])
    post = calibration_height(fits[fits["segment"] == "post_cal"])

    science = labeled.filter(F.col("segment") == "science")
    cont = integrate_continuum(science, epoch_ts=header.date,
                               keep_cols=["obs_id"])
    return apply_gain_calibration(cont, pre, post)


def spectrum_pipeline(df: DataFrame, header: ObservationHeader,
                      ifnum: int = 0, plnum: int = 0,
                      include_time=None, exclude_time=None,
                      include_freq=None, exclude_freq=None) -> DataFrame:
    """ON-OFF (or plain) spectrum: returns (pos, frequency, intensity).

    Stage map (spectrum.py:46-71): stream + CALSTATE==0 & SWPVALID==0
    pre-filter (F1+F2, spectrum.py:31-32) -> crops -> off transition
    (O14) -> A2 integration with ON-OFF subtraction (M7).
    """
    pred = (F.col("CALSTATE") == 0) & (F.col("SWPVALID") == 0)
    data, freqs, _stream_count = _prepare(
        df, header, ifnum, plnum, include_time, exclude_time,
        include_freq, exclude_freq, extra_predicate=pred)

    if header.obsmode == "onoff":
        # Falsy-index quirk (spectrum.py:63): the reference treats an
        # off-transition at row 0 the same as "no transition"; we treat
        # any non-null transition as real (documented divergence).
        spec = on_off_spectrum(data, on_pred=~F.col("OBSMODE")
                               .contains("onoff:off"))
    else:
        spec = integrate_spectrum(data)

    # frequency axis as a broadcast (pos, frequency) join, NOT an
    # N-channel literal array expression: at HIRES widths (16k+
    # channels) a literal F.array(...) is a giant expression tree —
    # the measured codegen-blowup failure mode (BENCH_SCALING.md §4).
    # The axis is one tiny driver-built table; the join is a broadcast
    # hash join on pos, constant-size no matter the channel count.
    freq_df = df.sparkSession.createDataFrame(
        [(i, float(f)) for i, f in enumerate(freqs)],
        "pos int, frequency double")
    return (spec.join(F.broadcast(freq_df), "pos")
            .select("pos", "frequency", "intensity")
            .orderBy("pos"))


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
    of every stream. Differences vs continuum_pipeline (the
    single-observation reference shape): no time/frequency crops (those
    are per-header driver parameters; apply them upstream per
    observation group if needed), t is seconds since the epoch rather
    than since the header date, and channel_count is each
    observation's own distinct-IFNUM x distinct-PLNUM product
    (continuum.py:24-28).

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

    def reduce_observation(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([*STREAM_COLS, "row_idx"])
        channel_count = pdf["IFNUM"].nunique() * pdf["PLNUM"].nunique()
        return pd.concat(
            [_reduce_stream_continuum(s, header_obsmode, channel_count)
             for _, s in pdf.groupby(["IFNUM", "PLNUM"], sort=False)],
            ignore_index=True)

    return rows.groupBy("obs_id").applyInPandas(reduce_observation, schema)


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


def reduce_sdfits(spark, path: str, ifnum: int = 0, plnum: int = 0,
                  include_time=None, exclude_time=None,
                  include_freq=None, exclude_freq=None,
                  ) -> dict[str, DataFrame]:
    """The reference's full entry point (main.py:20-47) for one SDFITS
    file: scan (S1/S2) -> validation -> continuum + spectrum products.

    Returns {"validated": ..., "continuum": ..., "spectrum": ...} —
    all lazy except the calibration-height scalar fetch inside
    continuum_pipeline. Multi-file globs work for the validated scan;
    the reduction products assume one observation per call, like the
    reference (loop over files for a corpus, or use the operators
    directly for the fully-distributed path)."""
    from radio_data_pipeline_spark.operators.header import ObservationHeader
    from radio_data_pipeline_spark.operators.validation import (
        validate_observation,
    )
    from radio_data_pipeline_spark.sources.fits import (
        read_sdfits,
        read_sdfits_headers,
    )
    import json

    hdr_row = read_sdfits_headers(spark, path).collect()[0]
    header = ObservationHeader.from_fits(
        json.loads(hdr_row["header_json"]),
        json.loads(hdr_row["history_json"]))

    raw = read_sdfits(spark, path)
    validated = validate_observation(raw, channel_window=header.channel_window)
    kw = dict(include_time=include_time, exclude_time=exclude_time,
              include_freq=include_freq, exclude_freq=exclude_freq)
    return {
        "validated": validated,
        "continuum": continuum_pipeline(validated, header, ifnum, plnum,
                                        **kw),
        "spectrum": spectrum_pipeline(validated, header, ifnum, plnum,
                                      **kw),
    }
