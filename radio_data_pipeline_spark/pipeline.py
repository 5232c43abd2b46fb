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
the time and frequency crops as Spark predicates, then ONE
mapInPandas over the observation's single partition that runs the
same continuum body and the spectrum as a NumPy column sum, collected
once — one Spark job and no shuffle. ``reduce_sdfits`` reads the
header on the driver from the file's leading blocks and validates the
file first; its validated rows are a lazy local checkpoint that the
kernel's job fills, so a later action on them (the atmosphere
correction) reads those blocks instead of decoding the file again.
The corpus spectrum stays the posexplode: computed in NumPy by the
continuum's groupBy(obs_id) kernel instead, with equal outputs, it
made the corpus_faulty op 1.214 s median against 1.115 s (13
interleaved rounds, seed 1, 4 vCPUs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radio_data_pipeline_spark.operators.calibration import (
    fit_segment,
    gain_calibrate,
    height_from_fits,
)
from radio_data_pipeline_spark.operators.filters import (
    filter_frequency_ranges,
    filter_time_ranges,
)
from radio_data_pipeline_spark.operators.header import ObservationHeader
from radio_data_pipeline_spark.operators.integrate import (
    _signed_spectrum,
    integrate_continuum,
)
from radio_data_pipeline_spark.operators.segmentation import (
    SEGMENT_COLS,
    STREAM_COLS,
    segment_observation,
)


def _reduce_stream_continuum(s: pd.DataFrame, data_start: int,
                             post_cal: int) -> pd.DataFrame:
    """One stream's gain-calibrated science continuum, rows in file
    order, from its segmentation indices (O13/O15): per-(segment,
    CALSTATE) robust fits of the SWPVALID==0 cal rows (M2-M4) ->
    calibration heights (M5) -> gain division (M6)."""
    cal = s["CALSTATE"].to_numpy()
    swp = s["SWPVALID"].to_numpy()
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


def _spectrum_sum(s: pd.DataFrame, off_start: int | None) -> np.ndarray:
    """One stream's spectrum (A2/M7) in NumPy: the channel sum of the
    rows that carry DATA, rows at or after off_start (positional, as
    spectrum_pipeline_distributed) negated. A NULL element counts as
    nothing and a channel NULL in every row sums to NaN (NULL); no row
    with DATA gives no channels."""
    data = s["DATA"].to_numpy()
    has = s["DATA"].notna().to_numpy()
    if not has.any():
        return np.empty(0)
    sign = np.ones(len(s))
    if off_start is not None:
        sign[off_start:] = -1.0
    values = np.vstack(data[has]) * sign[has, None]
    total = np.nansum(values, axis=0)
    total[np.isnan(values).all(axis=0)] = np.nan
    return total


def _per_observation(pdf: pd.DataFrame, header_obsmode: str,
                     spectrum_stream: tuple[int, int] | None = None,
                     ) -> tuple[pd.DataFrame, np.ndarray | None]:
    """One observation's integrated rows -> (the gain-calibrated
    continuum of every stream, the spectrum of `spectrum_stream` or
    None): one segmentation pass serves both. The body of the corpus
    continuum kernel and of reduce_observation's kernel."""
    continua, spectrum = [], None
    for s, (data_start, post_cal, off) in segment_observation(
            pdf, header_obsmode):
        continua.append(_reduce_stream_continuum(s, data_start, post_cal))
        if (s["IFNUM"].iloc[0], s["PLNUM"].iloc[0]) == spectrum_stream:
            spectrum = _spectrum_sum(s, off)
    return pd.concat(continua, ignore_index=True), spectrum


def continuum_pipeline_distributed(df: DataFrame,
                                   header_obsmode: str = "track",
                                   ) -> DataFrame:
    """The corpus continuum: every (obs_id, IFNUM, PLNUM) stream of
    `df` reduced in ONE lineage with ZERO driver round-trips by one
    per-observation kernel.

    Returns (obs_id, IFNUM, PLNUM, t, intensity) for the science rows
    of every stream. t is seconds since the Unix epoch (one file's
    reduce_observation measures it from the header DATE), and
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
    rows = integrate_continuum(df, keep_cols=SEGMENT_COLS)
    schema = T.StructType([rows.schema[c]
                           for c in (*STREAM_COLS, "t", "intensity")])
    return rows.groupBy("obs_id").applyInPandas(
        lambda pdf: _per_observation(pdf, header_obsmode)[0], schema)


def spectrum_pipeline_distributed(df: DataFrame,
                                  header_obsmode: str = "track",
                                  ) -> DataFrame:
    """All-streams spectrum in one lineage: the ON-OFF subtraction (M7)
    folded into ONE signed aggregation — rows at or after a stream's
    first 'onoff:off' row contribute -value — so the reduction is the
    package's one spectrum aggregation (_signed_spectrum: posexplode +
    groupBy keyed on (stream, channel), a channel NULL in every row
    sums to NULL). Shuffle volume after map-side partial aggregation is
    O(streams x channels), independent of row count.

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
    return _signed_spectrum(filtered, STREAM_COLS, sign)


def reduce_observation(validated: DataFrame, header: ObservationHeader,
                       ifnum: int = 0, plnum: int = 0,
                       include_time=None, exclude_time=None,
                       include_freq=None, exclude_freq=None,
                       ) -> dict[str, DataFrame]:
    """One validated observation -> {"continuum", "spectrum"} for the
    (ifnum, plnum) stream, computed by ONE Spark job at call time and
    returned as small local DataFrames.

    The time (F3) and frequency (F4) crops apply to every stream of
    the file before the kernel. The continuum runs over all streams,
    so channel_count stays the file's distinct-IFNUM x distinct-PLNUM
    product (continuum.py:24-28), and the stream is selected (F1)
    after it: (obs_id, t, intensity) with t in seconds since the
    header DATE. The spectrum is (pos, frequency, intensity), ordered
    by pos; in onoff mode rows at or after the stream's first
    'onoff:off' row count as OFF (spectrum.py:64-65), and a channel
    with no non-NULL value sums to NULL.

    Shape: one select carries the narrow stream columns, t and the
    channel sum (integrate_continuum's expressions, t since the header
    DATE, on which the cal fits run as the reference's do), and DATA
    only on the selected stream's CALSTATE=0 & SWPVALID=0 rows, so
    Arrow moves only the vectors the spectrum sums. coalesce(1) puts
    the observation in one task without a shuffle, and one mapInPandas
    runs _per_observation on it, one output row per obs_id. The
    products are collected once because a lazy form would re-run the
    decode for each of them.
    """
    data = validated
    if include_time or exclude_time:
        data = filter_time_ranges(data, include_time, exclude_time)
    freqs = header.frequencies(ifnum)
    if include_freq or exclude_freq:
        data, freqs = filter_frequency_ranges(data, freqs, include_freq,
                                              exclude_freq)
    spectrum_rows = ((F.col("IFNUM") == ifnum) & (F.col("PLNUM") == plnum)
                     & (F.col("CALSTATE") == 0) & (F.col("SWPVALID") == 0))
    rows = integrate_continuum(data, epoch_ts=header.date, keep_cols=[
        *SEGMENT_COLS, F.when(spectrum_rows, F.col("DATA")).alias("DATA")])

    def kernel(batches):
        batches = list(batches)
        if not batches:
            return
        for obs_id, obs in pd.concat(batches).groupby("obs_id"):
            cont, spectrum = _per_observation(obs, header.obsmode,
                                              (ifnum, plnum))
            cont = cont[(cont["IFNUM"] == ifnum) & (cont["PLNUM"] == plnum)]
            yield pd.DataFrame({
                "obs_id": [obs_id],
                "t": [cont["t"].to_numpy()],
                "intensity": [cont["intensity"].to_numpy()],
                "spectrum": [np.empty(0) if spectrum is None
                             else spectrum[:len(freqs)]]})

    out = (rows.coalesce(1)
           .mapInPandas(kernel, "obs_id long, t array<double>, "
                        "intensity array<double>, spectrum array<double>")
           .collect())
    continuum = pd.DataFrame(
        [(r["obs_id"], t, y) for r in out
         for t, y in zip(r["t"], r["intensity"])],
        columns=["obs_id", "t", "intensity"])
    spectrum = pd.DataFrame(
        [(pos, freqs[pos], y) for r in out
         for pos, y in enumerate(r["spectrum"])],
        columns=["pos", "frequency", "intensity"]
    ).sort_values("pos", kind="stable")
    spark = validated.sparkSession
    return {
        "continuum": spark.createDataFrame(
            continuum, "obs_id long, t double, intensity double"),
        "spectrum": spark.createDataFrame(
            spectrum, "pos int, frequency double, intensity double"),
    }


def reduce_sdfits(spark, path: str, ifnum: int = 0, plnum: int = 0,
                  include_time=None, exclude_time=None,
                  include_freq=None, exclude_freq=None,
                  ) -> dict[str, DataFrame]:
    """The reference's full entry point (main.py:20-47) for one SDFITS
    file: header read -> scan (S1/S2) -> validation ->
    reduce_observation.

    Returns {"validated": ..., "continuum": ..., "spectrum": ...}:
    one Spark job at call time computes the two products, and
    validated stays lazy. validated is a localCheckpoint(eager=False)
    of the validation, which starts no job of its own: the kernel's job
    computes it and keeps its blocks on the executors, so a later
    action on validated reads them and does not decode the file again.
    The blocks are freed when validated is garbage collected. On a
    cluster they live on one executor each, so if that executor is
    lost a later use of validated fails (local checkpoints are not
    recomputed). The header is read on the driver from the
    file's leading blocks (read_sdfits_header), with no Spark job.
    `path` must match exactly one file (ValueError otherwise): the
    products are one observation's, like the reference — reduce a
    corpus with continuum_pipeline_distributed /
    spectrum_pipeline_distributed. channel_count (the false-start
    threshold) is counted after the time crop, so it differs from the
    whole file's only when the crop removes every row of some IFNUM or
    PLNUM value."""
    from radio_data_pipeline_spark.operators.validation import (
        validate_observation,
    )
    from radio_data_pipeline_spark.sources.fits import (
        read_sdfits,
        read_sdfits_header,
    )

    header = ObservationHeader.from_fits(*read_sdfits_header(spark, path))
    raw = read_sdfits(spark, path)
    validated = validate_observation(
        raw, channel_window=header.channel_window).localCheckpoint(eager=False)
    return {"validated": validated,
            **reduce_observation(validated, header, ifnum, plnum,
                                 include_time, exclude_time,
                                 include_freq, exclude_freq)}
