"""Calibration-segment detection — reference O13/O14/O15
(utils.py:126-214, SURVEY.md §2.4): the ordered, stateful core of the
pipeline.

Spark strategy (SURVEY §7 step 5): the state machine runs per
observation stream via ``applyInPandas`` — each (obs_id, IFNUM, PLNUM)
group is one telescope observation (thousands of rows, never more than
fits in one task), sorted in-group by row_idx, scanned sequentially.
The shuffle is keyed by the observation id, so a 100 TB corpus of
millions of observations parallelizes perfectly; no single group ever
approaches executor memory.

Documented divergences from the reference (intended semantics, pinned
by tests):
- the reference's ``and data_start_ind`` truthiness check
  (utils.py:171) treats a data start at index 0 as "not started"; we
  use an explicit None check;
- ``if not post_cal_start_ind`` (utils.py:200) coerces a legitimate
  post-cal start at index 0 to len-1; we use an explicit None check.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GROUP_COLS = ["obs_id", "IFNUM", "PLNUM"]


def _scan_post_cal(swpvalid: np.ndarray, calstate: np.ndarray) -> int | None:
    """Fallback-path post-cal scan (utils.py:184-198): track the start
    of the current run of >=2 consecutive SWPVALID==0 rows (any break
    resets it — blip tolerance), stopping at the first cal spike."""
    post: int | None = None
    for ind in range(len(swpvalid)):
        if ind > 0 and swpvalid[ind] == 0 and swpvalid[ind - 1] == 0:
            if post is None:
                post = ind - 1
        else:
            post = None
        if swpvalid[ind] == 0 and calstate[ind] == 1:
            break
    return post


def find_calibration_indices(calstate: np.ndarray, swpvalid: np.ndarray,
                             obsmode: Iterable[str], header_obsmode: str,
                             channel_count: int,
                             ) -> tuple[int | None, int, int | None]:
    """The per-observation state machine (single sequential pass).

    Returns (data_start, post_cal_start, off_start):
    - data_start: first CALSTATE==0 & SWPVALID==1 row after a cal spike
      (None if no cal spike at all and the fallback path is used ->
      0);
    - post_cal_start: first row of the trailing >=2-run of SWPVALID==0
      (defaults to len-1);
    - off_start: first row whose OBSMODE contains 'onoff:off' (only
      for onoff observations).

    Tentative science segments with <= 3*channel_count valid rows
    before the sweep drops are discarded as false starts
    (utils.py:166-173); channel_count is the number of (IFNUM, PLNUM)
    streams in the file — the reference's naming quirk, kept
    (continuum.py:28).
    """
    n = len(calstate)
    data_start: int | None = None
    post_cal: int | None = None
    counter = 0
    cal_started = False
    pre_cal_complete = False

    for ind in range(n):
        if calstate[ind] == 1:
            cal_started = True
        if (cal_started and calstate[ind] == 0 and swpvalid[ind] == 1
                and not pre_cal_complete):
            data_start = ind
            pre_cal_complete = True
        if (ind > 0 and pre_cal_complete and swpvalid[ind] == 0
                and swpvalid[ind - 1] == 0):
            if post_cal is None:
                post_cal = ind - 1
        else:
            post_cal = None
        if pre_cal_complete and calstate[ind] == 0 and swpvalid[ind] == 1:
            counter += 1
        if (counter <= 3 * channel_count and swpvalid[ind] == 0
                and data_start is not None):
            data_start = None
            pre_cal_complete = False
        if pre_cal_complete and swpvalid[ind] == 0 and calstate[ind] == 1:
            break

    if not pre_cal_complete:
        # Fallback (utils.py:180-198): no pre-cal spike — science
        # starts at row 0; re-scan for the post-cal run only.
        data_start = 0
        post_cal = _scan_post_cal(swpvalid, calstate)

    if post_cal is None:
        post_cal = n - 1

    off_start: int | None = None
    if header_obsmode == "onoff":
        for ind, mode in enumerate(obsmode):
            if mode is not None and "onoff:off" in mode:
                off_start = ind
                break

    return data_start, post_cal, off_start


_RESULT_SCHEMA = T.StructType([
    T.StructField("obs_id", T.LongType()),
    T.StructField("IFNUM", T.IntegerType()),
    T.StructField("PLNUM", T.IntegerType()),
    T.StructField("data_start_idx", T.IntegerType()),
    T.StructField("post_cal_start_idx", T.IntegerType()),
    T.StructField("off_start_idx", T.IntegerType()),
])


def find_calibrations(df: DataFrame, channel_count: int | None = None,
                      header_obsmode: str = "track") -> DataFrame:
    """O13/O14 over every observation stream at once.

    channel_count=None computes the reference's definition — the
    PRODUCT len(unique IFNUM) * len(unique PLNUM) per obs
    (continuum.py:26-28), which differs from the count of observed
    (IFNUM, PLNUM) pairs when stream combinations are missing — with
    one tiny aggregate; the result joins back by obs_id (broadcast).
    """
    df = _with_channel_count(df, channel_count)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_idx")
        ds, pc, off = find_calibration_indices(
            pdf["CALSTATE"].to_numpy(),
            pdf["SWPVALID"].to_numpy(),
            pdf["OBSMODE"].tolist() if "OBSMODE" in pdf else [""] * len(pdf),
            header_obsmode,
            int(pdf["_cc"].iloc[0]),
        )
        return pd.DataFrame([{
            "obs_id": pdf["obs_id"].iloc[0],
            "IFNUM": pdf["IFNUM"].iloc[0],
            "PLNUM": pdf["PLNUM"].iloc[0],
            "data_start_idx": ds,
            "post_cal_start_idx": pc,
            "off_start_idx": off,
        }])

    cols = [c for c in df.columns
            if c in {*GROUP_COLS, "CALSTATE", "SWPVALID", "OBSMODE",
                     "row_idx", "_cc"}]
    return (df.select(*cols)
            .groupBy(*GROUP_COLS)
            .applyInPandas(run, schema=_RESULT_SCHEMA))


def _with_channel_count(df: DataFrame, channel_count: int | None) -> DataFrame:
    """Attach the reference's channel_count (product of distinct IFNUM
    and PLNUM counts per obs, continuum.py:26-28) as `_cc`."""
    if channel_count is None:
        counts = (df.groupBy("obs_id")
                  .agg((F.countDistinct("IFNUM") *
                        F.countDistinct("PLNUM")).alias("_cc")))
        return df.join(counts, "obs_id")
    return df.withColumn("_cc", F.lit(channel_count))


def find_calibrations_compiled(df: DataFrame,
                               channel_count: int | None = None,
                               header_obsmode: str = "track") -> DataFrame:
    """O13/O14 compiled to pure window functions — NO Python stage.

    The general state machine is not window-compilable: the
    false-start discard (utils.py:166-173) resets ``data_start`` and
    restarts the search, so the accepted segment depends on a
    data-dependent number of restarts — an iterated fold, not a fixed
    window composition. But on streams where the discard can never
    fire (the overwhelmingly common clean-observation case), every
    state collapses to a window expression:

    - cal_started  = running max of CALSTATE;
    - data_start   = min pos with cal_started & CALSTATE=0 & SWPVALID=1;
    - break pos    = min pos >= data_start with SWPVALID=0 & CALSTATE=1;
    - post_cal     = start of the SWPVALID=0 run containing the break
      (or the trailing run when no break), if that run has >= 2 rows
      by then — gaps-and-islands via a running max over non-zero rows;
    - off_start    = min pos whose OBSMODE contains 'onoff:off'.

    Output adds `_eligible`: false when the stream has no pre-cal
    spike (the reference's rescan fallback path) or when any
    SWPVALID=0 row at pos in [data_start, break] sees a science-row
    count <= 3*channel_count — exactly the rows where the Python
    machine's discard counter (and hence a restart) can fire. Callers
    route ineligible streams to `find_calibrations` (the oracle);
    `find_calibrations_hybrid` does precisely that.

    Scale: one shuffle keyed by the observation stream; every window
    below shares that partitioning, so the whole operator adds zero
    exchanges over the applyInPandas form while staying entirely
    JVM-side (plan pinned by tests/test_plans_explain.py).
    """
    from pyspark.sql import Window

    w_ord = Window.partitionBy(*GROUP_COLS).orderBy("row_idx")
    w_all = Window.partitionBy(*GROUP_COLS)

    df = _with_channel_count(df, channel_count)
    cal = F.col("CALSTATE")
    swp = F.col("SWPVALID")

    staged = (
        df.withColumn("_pos", F.row_number().over(w_ord) - 1)
        .withColumn("_cal_started", F.max(cal).over(w_ord))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        # start of the current SWPVALID=0 run (zero rows only)
        .withColumn("_last_valid",
                    F.max(F.when(swp != 0, F.col("_pos"))).over(w_ord))
        .withColumn("_run_start",
                    F.when(swp == 0,
                           F.coalesce(F.col("_last_valid") + 1, F.lit(0))))
    )
    staged = staged.withColumn(
        "_ds",
        F.min(F.when((F.col("_cal_started") == 1) & (cal == 0) & (swp == 1),
                     F.col("_pos"))).over(w_all))
    staged = staged.withColumn(
        "_brk",
        F.min(F.when((F.col("_pos") >= F.col("_ds")) & (swp == 0)
                     & (cal == 1), F.col("_pos"))).over(w_all))
    staged = (
        staged
        .withColumn(
            "_sci_cnt",
            F.sum(F.when((F.col("_pos") >= F.col("_ds")) & (cal == 0)
                         & (swp == 1), 1).otherwise(0)).over(w_ord))
        .withColumn("_end", F.coalesce(F.col("_brk"), F.col("_n") - 1))
    )
    staged = (
        staged
        .withColumn(
            "_discard_here",
            ((F.col("_pos") >= F.col("_ds"))
             & (F.col("_pos") <= F.col("_end")) & (swp == 0)
             & (F.col("_sci_cnt") <= 3 * F.col("_cc"))).cast("int"))
        .withColumn(
            "_pc_raw",
            F.max(F.when((F.col("_pos") == F.col("_end")) & (swp == 0)
                         & (F.col("_pos") > F.col("_run_start")),
                         F.col("_run_start"))).over(w_all))
    )
    off = (F.min(F.when(F.col("OBSMODE").contains("onoff:off"),
                        F.col("_pos"))).over(w_all)
           if header_obsmode == "onoff" else F.lit(None).cast("int"))
    staged = staged.withColumn("_off", off)

    return (
        staged.groupBy(*GROUP_COLS)
        .agg(
            F.first("_ds").cast("int").alias("data_start_idx"),
            F.coalesce(F.first("_pc_raw"), F.first("_n") - 1)
             .cast("int").alias("post_cal_start_idx"),
            F.first("_off").cast("int").alias("off_start_idx"),
            ((F.first("_ds").isNotNull())
             & (F.max("_discard_here") == 0)).alias("_eligible"),
        )
    )


def find_calibrations_hybrid(df: DataFrame,
                             channel_count: int | None = None,
                             header_obsmode: str = "track") -> DataFrame:
    """O13 at scale: window-compiled fast path for every stream where
    the discard counter cannot fire, per-stream fallback to the
    applyInPandas state machine for the rest (no-spike rescans and
    false-start patterns). Equivalence to the pure Python machine is
    pinned by tests/test_segmentation.py across both regimes.

    No longer on the corpus path: continuum_pipeline_distributed runs
    find_calibration_indices inside its per-observation kernel and
    spectrum_pipeline_distributed takes the off transition from a
    window. Kept as the reference of the fused-vs-operators test in
    tests/test_radio_pipeline.py and of the benchmark's layer trace.

    The fallback join is keyed on the stream id the segmentation
    shuffle already established, and the Python stage sees ONLY the
    ineligible streams — on a clean 100 TB corpus that is ~zero rows.

    Adaptive short-circuit: the compiled result (ONE row per stream) is
    localCheckpoint'ed and the ineligible-stream count read from it —
    one bounded driver action, same accepted pattern as
    connected_components' convergence check. When every stream is
    eligible (the common case) the Python branch is dropped from the
    plan entirely instead of scheduling an empty applyInPandas stage +
    a second scan. The checkpoint blocks are released by the
    ContextCleaner when the result is garbage-collected.
    """
    compiled = find_calibrations_compiled(
        df, channel_count, header_obsmode).localCheckpoint(eager=True)
    fast = (compiled.filter(F.col("_eligible"))
            .select("obs_id", "IFNUM", "PLNUM", "data_start_idx",
                    "post_cal_start_idx", "off_start_idx"))
    slow_keys = compiled.filter(~F.col("_eligible")) \
        .select(*GROUP_COLS)
    if slow_keys.limit(1).count() == 0:
        return fast
    slow = find_calibrations(
        df.join(slow_keys, GROUP_COLS, "left_semi"),
        channel_count=channel_count, header_obsmode=header_obsmode)
    return fast.unionByName(slow)


def label_segments(df: DataFrame, indices: DataFrame) -> DataFrame:
    """O15 (continuum.py:161-171): label each row pre_cal / science /
    post_cal using the per-stream indices. Row position within the
    stream comes from a window row_number (explicit ordering — the
    reference trusts file order, SURVEY §4); the indices table is one
    row per stream. No broadcast hint: AQE broadcasts it while small,
    and at millions of streams the join rides the stream-key
    partitioning the window already established."""
    from pyspark.sql import Window
    w = Window.partitionBy(*GROUP_COLS).orderBy("row_idx")
    pos = F.row_number().over(w) - 1
    labeled = (
        df.withColumn("_pos", pos)
        .join(indices, GROUP_COLS, "left")
        .withColumn(
            "segment",
            F.when(F.col("_pos") < F.col("data_start_idx"), "pre_cal")
             .when(F.col("_pos") >= F.col("post_cal_start_idx"), "post_cal")
             .otherwise("science"),
        )
        .withColumn(
            "onoff",
            F.when(F.col("off_start_idx").isNull(), F.lit(None).cast("string"))
             .when(F.col("_pos") >= F.col("off_start_idx"), "off")
             .otherwise("on"),
        )
    )
    return labeled
