"""Calibration-segment detection — reference O13/O14/O15
(utils.py:126-214, SURVEY.md §2.4): the ordered, stateful core of the
pipeline.

Spark strategy (SURVEY §7 step 5): one algorithm, the NumPy state
machine ``find_calibration_indices``, run once per observation by
``segment_observation``: each obs_id group is one SDFITS file
(thousands of rows, never more than fits in one task), split into its
(IFNUM, PLNUM) streams, each sorted by row_idx and scanned
sequentially. The continuum kernel (pipeline.py) and
``find_calibrations`` (one ``groupBy("obs_id").applyInPandas``) both
call it, so the only shuffle is keyed by the observation id and a
corpus of millions of observations parallelizes across tasks.

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


def segment_observation(pdf: pd.DataFrame, header_obsmode: str,
                        channel_count: int | None = None):
    """One observation's rows -> (stream rows, (data_start,
    post_cal_start, off_start)) per (IFNUM, PLNUM) stream: rows in
    row_idx order, streams in (IFNUM, PLNUM) order, the indices from
    find_calibration_indices.

    channel_count=None takes the reference's definition, the product
    len(unique IFNUM) * len(unique PLNUM) over the observation
    (continuum.py:24-28); it exceeds the count of observed streams when
    some (IFNUM, PLNUM) combinations are missing.
    """
    if channel_count is None:
        channel_count = pdf["IFNUM"].nunique() * pdf["PLNUM"].nunique()
    pdf = pdf.sort_values(["IFNUM", "PLNUM", "row_idx"])
    for _, s in pdf.groupby(["IFNUM", "PLNUM"], sort=False):
        modes = s["OBSMODE"].tolist() if "OBSMODE" in s else [""] * len(s)
        yield s, find_calibration_indices(
            s["CALSTATE"].to_numpy(), s["SWPVALID"].to_numpy(), modes,
            header_obsmode, channel_count)


_RESULT_SCHEMA = T.StructType([
    T.StructField("obs_id", T.LongType()),
    T.StructField("IFNUM", T.IntegerType()),
    T.StructField("PLNUM", T.IntegerType()),
    T.StructField("data_start_idx", T.IntegerType()),
    T.StructField("post_cal_start_idx", T.IntegerType()),
    T.StructField("off_start_idx", T.IntegerType()),
    T.StructField("_eligible", T.BooleanType()),
])


def _stream_indices(df: DataFrame, channel_count: int | None,
                    header_obsmode: str) -> DataFrame:
    """One row per stream: the three indices plus `_eligible`, true
    when the scan accepted the stream's first post-spike science row
    (CALSTATE=0 & SWPVALID=1 after the first CALSTATE=1 row) as
    data_start, i.e. it had no false-start restart and no rescan
    fallback."""
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for s, (ds, pc, off) in segment_observation(pdf, header_obsmode,
                                                    channel_count):
            cal = s["CALSTATE"].to_numpy()
            swp = s["SWPVALID"].to_numpy()
            first = np.flatnonzero(np.logical_or.accumulate(cal == 1)
                                   & (cal == 0) & (swp == 1))
            rows.append((s["obs_id"].iloc[0], s["IFNUM"].iloc[0],
                         s["PLNUM"].iloc[0], ds, pc, off,
                         bool(first.size and first[0] == ds)))
        # object columns keep a None index as null, not a float NaN
        return pd.DataFrame(rows, columns=_RESULT_SCHEMA.fieldNames(),
                            dtype=object)

    cols = [c for c in df.columns
            if c in {*GROUP_COLS, "CALSTATE", "SWPVALID", "OBSMODE",
                     "row_idx"}]
    return (df.select(*cols)
            .groupBy("obs_id")
            .applyInPandas(run, schema=_RESULT_SCHEMA))


def find_calibrations(df: DataFrame, channel_count: int | None = None,
                      header_obsmode: str = "track") -> DataFrame:
    """O13/O14 over every observation stream at once: (obs_id, IFNUM,
    PLNUM, data_start_idx, post_cal_start_idx, off_start_idx), one
    row per stream.

    One groupBy(obs_id).applyInPandas runs segment_observation on each
    observation, so channel_count=None is counted inside the group.
    """
    return _stream_indices(df, channel_count, header_obsmode) \
        .drop("_eligible")


def find_calibrations_compiled(df: DataFrame,
                               channel_count: int | None = None,
                               header_obsmode: str = "track") -> DataFrame:
    """find_calibrations plus the per-stream `_eligible` flag (see
    _stream_indices): the streams that a window-only form could
    segment. Kept for the benchmark's layer trace, which counts the
    ineligible streams."""
    return _stream_indices(df, channel_count, header_obsmode)


def find_calibrations_hybrid(df: DataFrame,
                             channel_count: int | None = None,
                             header_obsmode: str = "track") -> DataFrame:
    """find_calibrations under the name the benchmark's layer trace
    and the fused-vs-operators test use."""
    return find_calibrations(df, channel_count, header_obsmode)


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
