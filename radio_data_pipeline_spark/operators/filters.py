"""Row and channel filters — reference F1-F4 (SURVEY.md §2.2).

All of these are single Catalyst predicates / array expressions, so
filter pushdown and whole-stage codegen apply; none of them shuffle.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TimeRange = tuple[str, str]          # ISO timestamps, open interval
FreqRange = tuple[float, float]      # frequency bounds, open interval


def select_stream(df: DataFrame, ifnum: int, plnum: int) -> DataFrame:
    """Reference F1 (continuum.py:30-33): keep one (IFNUM, PLNUM)
    stream. At scale the observation table is partitioned by
    (obs_id, IFNUM, PLNUM), so this prunes whole partitions."""
    return df.filter((F.col("IFNUM") == ifnum) & (F.col("PLNUM") == plnum))


def _time_range_predicate(ts: Column, include: Sequence[TimeRange] | None,
                          exclude: Sequence[TimeRange] | None,
                          bound: Callable[[str], object]) -> Column:
    """F3's one body: OR over the include ``(start, end)`` open
    intervals, AND over the negated exclude intervals, each ISO bound
    converted to ts's type by `bound`."""
    def inside(a: str, b: str) -> Column:
        return (ts > bound(a)) & (ts < bound(b))

    pred = F.lit(True)
    if include:
        pred = pred & reduce(operator.or_, [inside(a, b) for a, b in include])
    if exclude:
        pred = pred & reduce(operator.and_,
                             [~inside(a, b) for a, b in exclude])
    return pred


def time_range_predicate(ts: Column,
                         include: Sequence[TimeRange] | None = None,
                         exclude: Sequence[TimeRange] | None = None) -> Column:
    """Reference F3 (utils.py:239-271): open-interval time windows.

    include → OR of ``(start, end)`` open intervals; exclude → AND of
    their negations. The reference builds the exclude mask at
    pre-include length but applies it post-include when both are given
    (utils.py:247 vs 258,269 — would raise on real data); we implement
    the evidently intended semantics: include first, then exclude.
    """
    return _time_range_predicate(
        ts, include, exclude, lambda iso: F.lit(iso).cast("timestamp"))


def _iso_to_us(iso: str) -> int:
    """ISO timestamp -> exact epoch microseconds (naive = UTC, no local
    timezone involvement)."""
    from datetime import datetime, timedelta
    dt = datetime.fromisoformat(iso)
    # integer division by a 1us timedelta keeps fractional seconds
    # exactly; int(total_seconds()) * 1e6 would TRUNCATE sub-second
    # precision and shift every window bound down by up to 1 s
    return (dt - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def time_range_predicate_us(ts_us: Column,
                            include: Sequence[TimeRange] | None = None,
                            exclude: Sequence[TimeRange] | None = None,
                            ) -> Column:
    """F3 semantics against an epoch-microsecond LONG column — exact
    integer comparisons (used for sources whose native precision
    exceeds what both engines' timestamp readers preserve)."""
    return _time_range_predicate(ts_us, include, exclude, _iso_to_us)


def filter_time_ranges(df: DataFrame,
                       include: Sequence[TimeRange] | None = None,
                       exclude: Sequence[TimeRange] | None = None) -> DataFrame:
    return df.filter(time_range_predicate(F.col("DATE_OBS"), include,
                                          exclude))


def frequency_channel_mask(frequencies: Sequence[float],
                           include: Sequence[FreqRange] | None = None,
                           exclude: Sequence[FreqRange] | None = None) -> list[bool]:
    """Reference F4 (utils.py:273-309): which channel positions survive.

    The mask depends only on header metadata (the virtual frequency
    axis), so it is computed driver-side once and broadcast inside the
    filter expression — no per-row frequency computation. Interval
    endpoints are normalized with sorted() and exclusive, matching
    utils.py:290-303.
    """
    keep = [True] * len(frequencies)
    if include:
        keep = [
            any(min(a, b) < f < max(a, b) for a, b in include)
            for f in frequencies
        ]
    if exclude:
        keep = [
            k and all(not (min(a, b) < f < max(a, b)) for a, b in exclude)
            for k, f in zip(keep, frequencies)
        ]
    return keep


def filter_frequency_ranges(df: DataFrame, frequencies: Sequence[float],
                            include: Sequence[FreqRange] | None = None,
                            exclude: Sequence[FreqRange] | None = None,
                            ) -> tuple[DataFrame, list[float]]:
    """Slice every row's DATA vector to the surviving channels and
    return the cropped frequency axis.

    Implemented as a positional array filter against a literal bool
    mask — stays inside codegen, no explode, no shuffle (SURVEY F4
    mapping). Returns (df, cropped_frequencies).
    """
    keep = frequency_channel_mask(frequencies, include, exclude)
    runs = _true_runs(keep)
    if sum(length for _, length in runs) == len(keep):  # nothing dropped
        return df, list(frequencies)
    if not runs:
        out = df.withColumn("DATA", F.expr("array()")
                            .cast(df.schema["DATA"].dataType))
    else:
        # concat of slice() per surviving run: the expression tree is
        # O(#runs) (one per crop window), NOT O(#channels) — the same
        # literal-array blowup fix as the spectrum frequency axis
        # (pipeline.py / BENCH_SCALING.md §4); slices stay positional
        # and inside codegen, no explode, no shuffle
        parts = [F.slice(F.col("DATA"), start + 1, length)
                 for start, length in runs]
        out = df.withColumn(
            "DATA", parts[0] if len(parts) == 1 else F.concat(*parts))
    cropped = [f for f, k in zip(frequencies, keep) if k]
    return out, cropped


def _true_runs(keep: Sequence[bool]) -> list[tuple[int, int]]:
    """Contiguous True runs of the mask as (start_0based, length)."""
    runs: list[tuple[int, int]] = []
    start = None
    for i, k in enumerate(keep):
        if k and start is None:
            start = i
        elif not k and start is not None:
            runs.append((start, i - start))
            start = None
    if start is not None:
        runs.append((start, len(keep) - start))
    return runs
