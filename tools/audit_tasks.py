#!/usr/bin/env python
"""Byte-blindness runtime audit: record task count + per-task runtime
for every stage a workload runs, and flag any HEAVY stage that ran on
a HANDFUL of tasks — the failure class that was hand-found three
times before this check existed (r8 VERDICT #2):

  1. the index-probe pair join fed by a byte-tiny pruned scan
     (one hot cell's rows in 1-2 parquet splits: 4.3M-pair fold,
     519k pairs in ONE task — BENCH_SCALING §19 add. 5);
  2. micro-batch coarse assignment against the k-row centroid table
     (AQE coalesced both byte-tiny sides to ~1 partition: 13.9 s
     single-task cross fold — §19 add. 7);
  3. the within-batch self-join pair rule (same coalescing, 15.0 s
     single-task — §19 add. 7).

AQE's skew handling keys on partition BYTES, and all three stages are
fed by frames that are bytes-small but pairs-huge — so the planner
can never catch this; only observed task counts can. This tool reads
Spark's AppStatusStore (the store behind the UI/REST — populated even
with spark.ui.enabled=false, no REST round-trip, no extra listener):
per completed stage it records numCompleteTasks and executorRunTime,
and flags stages where

    per_task_ms >= min_task_ms  AND  tasks <= max_tasks
    (max_tasks defaults to max(2, defaultParallelism // 8))

i.e. serious compute concentrated far below the session's
parallelism. Threshold rationale: a *correctly spread* heavy stage at
local[32] runs >= 8 tasks; the three historical failures all ran 1-2
tasks of 2.6-15 s.

API (used by the serving bench and tests):
    with measure(spark) as rec: ...workload...
    rec.stages       -> [{stage_id, name, tasks, run_ms, per_task_ms}]
    rec.flagged(...) -> the byte-blind subset

CLI self-test (the regression canaries):
    python tools/audit_tasks.py --selftest
rebuilds all three PRE-FIX plan shapes as compact emulations and
asserts the audit flags each, then runs the SHIPPED library paths on
the same-sized data and asserts zero flags. Exits nonzero on any
miss, prints one JSON line.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stage_list(spark):
    jvm = spark._jvm
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(jvm.double, 0)
    seq = store.stageList(jvm.java.util.ArrayList(), False, False,
                          quantiles, jvm.java.util.ArrayList())
    jl = jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
    return [jl.get(i) for i in range(jl.size())]


class StageRecord:
    def __init__(self, spark):
        self.spark = spark
        self.stages: list[dict] = []

    def flagged(self, min_task_ms: int = 1500,
                max_tasks: int | None = None) -> list[dict]:
        if max_tasks is None:
            max_tasks = max(
                2, self.spark.sparkContext.defaultParallelism // 8)
        return [s for s in self.stages
                if s["tasks"] and s["tasks"] <= max_tasks
                and s["per_task_ms"] >= min_task_ms]


@contextlib.contextmanager
def measure(spark):
    """Record every stage COMPLETED while the block ran (driver-side
    metadata reads only — no job, no listener registration)."""
    before = {(s.stageId(), s.attemptId()) for s in _stage_list(spark)}
    rec = StageRecord(spark)
    try:
        yield rec
    finally:
        for s in _stage_list(spark):
            if (s.stageId(), s.attemptId()) in before:
                continue
            if str(s.status()) != "COMPLETE":
                continue
            tasks = int(s.numCompleteTasks())
            run_ms = int(s.executorRunTime())
            rec.stages.append({
                "stage_id": int(s.stageId()),
                "name": str(s.name()).split("\n")[0][:80],
                "tasks": tasks,
                "run_ms": run_ms,
                "per_task_ms": run_ms // tasks if tasks else 0,
            })
        rec.stages.sort(key=lambda s: -s["run_ms"])


# ---------------------------------------------------------------- #
# self-test: the three historical pre-fix shapes as canaries        #
# ---------------------------------------------------------------- #

_D = 64  # embedding width used by all canaries


def _vecs(spark, n: int, seed: int, cells: int = 1):
    """n deterministic d-dim vectors, all in `cells` cells — the
    byte-tiny / pair-huge shape (a few MB; millions of fold pairs)."""
    from pyspark.sql import functions as F
    return (spark.range(n)
            .select(F.col("id").alias("vec_id"),
                    (F.col("id") % cells).alias("cell"),
                    F.transform(
                        F.sequence(F.lit(1), F.lit(_D)),
                        lambda i: F.sin(F.col("id") * i).cast("double")
                    ).alias("v")))


def _tiny_source(spark, tmp: str, name: str, n: int, seed: int):
    """The historical inputs were all BYTE-TINY SCANS (a one-file
    micro-batch parquet, a pruned one-split index scan, a k-row
    cached table) — one input split, so every downstream
    narrow/coalesced stage inherits ~1 partition. spark.range would
    arrive pre-split across defaultParallelism partitions and mask
    exactly the shape this audit exists to catch."""
    path = f"{tmp}/{name}"
    if not os.path.exists(path):
        _vecs(spark, n, seed).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _fold(a, b):
    """The per-pair cosine-numerator fold every historical site runs
    (zip_with + aggregate — the interpreted-HOF hot path)."""
    from pyspark.sql import functions as F
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _force(df) -> int:
    return df.select("s").filter("s > 1e30").count()


def _canary_probe_join(spark, tmp: str, fixed: bool):
    """Shape 1: pair join against a PRUNED index scan that fits one
    split. Pre-fix: scan feeds the join as-is (1 task owns every
    pair). Fix: round-robin the pruned scan first (shipped at the
    functions/similarity.py semantic_dedup_batch_against_index
    probe)."""
    from pyspark.sql import functions as F
    path = f"{tmp}/probe_idx"
    if not os.path.exists(path):
        _vecs(spark, 4000, 1).coalesce(1).write.parquet(path)
    idx = spark.read.parquet(path)
    if fixed:
        idx = idx.repartition(
            spark.sparkContext.defaultParallelism * 2)
    batch = F.broadcast(_tiny_source(spark, tmp, "probe_batch", 300, 2)
                        .select(F.col("v").alias("nv"), "cell"))
    return _force(idx.join(batch, "cell")
                  .select(_fold(F.col("v"), F.col("nv")).alias("s")))


def _canary_assignment(spark, tmp: str, fixed: bool):
    """Shape 2: micro-batch x k-row centroid table assignment. Both
    sides byte-tiny -> AQE coalesces the pair fold to ~1 partition.
    Fix: spread the batch side before the fold (shipped at
    functions/similarity._nearest_label_small)."""
    from pyspark.sql import functions as F
    cents = (_tiny_source(spark, tmp, "assign_cents", 256, 3)
             .select(F.col("vec_id").alias("cluster"),
                     F.col("v").alias("cv")))
    batch = _tiny_source(spark, tmp, "assign_batch", 3000, 4)
    if fixed:
        batch = batch.repartition(
            spark.sparkContext.defaultParallelism * 2)
        cents = F.broadcast(cents)
    return _force(batch.crossJoin(cents)
                  .select(_fold(F.col("v"), F.col("cv")).alias("s")))


def _canary_within_batch(spark, tmp: str, fixed: bool):
    """Shape 3: within-batch self pair rule on one hot cell. Pre-fix:
    equi-self-join on cell of a byte-tiny cached frame -> single
    task. Fix: broadcast the witness side and round-robin the probe
    side (shipped at functions/similarity._semantic_removed
    batch_bounded mode)."""
    from pyspark.sql import functions as F
    batch = _tiny_source(spark, tmp, "wb_batch", 1500, 5)
    left = batch.select(F.col("vec_id").alias("a_id"), "cell",
                        F.col("v").alias("av"))
    right = batch.select(F.col("vec_id").alias("b_id"), "cell",
                         F.col("v").alias("bv"))
    if fixed:
        left = left.repartition(
            spark.sparkContext.defaultParallelism * 2)
        right = F.broadcast(right)
    j = (left.join(right, "cell")
         .filter(F.col("a_id") < F.col("b_id")))
    return _force(j.select(_fold(F.col("av"), F.col("bv")).alias("s")))


def _canary_fold_write(spark, tmp: str, fixed: bool):
    """Shape 4/5: a partitioned-layout write fed by a COLUMN-ONLY
    repartition. The shuffle is byte-small however many partition
    directories the write touches, so AQE coalesces it to ~1 task
    paying every parquet-writer open + directory commit in sequence
    (first measured on the micro-batch appends — §19 add. 8 — then
    found AGAIN by this audit in the compaction fold and the
    requantize refile). Fix: explicit partition count — keys still
    hash to one reducer each, layout unchanged, opens spread."""
    from pyspark.sql import functions as F
    df = (_tiny_source(spark, tmp, "fold_rows", 4000, 7)
          .select((F.col("vec_id") % 2000).alias("part_key"),
                  F.col("vec_id").alias("id")))
    out = f"{tmp}/fold_out_{'fixed' if fixed else 'prefix'}"
    rep = (df.repartition(
               spark.sparkContext.defaultParallelism,
               F.col("part_key"))
           if fixed else df.repartition(F.col("part_key")))
    (rep.write.mode("overwrite").partitionBy("part_key").parquet(out))
    return 0


_CANARIES = {
    "probe_join": _canary_probe_join,
    "assignment": _canary_assignment,
    "within_batch": _canary_within_batch,
    "fold_write": _canary_fold_write,
}


def run_selftest(spark, tmp: str, min_task_ms: int = 1500) -> dict:
    out = {"canaries": {}, "shipped": {}, "ok": True}
    for name, fn in _CANARIES.items():
        # no warm-up run needed: cold-start overhead only makes the
        # single-task canary HEAVIER (still flagged), and the fixed
        # variants run 32 tasks (can never flag on time alone)
        with measure(spark) as rec:
            fn(spark, tmp, fixed=False)
        flags = rec.flagged(min_task_ms)
        heavy = rec.stages[0] if rec.stages else None
        out["canaries"][name] = {
            "flagged": len(flags), "heaviest": heavy}
        if not flags:
            out["ok"] = False
        with measure(spark) as rec:
            fn(spark, tmp, fixed=True)
        flags = rec.flagged(min_task_ms)
        out["shipped"][name] = {
            "flagged": len(flags),
            "heaviest": rec.stages[0] if rec.stages else None}
        if flags:
            out["ok"] = False
    return out


def main() -> int:
    import tempfile

    from radio_data_pipeline_spark.session import get_spark

    spark = get_spark("audit-tasks",
                      cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    with tempfile.TemporaryDirectory() as tmp:
        out = run_selftest(spark, tmp)
    print(json.dumps(out))
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
