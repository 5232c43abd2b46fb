"""Byte-blindness runtime audit (tools/audit_tasks.py — r8 VERDICT
#2): the same failure shape (compute-heavy pair stage fed by a
byte-tiny input running on ~1 task under AQE's byte-keyed heuristics)
was hand-found three times across rounds 6-7 (BENCH_SCALING §12, §17,
§19 add. 7). These tests pin that the audit (a) retro-detects all
three PRE-FIX plan shapes, (b) passes the shipped (spread) shapes,
and (c) measures through the real library kernel without flagging.
"""

import pytest

from tools.audit_tasks import _CANARIES, measure, run_selftest


def test_selftest_flags_all_prefix_shapes_and_passes_fixed(
        spark, tmp_path):
    """The full canary battery: every historical pre-fix shape is
    flagged (heavy stage on <= parallelism/8 tasks), every shipped
    spread shape is clean."""
    out = run_selftest(spark, str(tmp_path))
    assert out["ok"], out
    for name in _CANARIES:
        assert out["canaries"][name]["flagged"] >= 1, (name, out)
        assert out["canaries"][name]["heaviest"]["tasks"] <= 2, out
        assert out["shipped"][name]["flagged"] == 0, (name, out)


def test_measure_records_stage_metrics(spark):
    """measure() sees the stages a job ran, with task counts and
    runtime, via the AppStatusStore (UI disabled in this session —
    the store is populated regardless)."""
    with measure(spark) as rec:
        spark.range(1_000_000).repartition(8).selectExpr(
            "sum(id) as s").collect()
    assert rec.stages, "no stages recorded"
    assert any(s["tasks"] == 8 for s in rec.stages)
    assert all(s["run_ms"] >= 0 for s in rec.stages)
    # a fast well-spread job never flags
    assert rec.flagged(min_task_ms=60_000) == []


def test_shipped_semantic_kernel_is_clean(spark):
    """The real incremental kernel (semantic_dedup_batch_against_index
    probing the first batch's rows as its index) runs ZERO byte-blind
    stages at a probe size where the pre-fix shape measurably flagged
    — the regression canary wired to the actual library path."""
    import pyspark.sql.functions as F

    from radio_data_pipeline_spark.functions.similarity import (
        semantic_dedup_batch_against_index, train_semantic_centroids)

    df = (spark.range(3000)
          .select(F.col("id").alias("vec_id"),
                  F.transform(F.sequence(F.lit(1), F.lit(32)),
                              lambda i: F.sin(F.col("id") % 7 + i)
                              .cast("double")).alias("embedding")))
    cents, meta = train_semantic_centroids(df, 8, lloyd_rounds=1)
    _, rows = semantic_dedup_batch_against_index(
        df, None, 0, cents, meta, eps=0.95)
    try:
        batch = df.filter(F.col("vec_id") < 500)
        with measure(spark) as rec:
            s, rows2 = semantic_dedup_batch_against_index(
                batch, rows, 1, cents, meta, eps=0.95)
            s.count()
            rows2.unpersist()
        # kernel stages exist and none concentrates heavy compute on
        # a couple of tasks (threshold matches the selftest's)
        assert rec.stages
        assert rec.flagged(min_task_ms=1500) == [], rec.stages[:5]
    finally:
        rows.unpersist()


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
