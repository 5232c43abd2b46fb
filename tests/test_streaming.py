"""Structured Streaming tests: availableNow parity of the event-time
queries with their batch forms, and the crash-recovery contracts of
the exactly-once training-shard sink and the constraint gate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from radio_data_pipeline_spark.sources.parquet import load_table
from radio_data_pipeline_spark.streaming import (
    dedup_events,
    read_events_stream,
    run_available_now,
    session_event_counts,
    sliding_user_activity,
    tumbling_event_counts,
)


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --------------------------------------------------------------------------
# Streaming event queries == batch forms (availableNow, memory sink)
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def events_stream(spark, sf_smoke, tmp_path_factory):
    # The file stream source requires a directory; stage the read-only
    # single-file table behind a symlink dir.
    d = tmp_path_factory.mktemp("events_stream_src")
    (d / "events.parquet").symlink_to(f"{sf_smoke}/events.parquet")
    return read_events_stream(spark, str(d))


def test_tumbling_counts_stream_matches_batch(spark, sf_smoke,
                                              events_stream):
    got = run_available_now(tumbling_event_counts(events_stream),
                            "t_tumbling", output_mode="complete")
    exp = tumbling_event_counts(load_table(spark, sf_smoke, "events"))
    cols = ["win_start_us", "event_type", "n_events", "total_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(exp, cols)
    assert len(got.collect()) > 0


def test_session_windows_stream_matches_batch(spark, sf_smoke,
                                              events_stream):
    got = run_available_now(session_event_counts(events_stream),
                            "t_sessions", output_mode="complete")
    exp = session_event_counts(load_table(spark, sf_smoke, "events"))
    cols = ["user_id", "session_start_us", "n_events"]
    assert _sorted_rows(got, cols) == _sorted_rows(exp, cols)


def test_sliding_windows_stream_within_sketch_bound(spark, sf_smoke,
                                                    events_stream):
    # Streams forbid exact distinct agg, so the streaming path counts
    # via HLL++ (rsd=0.01); same windows must appear, each count
    # within 5% of the exact batch count.
    got = {r["win_start_us"]: r["n_users"] for r in
           run_available_now(sliding_user_activity(events_stream),
                             "t_sliding", output_mode="complete")
           .collect()}
    exp = {r["win_start_us"]: r["n_users"] for r in
           sliding_user_activity(load_table(spark, sf_smoke, "events"))
           .collect()}
    assert got.keys() == exp.keys() and len(exp) > 0
    for w, exact in exp.items():
        assert abs(got[w] - exact) <= max(1, 0.05 * exact), (w, got[w], exact)


def test_streaming_dedup_matches_batch_distinct(spark, sf_smoke,
                                                events_stream):
    got = run_available_now(dedup_events(events_stream).select("event_id"),
                            "t_dedup", output_mode="append")
    n_expected = (load_table(spark, sf_smoke, "events")
                  .select("event_id").distinct().count())
    assert got.count() == n_expected


def test_stream_stream_join_matches_batch(spark, sf_smoke, events_stream):
    from radio_data_pipeline_spark.streaming import view_purchase_pairs
    got = run_available_now(view_purchase_pairs(events_stream),
                            "t_ssjoin", output_mode="append")
    exp = view_purchase_pairs(load_table(spark, sf_smoke, "events"))
    cols = ["user_id", "view_id", "purchase_id", "delay_s"]
    assert _sorted_rows(got, cols) == _sorted_rows(exp, cols)
    assert got.count() > 0


def test_training_shards_exactly_once_after_midwrite_crash(spark, tmp_path):
    """Kill-and-restart proof of the exactly-once contract
    (streaming/events.py stream_to_training_shards): a micro-batch
    that died MID-WRITE leaves a partial, uncommitted ``batch=N``
    directory on disk; on restart from the checkpoint the batch
    re-executes and must REPLACE that partial output (overwrite), not
    append to it — final corpus has no duplicate and no phantom keys.
    """
    from radio_data_pipeline_spark.streaming.events import (
        stream_to_training_shards,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "shards")
    cp = str(tmp_path / "cp")
    schema = "doc_id long, text string"

    def add_file(name, lo, hi):
        spark.createDataFrame(
            [(i, f"doc-{i}") for i in range(lo, hi)], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(str(src / "*")).schema
        ).parquet(str(src / "*"))
        q = stream_to_training_shards(stream, out, key_col="doc_id",
                                      n_shards=4, checkpoint=cp)
        q.awaitTermination()

    # batch 0: committed cleanly
    add_file("f1", 0, 50)
    run()

    # batch 1 "crashes mid-write": the source file exists, the output
    # dir holds a PARTIAL write (a subset plus rows that the retry
    # would produce again), but the checkpoint never committed batch 1
    add_file("f2", 50, 100)
    partial = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(50, 70)], schema)
    from radio_data_pipeline_spark.sources.layout import shard_id
    (partial.withColumn("shard", shard_id("doc_id", 4))
     .write.mode("overwrite").partitionBy("shard")
     .parquet(f"{out}/batch=1"))

    # restart: batch 1 re-executes from the checkpointed offsets and
    # overwrites its own partial directory
    run()

    result = spark.read.parquet(out)
    keys = [r["doc_id"] for r in result.select("doc_id").collect()]
    assert sorted(keys) == list(range(100)), (
        f"dup/missing keys: {len(keys)} rows, "
        f"{len(set(keys))} distinct")
    # shard membership matches the batch writer's deterministic rule
    bad = result.withColumn("expect", shard_id("doc_id", 4)) \
        .filter(F.col("shard") != F.col("expect")).count()
    assert bad == 0


def test_constraint_gate_routes_bad_batches_to_quarantine(spark, tmp_path):
    """The streaming quality gate (streaming/events.py): a clean batch
    lands in good/, a rule-violating batch lands WHOLE in quarantine/
    with its constraint report alongside — never admitted, never
    silently dropped."""
    from radio_data_pipeline_spark.functions.constraints import (
        in_range,
        not_null,
        unique,
    )
    from radio_data_pipeline_spark.streaming.events import (
        stream_with_constraint_gate,
    )

    src = tmp_path / "src"
    src.mkdir()
    good = str(tmp_path / "good")
    quar = str(tmp_path / "quarantine")
    cp = str(tmp_path / "cp")
    schema = "doc_id long, score double"
    rules = [not_null("score"), unique("doc_id"),
             in_range("score", 0.0, 1.0)]

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(str(src / "*")).schema
        ).parquet(str(src / "*"))
        q = stream_with_constraint_gate(stream, rules, good, quar, cp)
        q.awaitTermination()

    # batch 0: clean
    spark.createDataFrame(
        [(i, i / 100.0) for i in range(50)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    run()
    assert spark.read.parquet(good).count() == 50
    import os
    assert not os.path.exists(quar)

    # batch 1: duplicate ids + out-of-range score -> quarantined whole
    spark.createDataFrame(
        [(1, 0.5), (1, 0.5), (2, 7.0)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    run()
    assert spark.read.parquet(good).count() == 50  # nothing admitted
    quarantined = spark.read.parquet(f"{quar}/batch=1")
    assert quarantined.count() == 3
    # the quarantine root must stay readable as ONE parquet dataset
    # (the operator replay) even with the report present: reports live
    # under an underscore dir Spark's file index ignores
    assert spark.read.parquet(quar).count() == 3
    report = spark.read.json(f"{quar}/_reports/batch=1").collect()[0]
    import json
    rows = {r["rule"]: r for r in json.loads(report["report"])}
    assert rows["unique(doc_id)"]["passed"] is False
    assert rows["in_range(score,0.0,1.0)"]["passed"] is False
    assert rows["not_null(score)"]["passed"] is True


def test_constraint_gate_verdict_flip_after_midbatch_crash(spark, tmp_path):
    """Crash-recovery proof for the quality gate (VERDICT r4 #7): a
    batch that died AFTER writing its verdict directory but BEFORE the
    checkpoint commit re-executes on restart — under a CHANGED rule
    set, so the verdict FLIPS. The batch must end up exactly once,
    under exactly one verdict, with the report consistent (present
    iff quarantined, and reflecting the CURRENT rules). Both flip
    directions are exercised."""
    import os

    from radio_data_pipeline_spark.functions.constraints import (
        in_range,
        not_null,
    )
    from radio_data_pipeline_spark.streaming.events import (
        stream_with_constraint_gate,
    )

    src = tmp_path / "src"
    src.mkdir()
    good = str(tmp_path / "good")
    quar = str(tmp_path / "quarantine")
    cp = str(tmp_path / "cp")
    schema = "doc_id long, score double"

    def run(rules):
        stream = spark.readStream.schema(
            spark.read.parquet(str(src / "*")).schema
        ).parquet(str(src / "*"))
        q = stream_with_constraint_gate(stream, rules, good, quar, cp)
        q.awaitTermination()

    lax = [not_null("score")]
    strict = [not_null("score"), in_range("score", 0.0, 1.0)]

    # batch 0: scores up to 4.9 — clean under lax, committed
    spark.createDataFrame(
        [(i, i / 10.0) for i in range(50)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    run(lax)
    assert spark.read.parquet(good).count() == 50

    # batch 1 data: passes lax, fails strict. Simulate the crashed
    # attempt: the LAX run wrote it to good/ and died before the
    # checkpoint committed (so the checkpoint still points at batch 1)
    batch1 = [(100 + i, 3.0 + i) for i in range(5)]
    spark.createDataFrame(batch1, schema) \
        .coalesce(1).write.parquet(str(src / "f2"))
    spark.createDataFrame(batch1, schema) \
        .write.mode("overwrite").parquet(f"{good}/batch=1")

    # restart with STRICT rules: verdict flips good -> quarantine
    run(strict)
    assert not os.path.exists(f"{good}/batch=1"), \
        "stale good/ copy must be removed on verdict flip"
    assert spark.read.parquet(good).count() == 50
    assert spark.read.parquet(f"{quar}/batch=1").count() == 5
    assert spark.read.parquet(quar).count() == 5
    import json
    rep = {r["rule"]: r for r in json.loads(
        spark.read.json(f"{quar}/_reports/batch=1").collect()[0]
        ["report"])}
    assert rep["in_range(score,0.0,1.0)"]["passed"] is False

    # batch 2 data: fails strict, passes lax. Simulate the crashed
    # STRICT attempt: quarantine copy + report written, no commit
    batch2 = [(200 + i, 2.0 + i) for i in range(4)]
    spark.createDataFrame(batch2, schema) \
        .coalesce(1).write.parquet(str(src / "f3"))
    spark.createDataFrame(batch2, schema) \
        .write.mode("overwrite").parquet(f"{quar}/batch=2")
    (spark.createDataFrame([(2, json.dumps([{
        "rule": "in_range(score,0.0,1.0)", "metric": 0.0,
        "threshold": 1.0, "passed": False}]))],
        "batch_id long, report string")
     .write.mode("overwrite").json(f"{quar}/_reports/batch=2"))

    # restart with LAX rules: verdict flips quarantine -> good
    run(lax)
    assert spark.read.parquet(f"{good}/batch=2").count() == 4
    assert not os.path.exists(f"{quar}/batch=2"), \
        "stale quarantine copy must be removed on verdict flip"
    assert not os.path.exists(f"{quar}/_reports/batch=2"), \
        "stale report must be removed when the batch is admitted"
    # batch 1 stays quarantined exactly once; totals consistent
    assert spark.read.parquet(quar).count() == 5
    assert spark.read.parquet(good).count() == 54
