"""Driver-contract smoke tests (mirrors the driver's t1 check)."""

from __future__ import annotations

import pyspark.sql.functions as F

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.schema is not None


def test_queries_and_oracles_aligned():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert len(q) >= 30
    # every oracle key must have a query
    assert set(o).issubset(set(q))
    # every query is oracle-checked EXCEPT genuinely non-SQL ops
    # (mapInPandas decode stubs), which the driver contract records as
    # rows-only checks — each must be explicitly tagged
    from radio_data_pipeline_spark.plans.registry import all_specs
    specs = all_specs()
    for name in set(q) - set(o):
        assert {"mapInPandas", "multimodal", "radio"} \
               & set(specs[name].tags), \
               f"{name} lacks an oracle but is not a tagged non-SQL op"


def test_sample_window_pins_critical_families_in_first_50():
    """The driver samples the FIRST 50 registered queries. The
    explicit SAMPLE_WINDOW must (a) be exactly the first 50 names in
    queries() order, (b) cover the SURVEY §2 radio core and every
    first-class brief family, (c) be fully oracle-checked — so a
    future refactor cannot silently push the evidence out of the
    driver's window (r4 VERDICT #8)."""
    from radio_data_pipeline_spark.plans.registry import (
        SAMPLE_WINDOW,
        all_specs,
    )

    q_names = list(entry_mod.queries())
    assert len(SAMPLE_WINDOW) == 50
    assert q_names[:50] == list(SAMPLE_WINDOW)

    window = set(SAMPLE_WINDOW)
    # the full SURVEY §2 radio hard core
    radio_core = {n for n in q_names if n.startswith("radio_")}
    assert radio_core <= window
    # one representative per first-class family, by name
    for family in [
        {"dedup_exact"}, {"minhash_lsh_pairs"}, {"simhash_docs"},
        {"embedding_near_dup_lsh"},
        {"cosine_topk"}, {"ivf_topk"}, {"pq_adc_topk"},
        {"negative_samples_per_anchor"}, {"hard_negatives_per_anchor"},
        {"events_constraint_report"}, {"events_column_profile"},
        {"text_stats", "language_id", "quality_score",
         "doc_fingerprint"},
        {"multimodal_wav_rms"},
        {"q1_pricing_summary"},
        # round-5 first-class families (r5 VERDICT #2): semantic
        # dedup, batch k-NN retrieval, incremental near-dup ingest,
        # and the composite curation pipeline must stay in-window
        {"semantic_dedup_stats"}, {"knn_join_topk"},
        {"near_dup_survivors_greedy"}, {"corpus_refinery_report"},
        # round-6 families: span-level exact-substring dedup and
        # incremental semantic dedup (functions/similarity.py)
        {"exact_substring_spans"},
        {"semantic_dedup_survivors_incremental"},
        # round-7 rotations (r6 VERDICT #5): the salted sessionize
        # rewrite and the span-family stats query
        {"events_sessionize_salted"}, {"substring_dedup_stats"},
        # round-8 rotations (r7 VERDICT #1): the two-pass global-rank
        # builder rewrites need driver-gate evidence
        {"orders_gini_coefficient"}, {"orders_pareto_share"},
        {"customer_rfm_segments"},
        # round-10 rotations (r9 VERDICT #2): the composed
        # multi-signal gate's batch form and the persisted-ANN-index
        # retrieval path
        {"dedup_multi_signal"}, {"knn_join_indexed_topk"},
        # round-11 rotations (r10 VERDICT #2): a graph-family
        # representative and the deep TPC-H multi-join shape
        {"triangle_count_copurchase", "pagerank_copurchase",
         "kcore_copurchase"},
        {"q9_product_profit", "q21_sole_returned_supplier"},
    ]:
        assert family & window, f"family {family} outside sample window"
    # vector semantics family
    assert {n for n in q_names if n.startswith("vector_")} & window

    # every windowed query is STRONGLY checked (has a DuckDB oracle),
    # except tagged non-SQL ops (multimodal decode), which the driver
    # records as rows-only — keep those to a small known set
    specs = all_specs()
    no_oracle = {n for n in window if specs[n].oracle is None}
    for name in no_oracle:
        assert {"mapInPandas", "multimodal", "radio"} \
               & set(specs[name].tags), name


def test_deferred_release_capped(spark):
    """r8 ADVICE (medium): _DEFERRED_RELEASE is a capped FIFO — a
    consumer that never calls release_deferred() (the driver gate)
    cannot accumulate persisted frames without bound across repeated
    builds; eviction unpersists the oldest frame."""
    from radio_data_pipeline_spark.plans.registry import (
        _DEFERRED_CAP, _DEFERRED_RELEASE, defer_unpersist,
        release_deferred)

    release_deferred()  # start clean
    frames = []
    for i in range(_DEFERRED_CAP + 3):
        df = spark.range(5).withColumn("i", F.lit(i)).persist()
        df.count()
        frames.append(defer_unpersist(df))
    assert len(_DEFERRED_RELEASE) == _DEFERRED_CAP
    # the evicted (oldest) frames are unpersisted, the rest cached
    assert all(f.storageLevel.useMemory is False for f in frames[:3])
    assert all(f.storageLevel.useMemory for f in frames[3:])
    # evicted frames still compute correctly (lineage recompute)
    assert frames[0].count() == 5
    assert release_deferred() == _DEFERRED_CAP
    assert not _DEFERRED_RELEASE
