"""Incremental semantic dedup (functions/similarity.py
semantic_dedup_batch_against_index): the quantizer is trained once and
frozen, each micro-batch is deduped within itself and against the
in-memory (id, v, cell) rows of every earlier batch, and the verdicts
equal batch semantic_dedup of the full corpus under id-ordered arrival
with the same trained centroids."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from radio_data_pipeline_spark.functions.similarity import (
    semantic_dedup,
    semantic_dedup_batch_against_index,
    train_semantic_centroids,
)

pytestmark = pytest.mark.usefixtures("spark")

_EPS = 0.9
_K = 4


def _emb_corpus(spark, n=90, d=8, seed=3):
    # four base directions with per-doc noise (same-direction cosines
    # sit around the eps boundary) plus exact cross-chunk copies
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(_K, d))
    rows = []
    for i in range(n):
        v = base[i % _K] + 0.45 * rng.normal(size=d)
        if i % 7 == 0 and i >= 7:
            v = np.array(rows[i - 7][1])  # exact copy of an earlier doc
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def _chunks(df, n_chunks, n):
    step = n // n_chunks
    return [df.filter((F.col("vec_id") >= i * step)
                      & (F.col("vec_id") < (i + 1) * step))
            for i in range(n_chunks)]


def _ingest(df, n_chunks, cents, meta):
    """Run the chunks through the kernel in id order; returns the
    survivor ids and the accumulated index (persisted parts listed
    for the caller to unpersist)."""
    acc = None
    handles = []
    got = []
    for bid, chunk in enumerate(_chunks(df, n_chunks, 90)):
        survivors, rows = semantic_dedup_batch_against_index(
            chunk, acc, bid, cents, meta, eps=_EPS)
        got.extend(r["vec_id"] for r in
                   survivors.select("vec_id").collect())
        handles.append(rows)
        acc = rows if acc is None else acc.unionByName(rows)
    return sorted(got), acc, handles


@pytest.mark.parametrize("seed,n_chunks", [(3, 3), (11, 2), (29, 5)])
def test_incremental_kernel_matches_batch_semantic_dedup(spark, seed,
                                                         n_chunks):
    """Chunking the corpus through the in-memory index kernel in id
    order reproduces batch semantic_dedup's kept set exactly (same
    trained quantizer, arrival order == id order) — across corpus
    draws AND chunk granularities (the equivalence must not depend
    on where batch boundaries fall)."""
    df = _emb_corpus(spark, seed=seed)
    sd = semantic_dedup(df, eps=_EPS, n_clusters=_K, lloyd_rounds=2)
    expected = sorted(r["vec_id"] for r in
                      sd.filter("is_kept").select("vec_id").collect())
    assert 0 < len(expected) < 90  # nontrivial verdicts both ways

    cents, meta = train_semantic_centroids(df, _K, lloyd_rounds=2)
    got, acc, handles = _ingest(df, n_chunks, cents, meta)
    assert got == expected
    # ALL processed docs are indexed (survivors AND dropped): a later
    # twin of a dropped doc must still match
    assert acc.select("id").distinct().count() == 90
    for h in handles:
        h.unpersist()


def test_kernel_drops_duplicate_of_already_dropped_doc(spark):
    """A doc within eps of an already-DROPPED doc (but not of any
    survivor) is still dropped: dropped docs' vectors are indexed
    too. Geometry: a=(1,0), b at 45 deg (dropped by a), c at 90 deg
    — cos(c,a)=0 < eps, cos(c,b)=0.707 >= eps=0.7."""
    s = float(np.sqrt(0.5))
    b0 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [s, s])],
        "vec_id long, embedding array<double>")
    b1 = spark.createDataFrame(
        [(2, [0.0, 1.0])], "vec_id long, embedding array<double>")
    cents, meta = train_semantic_centroids(b0, 1, lloyd_rounds=1)
    s0, acc = semantic_dedup_batch_against_index(
        b0, None, 0, cents, meta, eps=0.7)
    assert [r["vec_id"] for r in s0.collect()] == [0]
    s1, rows1 = semantic_dedup_batch_against_index(
        b1, acc, 1, cents, meta, eps=0.7)
    assert s1.count() == 0  # dropped via the dropped doc 1
    rows1.unpersist()
    acc.unpersist()


def test_two_level_serving_matches_flat_on_separated_data(spark):
    """The kernel against a TWO-LEVEL quantizer (forced; the
    broadcast-points micro-batch regime) produces the same verdicts
    as against a flat one on well-separated clusters — the §17
    two-level==flat agreement property carried into the incremental
    path. Separation must be REAL for the property to hold (tight
    0.05 noise; the shared 0.45-noise corpus has boundary points
    whose cluster differs by design between the two modes)."""
    rng = np.random.default_rng(5)
    base = rng.normal(size=(_K, 8)) * 4.0
    rows = []
    for i in range(90):
        v = base[i % _K] + 0.05 * rng.normal(size=8)
        if i % 7 == 0 and i >= 7:
            v = np.array(rows[i - 7][1])
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    expected = []
    for forced in (False, True):
        cents, meta = train_semantic_centroids(
            df, _K, lloyd_rounds=2, two_level=forced,
            coarse_clusters=2 if forced else None,
            seed_strategy="smallest_id")
        assert meta["two_level"] is forced
        got, _, handles = _ingest(df, 3, cents, meta)
        for h in handles:
            h.unpersist()
        expected.append(got)
    assert expected[0] == expected[1]
    assert 0 < len(expected[0]) < 90


def test_kernel_requires_meta_with_centroids(spark):
    """Caller-supplied centroids without the resolved mode raise —
    a two-level-trained quantizer silently served flat would file
    probes differently than the index rows and admit duplicates."""
    df = _emb_corpus(spark, n=12)
    cents, _ = train_semantic_centroids(df, 2, lloyd_rounds=1)
    with pytest.raises(ValueError, match="meta"):
        semantic_dedup_batch_against_index(df, None, 0,
                                           centroids=cents, eps=_EPS)


def test_incremental_registered_query_releases_caches(spark):
    """The registered incremental query must not leak cached
    partitions into the shared session (ADVICE r6 low): after the
    result materializes, no persisted RDD it pinned may remain."""
    import os

    from radio_data_pipeline_spark.plans.arrays import (
        semantic_dedup_survivors_incremental)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL",
                            "/root/testdata/sf0.001")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                 .toArray())
    out = semantic_dedup_survivors_incremental(spark, sf_dir)
    assert out.count() > 0
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                .toArray())
    # localCheckpoint storage of the returned frame itself is context-
    # cleaned on GC; persist()-pinned frames must already be gone
    leaked = after - before
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    names = [str(jrdds.get(i).toString()) for i in leaked
             if jrdds.containsKey(i)]
    non_checkpoint = [n for n in names
                      if "localcheckpoint" not in n.lower()]
    assert not non_checkpoint, names

