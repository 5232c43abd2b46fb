"""Embedding similarity search: brute-force cosine top-k (baseline)
and an LSH-bucketed variant (the scale path).

Dot products and norms are in-order folds over the array column
(`F.aggregate`) — JVM-side, no explode, no Python. The LSH variant
hashes vectors to sign-pattern buckets of R random hyperplanes so the
candidate set per query is |bucket| instead of N; hyperplanes are
generated driver-side from a fixed seed and folded into literal
expressions (they are metadata, like the reference's frequency axis).
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(_as_double(a), _as_double(b),
                                  lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _dot_double(a: Column, b: Column) -> Column:
    """``dot_product`` for inputs ALREADY array<double> (a kernel
    invariant wherever rows were built through ``_as_double``): the
    public form's per-side cast transform is a value no-op there but
    still allocates and copies an array per pair per side in the
    interpreted HOF tier — measured ~15% of the serving probe's pair
    filter. Same value bit-for-bit; callers own the dtype guarantee."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


# Measured negative result (round 7): expanding dot_product to a
# flat a[1]*b[1]+...+a[d]*b[d] codegen expression (try_element_at
# terms, left-associated adds — bit-identical to the fold) ran 3x
# SLOWER than the interpreted fold on the serving probe's pair
# filter at d=64 / 8.6M pairs: codegen splits the chain into d
# non-inlinable methods of bounds-checked array accessors, while
# zip_with/aggregate runs one specialized loop over the primitive
# array. Don't re-try without new evidence.


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0),
                              lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def _query_literal(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query_vec])


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                ) -> DataFrame:
    """Brute-force exact top-k by cosine: one map stage + a global
    TakeOrdered (no sort shuffle). The O(N·d) scan is the correctness
    baseline the ANN variants are judged against."""
    q = _query_literal(query_vec)
    return (
        df.select(F.col(id_col),
                  F.round(cosine_similarity(F.col(vec_col), q), 6)
                  .alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(vec_col: Column, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id: bit r set iff <v, plane_r> > 0."""
    bucket = F.lit(0).cast("long")
    for r, plane in enumerate(planes):
        proj = dot_product(vec_col, _query_literal(list(plane)))
        bucket = bucket + F.when(proj > 0, F.lit(2 ** r).cast("long")) \
                           .otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_bucket_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                    n_planes: int = 6, seed: int = 7,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    ) -> DataFrame:
    """Approximate top-k: restrict the cosine scan to the query's LSH
    bucket. At scale the table is written bucketed/partitioned by this
    bucket id, so the scan prunes to ~N/2^R rows before any compute;
    here the bucket predicate is evaluated inline."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qvec = np.asarray(query_vec, dtype=float)
    q_bucket = int(sum((1 << r) for r, p in enumerate(planes)
                       if float(np.dot(p, qvec)) > 0))
    bucketed = df.withColumn("_bucket", lsh_bucket(F.col(vec_col), planes))
    q = _query_literal(query_vec)
    return (
        bucketed.filter(F.col("_bucket") == q_bucket)
        .select(F.col(id_col),
                F.round(cosine_similarity(F.col(vec_col), q), 6)
                .alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def auto_n_planes(n_rows: int, target_bucket_rows: int = 64,
                  min_planes: int = 4, max_planes: int = 16) -> int:
    """Derive the hyperplane count from the corpus size so expected
    bucket population stays ~target_bucket_rows as the corpus grows:
    n_planes = ceil(log2(N / target)), clamped to [min, max].

    This is the scaling contract the fixed-parameter form violates: a
    static n_planes=4 (16 buckets) over a 20k-vector corpus means
    ~1.2k-row buckets and ~12M candidate pairs (~27 s measured,
    BENCH_SCALING.md §6) — and the |bucket|² cost is in the ALGORITHM,
    so every engine pays it. Growing planes with log2(N) keeps
    candidate pairs ~N * target/2, linear in N. At min_planes=4 the
    derivation returns 4 for any corpus up to ~1k rows, so small-SF
    results (and their pinned oracles) are unchanged."""
    import math
    if n_rows <= target_bucket_rows:
        return min_planes
    return max(min_planes,
               min(max_planes,
                   math.ceil(math.log2(n_rows / target_bucket_rows))))


def near_dup_pairs_lsh(df: DataFrame, threshold: float = 0.4,
                       n_planes: int | None = None, seed: int = 7,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       dim: int | None = None,
                       target_bucket_rows: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with LSH blocking: vectors
    only compare within their sign-pattern bucket, so the self-join is
    sum(|bucket|²)/2 candidate pairs instead of N²/2 — the blocking key
    shuffles both sides once and each bucket joins locally. Recall is
    the standard LSH trade-off (a near-dup pair straddling a hyperplane
    is missed); raise recall with fewer planes or multiple plane sets.
    Returns (id_a, id_b, cosine) with cosine >= threshold.

    n_planes=None (the DEFAULT) derives the plane count from the corpus size
    (auto_n_planes: buckets target ~target_bucket_rows rows), so the
    blocking keeps candidate pairs linear in N instead of quadratic —
    the 100 TB contract. The count is one metadata-cheap job over the
    input (parquet count reads no column data); pass an explicit
    n_planes to skip it when the caller already knows the scale.

    dim defaults to the width of the first non-null vector (one small
    eager job at plan time) — a mismatched hyperplane width would
    null-poison every projection and silently collapse all vectors
    into one bucket (the N^2 blowup this function exists to avoid)."""
    if n_planes is None:
        n_planes = auto_n_planes(df.count(), target_bucket_rows)
    if dim is None:
        head = (df.select(vec_col)
                .filter(F.col(vec_col).isNotNull()).first())
        if head is None:  # empty input -> empty pairs
            # derive the id columns' type from the INPUT so the empty
            # frame unions/joins cleanly with non-empty-path output
            # (a hardcoded 'long' would mismatch string id columns)
            ids = df.select(F.col(id_col).alias("id_a"),
                            F.col(id_col).alias("id_b"),
                            F.lit(0.0).alias("cosine"))
            return ids.limit(0)
        dim = len(head[0])
    planes = hyperplanes(dim, n_planes, seed)
    b = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                  lsh_bucket(F.col(vec_col), planes).alias("bucket"),
                  l2_norm(F.col(vec_col)).alias("n"))
    a, c = b.alias("a"), b.alias("b")
    # norms hoisted to one per ROW — bit-identical to inline cosine
    # (see knn_join); the within-bucket pair filter drops to one fold
    return (
        a.join(c, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.round(dot_product(F.col("a.v"), F.col("b.v"))
                        / (F.col("a.n") * F.col("b.n")), 6)
                .alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def hard_negative_mining(df: DataFrame, k: int = 3,
                         dup_ceiling: float = 0.99,
                         anchor_pred: Column | None = None,
                         n_planes: int | None = None, seed: int = 7,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         dim: int | None = None,
                         target_bucket_rows: int = 64,
                         dedup_identical: bool = True,
                         bucket_cap: int | None = 512) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (rows matching ``anchor_pred``; all rows when None), the top-k
    most-similar NON-duplicate vectors (cosine < ``dup_ceiling``
    excludes near-dup positives) from the anchor's LSH bucket — the
    candidates that teach an embedding model the most, found WITHOUT
    an all-pairs scan. Returns (vec_id, rank, neg_id, cosine); rank
    orders by ROUNDED cosine desc then neg_id, so ties break
    identically on any engine.

    n_planes=None (the DEFAULT) derives the plane count from the
    corpus size (auto_n_planes: buckets target ~target_bucket_rows
    rows), exactly like near_dup_pairs_lsh — the 100 TB contract. A
    static plane count means N/2^planes-row buckets and a quadratic
    within-bucket join as the corpus grows; growing planes with
    log2(N) keeps candidate pairs linear in N, so the mining pass
    between training epochs stays one bucketed shuffle + a per-anchor
    top-k riding the bucket join's partitioning (no global sort).
    Pass an explicit n_planes when an oracle/baseline pins the
    bucketing (registered query hard_negatives_per_anchor pins 4 to
    match its DuckDB oracle).

    Recall trade-off is the standard LSH one: a hard negative in a
    different bucket is missed; raise recall with fewer planes or
    multiple plane sets (at the cost of bucket size).

    Skew hardening (BENCH_SCALING.md §12 — the skewed-key study found
    a measured 17x blowup, 5.7 s -> 95.9 s at the 10x corpus, when
    one bucket held 2,000 IDENTICAL vectors; auto-planes cannot split
    identical vectors, so the hot bucket is irreducible by hashing):

    - ``dedup_identical`` (default True): collapse byte-identical
      candidate vectors to one representative (min id) per bucket
      BEFORE the join. Identical copies of a non-dup negative carry
      zero extra training signal, and identical copies of the anchor
      are excluded by ``dup_ceiling`` anyway — today each copy pays
      the cosine fold first. One groupBy on (bucket, vector); the
      mass-duplicate hot bucket collapses to 1 candidate. Anchors are
      NEVER deduped — every anchor id still gets its negatives.
    - ``bucket_cap`` (default 512): per-bucket candidate bound for
      buckets that are hot WITHOUT being identical (near-identical
      clusters, degenerate embeddings): candidates in a bucket over
      the cap are downsampled to ~cap by a deterministic md5 draw on
      the candidate id (uniform, engine-portable, no per-bucket sort
      — the rate comes from one tiny count aggregate broadcast back).
      Total join cost is then <= N_anchors * bucket_cap — linear in
      anchors regardless of skew. Capped buckets lose mining recall;
      None disables.

    The registered query passes dedup_identical=False, bucket_cap=None
    (its oracle models the raw join); real mining passes keep the
    defaults.
    """
    if n_planes is None:
        n_planes = auto_n_planes(df.count(), target_bucket_rows)
    if dim is None:
        head = (df.select(vec_col)
                .filter(F.col(vec_col).isNotNull()).first())
        if head is None:
            return (df.select(
                F.col(id_col).alias("vec_id"),
                F.lit(0).alias("rank"),
                F.col(id_col).alias("neg_id"),
                F.lit(0.0).alias("cosine")).limit(0))
        dim = len(head[0])
    from pyspark.sql import Window

    planes = hyperplanes(dim, n_planes, seed)
    v = _as_double(F.col(vec_col))
    anchors_src = df.filter(anchor_pred) if anchor_pred is not None else df
    a = anchors_src.select(
        F.col(id_col).alias("vec_id"), v.alias("av"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"))
    c = df.select(F.col(id_col).alias("neg_id"), v.alias("cv"),
                  lsh_bucket(F.col(vec_col), planes).alias("bucket"))
    if dedup_identical:
        # exact grouping on the vector value itself (no hash-collision
        # risk); min id is the deterministic representative
        c = (c.groupBy("bucket", "cv")
             .agg(F.min("neg_id").alias("neg_id")))
    if bucket_cap is not None:
        from radio_data_pipeline_spark.sources.layout import (
            md5_prefix_long)
        sizes = c.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
        u = md5_prefix_long(F.col("neg_id")) / F.lit(float(1 << 32))
        c = (c.join(F.broadcast(sizes), "bucket")
             .filter((F.col("_bn") <= bucket_cap)
                     | (u < F.lit(float(bucket_cap)) / F.col("_bn")))
             .drop("_bn"))
    # norms hoisted to one per ROW — bit-identical to inline cosine
    # (see knn_join); pair scoring drops to one fold per pair
    scored = (
        a.withColumn("an", l2_norm(F.col("av")))
        .join(c.withColumn("cn", l2_norm(F.col("cv"))), "bucket")
        .filter(F.col("vec_id") != F.col("neg_id"))
        .select("vec_id", "neg_id",
                F.round(dot_product(F.col("av"), F.col("cv"))
                        / (F.col("an") * F.col("cn")), 6)
                .alias("cosine"))
        .filter(F.col("cosine") < dup_ceiling)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"),
                                             F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", F.col("rank").cast("int").alias("rank"),
                "neg_id", "cosine")
    )


def uniform_negative_samples(df: DataFrame, k: int = 4,
                             anchor_pred: Column | None = None,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             with_cosine: bool = True) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive
    training: each anchor (rows matching ``anchor_pred``; all rows
    when None) draws ``k`` pseudo-random partners via
    md5(anchor_id#j) mod N mapped through a dense 0..N-1 row index,
    so the draw reproduces on ANY engine and ANY id layout (ids need
    not be contiguous). Self-collisions drop, yielding <= k rows per
    anchor deterministically. Returns (vec_id, j, neg_id[, cosine]).

    Scale shape: the index is built by sources/layout.dense_index
    (two-pass partition-offset — bucket-parallel sorts, never a
    single-partition window over the corpus), the corpus count rides
    along as a one-row broadcast, and the draws resolve with ONE
    equi hash join on the drawn position — map-only around it. Built
    once, the index serves every epoch's draws.

    ``with_cosine=False`` skips the cosine fold when the trainer
    computes its own similarity (the pairs are the product; ~3x less
    compute per drawn pair)."""
    from radio_data_pipeline_spark.sources.layout import (dense_index,
                                                          md5_prefix_long)

    v = _as_double(F.col(vec_col))
    idx = dense_index(
        df.select(F.col(id_col).alias("vec_id"), v.alias("v")),
        "vec_id", "pos")
    n = idx.agg(F.count(F.lit(1)).alias("n"))
    # anchor_pred filters the RAW df (caller's own column names) —
    # the same contract as hard_negative_mining; filtering the
    # aliased index instead would make the identical predicate work
    # in one function and raise in the other (r5 advice)
    anchors = ((df.filter(anchor_pred) if anchor_pred is not None
                else df)
               .select(F.col(id_col).alias("vec_id"), v.alias("v")))
    spark = df.sparkSession
    js = spark.range(k).select(F.col("id").alias("j"))
    draws = (
        anchors.crossJoin(F.broadcast(js))
        .crossJoin(F.broadcast(n))
        .select(
            "vec_id", "v", "j",
            (md5_prefix_long(
                F.concat_ws("#", F.col("vec_id"), F.col("j")))
             % F.col("n")).alias("neg_pos"))
    )
    neg = idx.select(F.col("pos").alias("neg_pos"),
                     F.col("vec_id").alias("neg_id"),
                     F.col("v").alias("nv"))
    out = (draws.join(neg, "neg_pos")
           .filter(F.col("neg_id") != F.col("vec_id")))
    cols = ["vec_id", F.col("j").cast("int").alias("j"), "neg_id"]
    if with_cosine:
        cols.append(
            F.round(cosine_similarity(F.col("v"), F.col("nv")), 6)
            .alias("cosine"))
    return out.select(*cols)


def ivf_centroids(dim: int, n_centroids: int = 8, seed: int = 11,
                  ) -> np.ndarray:
    """Deterministic unit-norm coarse-quantizer centroids. A production
    index would k-means these on a sample; random unit centroids keep
    the structure (assign + probe) reproducible on both engine and
    oracle without shipping trained state."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_assign(vec_col: Column, centroids: np.ndarray) -> Column:
    """Inverted-list id = argmax_i <v, centroid_i>, first max wins
    (same semantics as the oracle's CASE chain).

    The dots go through ONE array constructor referenced by both
    array_max and array_position — both unconditional, so codegen
    subexpression elimination computes each fold once per row. The
    previous greatest() + when-chain form evaluated the folds inside
    CASE branches, where conditional evaluation disables CSE: each
    dot was recomputed per branch (~2x the fold work, measured ~3x
    slower at the 10x bench scale)."""
    dots = F.array(*[dot_product(vec_col, _query_literal(list(c)))
                     for c in centroids])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             n_centroids: int = 8, nprobe: int = 2, seed: int = 11,
             vec_col: str = "embedding", id_col: str = "vec_id",
             ) -> DataFrame:
    """IVF-style ANN top-k: assign every vector to its nearest coarse
    centroid (the inverted list), then scan only the query's `nprobe`
    closest lists. At scale the table is written partitioned by
    `ivf_list` so probing prunes partitions before any distance math —
    the classic IVF-Flat layout on parquet."""
    centroids = ivf_centroids(len(query_vec), n_centroids, seed)
    qvec = np.asarray(query_vec, dtype=float)
    probe = np.argsort(-(centroids @ qvec))[:nprobe].tolist()
    assigned = df.withColumn("_list", ivf_assign(F.col(vec_col), centroids))
    q = _query_literal(query_vec)
    return (
        assigned.filter(F.col("_list").isin([int(p) for p in probe]))
        .select(F.col(id_col),
                F.round(cosine_similarity(F.col(vec_col), q), 6)
                .alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# above this cluster count the Lloyd assignment stage switches to the
# two-level (coarse -> fine) form; at or below it the flat broadcast
# join is both faster and what the pinned small-k oracles model.
# Set by measurement (BENCH_SCALING.md §17): at k=79 (20k rows) flat
# ran 14.5 s vs two-level 31 s (the extra stages dominate), at k=782
# (200k rows) two-level ran 55 s vs a ~1e10-partial flat estimate —
# the wall-clock crossover sits near k~128
_TWO_LEVEL_MIN_CLUSTERS = 128

# floor/cap of the salted within-cell pair join's fan-out (see
# _fine_salt): bounds a hot cell's single-task compute at 1/salt of
# its pairs for the cost of replicating the k-row compact centroid
# table salt ways
_FINE_SALT = 32
_FINE_SALT_CAP = 256


def _fine_salt(spark) -> int:
    """Adaptive fan-out of the salted fine-assignment join: the salt
    only pays when it spreads a hot cell across otherwise-idle slots,
    so it tracks the cluster's parallelism instead of staying pinned
    at the local[32]-tuned constant (on a 1000-executor cluster a
    32-way salt would still leave one hot cell on <1% of the slots).
    Floor 32 (the §17-measured value — identical behavior on the
    measurement rig), cap 256 (centroid replication is salt·k·d
    rows; past the cap the replicated table's own shuffle outweighs
    the straggler it prevents)."""
    return max(_FINE_SALT,
               min(_FINE_SALT_CAP, spark.sparkContext.defaultParallelism))


def _nearest_label(pts: DataFrame, cents: DataFrame,
                   label: str) -> DataFrame:
    """Nearest-centroid argmin: ``pts`` is exploded (vec_id, pos, val),
    ``cents`` is (label, pos, cval) — the CALLER decides whether cents
    is broadcast (coarse tables only; a fine table growing with N must
    not broadcast). Returns (vec_id, label), deterministic via the
    lowest-label tiebreak."""
    from pyspark.sql import Window

    d = (pts.join(cents, "pos")
         .groupBy("vec_id", label)
         .agg(F.sum((F.col("val") - F.col("cval"))
                    * (F.col("val") - F.col("cval"))).alias("d2")))
    w = Window.partitionBy("vec_id").orderBy("d2", label)
    return (d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("vec_id", label))


def _argmin_label(d: DataFrame, label: str) -> DataFrame:
    """Per-vec_id argmin over (vec_id, label, d2) rows:
    ``row_number() over (partition by vec_id order by d2, label)``,
    rn == 1 — deterministic lowest-label tiebreak.

    Measured negative (round 7): the seemingly-cheaper
    ``groupBy(vec_id).agg(min(struct(d2, label)))`` form is NOT a
    hash aggregate — Min over a struct is unsupported by
    HashAggregate's mutable buffer, so the plan silently falls back
    to SortAggregate with a full extra Sort of the pair rows on BOTH
    the partial and final sides; requantize at 200k x 64-d ran 77 s
    vs 48 s in a same-session A/B. Don't re-try without checking
    ``explain`` shows HashAggregate."""
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("d2", label)
    return (d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("vec_id", label))


def _centroid_array_form(cc: DataFrame, label: str) -> DataFrame:
    """(label, pos, cval) exploded centroids -> (label, cv array)."""
    return (cc.groupBy(label)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"]).alias("cv")))


def _nearest_label_small(pv: DataFrame, cents_arr: DataFrame,
                         label: str) -> DataFrame:
    """Micro-batch nearest-centroid: batch (vec_id, v array) cross-
    joined against the BROADCAST (label, cv array) table, one fold
    per (point, centroid) pair, ``_argmin_label`` pick. Replaces the
    exploded ``_nearest_label`` join for batch-bounded inputs only —
    the exploded form moves |batch|·k·d joined rows through a
    partial-agg shuffle per micro-batch (10M rows for a 2k batch at
    k=79), where this form evaluates |batch|·k folds in place with
    nothing shuffled but the one-row-per-point argmin partials.
    The fold sums (x-y)^2 in position order; on exact centroid-
    distance ties the argmin can differ from the exploded form's
    hash-agg order (the documented two-level float note — exact FP
    ties between DISTINCT centroids, not merely duplicated points).
    Never use for corpus-sized inputs: the cross join replicates the
    batch into every scan task, bounded only by the micro-batch
    contract.

    The batch side is round-robin repartitioned first: a streamed
    micro-batch arrives as ONE file split (a 2k-doc parquet file is
    one task to every byte-based splitter), so without the spread
    the entire |batch|·k fold compute runs in a single task —
    measured 13.9 s for a 20k batch at k=7813 (1.8M folds
    single-threaded) vs ~1 s spread. Same byte-blindness lesson as
    the probe join; the shuffle moves only the bounded batch."""
    spread = pv.sparkSession.sparkContext.defaultParallelism
    pairs = pv.repartition(spread).crossJoin(F.broadcast(cents_arr))
    d = pairs.select(
        "vec_id", label,
        F.aggregate(F.zip_with("v", "cv",
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("d2"))
    return _argmin_label(d, label)


def _quantizer_tables(cc: DataFrame, coarse_clusters: int,
                      merge_hint: bool = False
                      ) -> tuple[DataFrame, DataFrame]:
    """The two quantizer-derived tables of the two-level assignment:
    ``coarse`` (cell, pos, cval — the ~sqrt(k)-row coarse quantizer:
    the coarse_clusters smallest fine-cluster ids stand in as cell
    representatives, deterministic, and a cell always contains at
    least its own representative) and ``ccf`` (cluster, cv array,
    cell — every fine centroid in compact array form filed under its
    nearest cell). ``merge_hint`` pins the k-row cell-filing join to
    SMJ for the CORPUS regime — at auto scale k grows with N and the
    planner's compressed-size stats are deceptively small (the
    measured requantize hazard); the micro-batch path keeps the
    planner's choice."""
    cells = (cc.select("cluster").distinct()
             .orderBy("cluster").limit(coarse_clusters)
             .select(F.col("cluster").alias("cell")))
    coarse = (cc.join(F.broadcast(cells),
                      F.col("cluster") == F.col("cell"))
              .select("cell", "pos", "cval"))
    # file every fine centroid under its nearest cell (k rows)
    fine_cell = _nearest_label(
        cc.select(F.col("cluster").alias("vec_id"), "pos",
                  F.col("cval").alias("val")),
        F.broadcast(coarse), "cell").withColumnRenamed(
        "vec_id", "cluster")
    cc_arr = _centroid_array_form(cc, "cluster")
    ccf = cc_arr.join(fine_cell.hint("merge") if merge_hint
                      else fine_cell, "cluster")
    return coarse, ccf


def _assign_points(pv: DataFrame, cc: DataFrame, two_level: bool = False,
                   coarse_clusters: int | None = None,
                   broadcast_points: bool = False) -> DataFrame:
    """Assign COMPACT points ``pv`` (vec_id, v array) to centroids
    ``cc`` (cluster, pos, cval). Flat mode broadcasts the centroid
    table (bounded k only); two-level mode routes through a
    ~``coarse_clusters``-cell coarse quantizer so the k·d fine table
    is never broadcast (the §17 sub-quadratic assignment — see
    semantic_dedup's docstring for the approximation trade-off).

    The two-level fine stage runs entirely on COMPACT array frames
    (exploding only for the coarse step, whose map-side broadcast
    join preserves locality): the vec_id join moves N rows, not N·d,
    and the within-cell distance join moves N + k·(d-array) rows
    co-partitioned by cell. The earlier exploded-first shape had
    three scale failures, all measured at the 2M x 64-d requantize:
    the exploded side's size estimate does not scale through
    Generate, so the planner auto-broadcast a 128M-row frame and died
    against spark.driver.maxResultSize; forcing SMJ instead sorted
    64x more bytes than necessary; and the (pos, cell)-partitioned
    fine join scattered each pair's d positions across d partitions,
    so the d2 aggregation shuffled ~11e9 uncombined partials and
    filled the disk. The vec_id join is merge-hinted — both sides
    scale with N, so no broadcast is ever correct at index scale."""
    if not two_level:
        if broadcast_points:
            # micro-batch flat: |batch|·k folds in place instead of
            # the |batch|·k·d exploded join (see _nearest_label_small)
            return _nearest_label_small(
                pv, _centroid_array_form(cc, "cluster"), "cluster")
        rr = pv.select("vec_id", F.posexplode("v").alias("pos", "val"))
        return _nearest_label(rr, F.broadcast(cc), "cluster")
    if coarse_clusters is None:
        raise ValueError("two_level assignment requires coarse_clusters")

    coarse, ccf = _quantizer_tables(cc, coarse_clusters,
                                    merge_hint=not broadcast_points)
    if broadcast_points:
        # micro-batch coarse step in the same array form
        p_cell = _nearest_label_small(
            pv, _centroid_array_form(coarse, "cell"), "cell")
    else:
        # point -> nearest cell (N x sqrt(k) x d partials; coarse
        # table broadcast — it is sqrt(k)·d rows, bounded)
        rr = pv.select("vec_id", F.posexplode("v").alias("pos", "val"))
        p_cell = _nearest_label(rr, F.broadcast(coarse), "cell")
    # Fine assignment only within the probed cell — in COMPACT array
    # form, end to end. The exploded alternatives all fail at scale,
    # each measured at the 2M x 64-d requantize: joining the exploded
    # table on (pos, cell) scatters a (vec_id, cluster) pair's d
    # positions across d partitions, so the d2 partial agg cannot
    # combine and the shuffle carries N·~sqrt(k)·d raw partials
    # (~11e9 rows, >50 GB spill, disk-full); rescuing it with a
    # fine-table broadcast re-introduces the linearly-growing
    # broadcast the r5 verdict flagged; and pre-partitioning the
    # EXPLODED side by cell shuffles N·d rows. Here both join sides
    # stay compact — N (vec_id, v, cell) rows and k (cluster, cv,
    # cell) rows — co-partitioned by cell, and each of the N·~sqrt(k)
    # pair rows computes its squared distance with one array fold.
    # Shuffled bytes are linear in N·d with no wide intermediate at
    # all; nothing is broadcast.
    #
    # Float note: the fold sums (x-y)^2 in POSITION order, whereas
    # the exploded groupBy summed in hash-agg arrival order — on
    # exact centroid-distance ties the argmin can pick a different
    # (equally nearest) cluster. Cluster boundaries are already
    # approximate in two-level mode (see the docstring contract);
    # flat mode — every pinned oracle — is untouched.
    if broadcast_points:
        # MICRO-BATCH regime (the incremental kernel's explicit contract:
        # points are batch-bounded): broadcast the batch and its cell
        # assignment straight into the k-row centroid-array table —
        # no sort, no salt machinery. Never used for corpus-sized
        # inputs (batch dedup), where the broadcast
        # would be the deceptive-stats hazard all over. The k-row
        # STREAM side is round-robin spread first: the quantizer
        # table reads from one small parquet file and AQE coalesces
        # its byte-tiny shuffles to ~1 partition, so the whole
        # |batch|·(k/coarse) fine fold otherwise lands in a single
        # task (measured 15.0 s for 3.8M pair folds at a 20k batch /
        # k=7813 vs ~1 s spread).
        pts = pv.join(F.broadcast(p_cell), "vec_id")
        ccf = ccf.repartition(
            pv.sparkSession.sparkContext.defaultParallelism)
        pairs = ccf.join(F.broadcast(pts), "cell")
    else:
        # CORPUS regime: the pair join is salted — cell sizes follow
        # the DATA (duplicated or clustered corpora concentrate in
        # few cells), and a hot cell co-partitioned by cell alone is
        # one task of n_i x k_i x d pure compute that AQE's
        # byte-based skew split cannot see — measured as a
        # 10+-minute straggler (24/25 tasks idle) at the 2M x 64-d
        # requantize. Salting the point side and replicating the
        # (compact, k-row) centroid side salt ways bounds any
        # cell's task at 1/salt of its pairs; there is no
        # aggregation across the join, so salting changes nothing
        # else. The fan-out adapts to the session's parallelism
        # (_fine_salt) — salt placement never changes results.
        salt = _fine_salt(pv.sparkSession)
        pts = (pv.join(p_cell.hint("merge"), "vec_id")
               .withColumn("_salt",
                           F.pmod(F.xxhash64("vec_id"),
                                  F.lit(salt)).cast("int")))
        cents_rep = ccf.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0),
                                          F.lit(salt - 1))))
        # merge hint: the explicit repartitions pin the co-partition,
        # but AQE can still convert the join to broadcast-hash from
        # RUNTIME compressed shuffle sizes — vector rows compress
        # ~10:1, and a replicated centroid side that stats under the
        # threshold serializes salt x k x d uncompressed through the
        # driver (the measured maxResultSize failure mode). The hint
        # removes the conversion; nothing in this join is ever
        # broadcast-safe at index scale.
        pairs = (pts.repartition(F.col("cell"), F.col("_salt"))
                 .join(cents_rep.repartition(F.col("cell"),
                                             F.col("_salt"))
                       .hint("merge"),
                       ["cell", "_salt"]))
    d = pairs.select(
        "vec_id", "cluster",
        F.aggregate(F.zip_with("v", "cv",
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("d2"))
    return _argmin_label(d, "cluster")


def train_semantic_centroids(df: DataFrame, n_clusters: int,
                             lloyd_rounds: int = 2,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             train_fraction: float = 1.0, seed: int = 7,
                             two_level: bool | None = None,
                             coarse_clusters: int | None = None,
                             seed_strategy: str | None = None,
                             _n_rows: int | None = None,
                             ) -> tuple[DataFrame, dict]:
    """Train the relational-Lloyd quantizer semantic_dedup clusters
    with, WITHOUT assigning or deduping — the piece incremental dedup
    (semantic_dedup_batch_against_index) freezes: centroids trained
    once, then every arriving batch assigns against the frozen table.
    Returns ``(centroids, resolved)`` where centroids is the exploded
    (cluster, pos, cval) frame after ``lloyd_rounds - 1`` update
    rounds (the final assignment round is the CALLER's — exactly the
    split semantic_dedup itself uses) and ``resolved`` records the
    mode ({'two_level', 'coarse_clusters', 'seed_strategy'}) so
    assignment runs the same shape training did. Seeding, sampling
    and the two-level threshold are semantic_dedup's, verbatim —
    semantic_dedup delegates here, so the pinned oracles prove both."""
    if two_level is None:
        two_level = n_clusters > _TWO_LEVEL_MIN_CLUSTERS
    if coarse_clusters is None:
        coarse_clusters = max(2, math.isqrt(n_clusters))

    v = df.select(F.col(id_col).alias("vec_id"),
                  _as_double(F.col(vec_col)).alias("v"))
    v_train = (v if train_fraction >= 1.0
               else v.sample(False, train_fraction, seed=seed))
    r_train = v_train.select("vec_id",
                             F.posexplode("v").alias("pos", "val"))

    if seed_strategy is None:
        seed_strategy = "hash" if two_level else "smallest_id"
    if seed_strategy == "smallest_id":
        # smallest-id seeds (deterministic; what the pinned small-k
        # oracles model) — an orderBy().limit(k) TakeOrdered, fine
        # for the flat regime's bounded k
        seeds = v.orderBy("vec_id").limit(n_clusters)
    elif seed_strategy == "hash":
        # hash-filtered seeds: at auto scale k grows with N, and
        # pushing k full vectors through TakeOrdered's single reduce
        # is its own single-task bottleneck (k=4e6 x 1k-d = ~32 GB
        # through one task). A deterministic md5 rate draw selects
        # ~n_clusters seeds with NO sort and no single task; Lloyd
        # needs "about k" seeds, not exactly k (seed-count variance
        # ~sqrt(k) — documented, not a contract)
        from radio_data_pipeline_spark.sources.layout import (
            md5_prefix_long)
        n_total = max(1, _n_rows if _n_rows is not None else df.count())
        rate = min(1.0, n_clusters / n_total)
        seeds = v.filter(
            md5_prefix_long(F.col("vec_id"))
            < F.lit(int(rate * (1 << 32))))
        # the rate draw selects ~n_clusters seeds in expectation but
        # ZERO with probability ~e^-k over adversarial id sets — and
        # Lloyd with zero centroids silently assigns nothing (the
        # inner join drops every row, violating the one-verdict-per-
        # row contract). Guard: an empty draw falls back to the
        # bounded smallest-id TakeOrdered — cheap precisely in the
        # small-k regime where an empty draw is actually reachable.
        if seeds.limit(1).count() == 0:
            seeds = v.orderBy("vec_id").limit(n_clusters)
    else:
        raise ValueError(
            f"unknown seed_strategy {seed_strategy!r}: "
            "use 'smallest_id', 'hash', or None (auto by mode)")
    c = seeds.select(F.col("vec_id").alias("cluster"),
                     F.posexplode("v").alias("pos", "cval"))

    for _ in range(max(0, lloyd_rounds - 1)):
        a_t = _assign_points(v_train, c, two_level, coarse_clusters)
        # two-level (= corpus-scale) regime: merge-hint the update
        # join — BOTH sides scale with N (assignments and the
        # exploded train set), and compressed stats can bait an
        # auto-broadcast that dies at driver.maxResultSize (the
        # measured requantize hazard). The flat small-k regime keeps
        # the planner's choice — its plans back the pinned oracles.
        upd = a_t.hint("merge") if two_level else a_t
        c = (upd.join(r_train, "vec_id")
             .groupBy("cluster", "pos")
             .agg(F.avg("val").alias("cval")))
    resolved = {"two_level": two_level,
                "coarse_clusters": coarse_clusters,
                "seed_strategy": seed_strategy}
    return c, resolved


def assign_to_centroids(df: DataFrame, centroids: DataFrame,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        two_level: bool = False,
                        coarse_clusters: int | None = None,
                        points_are_small: bool = False) -> DataFrame:
    """Assign each row of ``df`` to its nearest centroid from an
    exploded (cluster, pos, cval) table (train_semantic_centroids
    output). Returns (vec_id, cluster).
    The assignment half of the quantizer: incremental semantic dedup
    assigns every arriving micro-batch with this against FROZEN
    centroids, so per-batch cost is O(|batch|·k·d) — independent of
    the accumulated corpus. ``points_are_small`` is the micro-batch
    contract (bounded input): the two-level fine stage broadcasts the
    batch instead of paying the corpus-scale sort/salt machinery —
    never set it for corpus-sized inputs."""
    v = df.select(F.col(id_col).alias("vec_id"),
                  _as_double(F.col(vec_col)).alias("v"))
    return _assign_points(v, centroids, two_level, coarse_clusters,
                          broadcast_points=points_are_small)


def _semantic_removed(assigned: DataFrame, eps: float,
                      dedup_identical: bool,
                      batch_bounded: bool = False) -> DataFrame:
    """The SemDeDup verdict kernel over an assigned frame (vec_id,
    cluster, v, vn): returns the DISTINCT vec_ids that have a
    SMALLER-id same-cluster witness at round(cosine, 6) >= eps.
    Witnesses are ALL rows (kept and removed alike — removal does not
    launder a document's content out of the corpus history),
    optionally collapsed to per-identical-vector min-id
    representatives (semantics-preserving, see semantic_dedup).

    ``vn`` is the row's precomputed l2 norm: the pair filter is the
    HOT expression (interpreted higher-order functions, O(pairs·d)),
    and hoisting the two norms out of it leaves one array fold per
    pair instead of three. Bit-identical to inline cosine — the norm
    is the SAME sqrt(sum-of-squares) expression evaluated on the same
    vector, and the divisor keeps the same (na·nb) product shape.

    ``batch_bounded`` (the incremental kernel's micro-batch contract
    ONLY — never corpus-sized inputs): broadcast the witness table
    and round-robin-spread the assigned side. The default
    cluster-keyed join places every pair of one cluster in one task,
    and a micro-batch is byte-tiny however compute-heavy its pair
    count, so the within-batch verdict otherwise runs single-task —
    the same measured byte-blindness as the probe and assignment
    spreads (§19 add. 5/7)."""
    wit = assigned.select("cluster", F.col("vec_id").alias("w_id"),
                          F.col("v").alias("wv"),
                          F.col("vn").alias("wvn"))
    if dedup_identical:
        # wvn is a pure function of wv, so any aggregate of the
        # (bit-identical) group values works; min is deterministic
        wit = (wit.groupBy("cluster", "wv")
               .agg(F.min("w_id").alias("w_id"),
                    F.min("wvn").alias("wvn")))
    left = assigned
    if batch_bounded:
        wit = F.broadcast(wit)
        left = assigned.repartition(
            assigned.sparkSession.sparkContext.defaultParallelism)
    return (
        left.join(wit, "cluster")
        .filter(F.col("w_id") < F.col("vec_id"))
        # _dot_double: assigned.v is array<double> by every caller's
        # construction (_as_double), so the cast-free fold is value-
        # identical and skips two array copies per pair
        .filter(F.round(_dot_double(F.col("wv"), F.col("v"))
                        / (F.col("wvn") * F.col("vn")), 6)
                >= eps)
        .select("vec_id").distinct()
    )


def semantic_dedup(df: DataFrame, eps: float = 0.4,
                   n_clusters: int | None = None, lloyd_rounds: int = 2,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   target_cluster_rows: int = 256,
                   dedup_identical: bool = True,
                   train_fraction: float = 1.0, seed: int = 7,
                   two_level: bool | None = None,
                   coarse_clusters: int | None = None,
                   seed_strategy: str | None = None,
                   ) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then inside each
    cluster remove every vector that has a SMALLER-id witness with
    cosine >= ``eps``. Returns (vec_id, cluster, is_kept) — one verdict
    per input row. Min-id-wins is the deterministic, engine-portable
    stand-in for the paper's keep-one-per-epsilon-group rule; the full
    transitive-component variant is functions/dedup.duplicate_clusters.

    Clustering is Lloyd's algorithm done RELATIONALLY (the
    kmeans_embeddings shape): centroids live as (k x dim)-row
    DataFrames, each round is [broadcast centroid join -> per-(vector,
    centroid) distance agg -> argmin window -> centroid mean], zero
    driver round-trips. Seeds are the ``n_clusters`` smallest-id
    vectors (deterministic on any engine / any id layout).

    Scale contract (the reason clustering precedes the pair join):
    within-cluster candidate pairs cost sum(|cluster|^2)/2, so
    ``n_clusters=None`` auto-derives ceil(N / target_cluster_rows)
    clusters, keeping pairs ~N * target/2 — linear in N, exactly the
    near_dup_pairs_lsh blocking argument with learned (data-shaped)
    buckets instead of random hyperplanes. Pass an explicit n_clusters
    when an oracle pins the clustering (the registered
    semantic_dedup_stats query pins 4 for its static SQL oracle).

    Assignment cost (the r5-verdict quadratic hazard, closed here):
    the flat Lloyd assignment joins every row with every centroid —
    O(N·k·d) partials, and with auto k = N/target that is O(N²d) plus
    a broadcast centroid table growing linearly in N. Above
    ``_TWO_LEVEL_MIN_CLUSTERS`` fine centroids the assignment runs
    TWO-LEVEL (the IVF idea applied to the quantizer itself):
    ~sqrt(k) of the fine centroids act as a coarse quantizer; each
    point (and each fine centroid) first picks its nearest coarse
    cell — O(N·sqrt(k)·d) — then compares only against the fine
    centroids filed under that cell (~sqrt(k) on average) — again
    O(N·sqrt(k)·d). Total assignment work is O(N^1.5·d/sqrt(target))
    instead of O(N²d/target), the only broadcast is the
    sqrt(k)·d-row coarse table, and the within-cell join is a plain
    equi-join on (pos, cell) that Catalyst/AQE sizes freely
    (measured sub-quadratic across the 10x->100x decade,
    BENCH_SCALING.md §17). Trade-off: a point whose true nearest
    fine centroid files under a DIFFERENT coarse cell gets its
    second-best — a standard ANN-quantizer approximation that moves
    cluster BOUNDARIES only; the dedup verdict inside every cluster
    remains exact. ``two_level=None`` auto-engages it above
    ``_TWO_LEVEL_MIN_CLUSTERS`` fine clusters (measured wall-clock
    crossover; pinned small-k oracles keep byte-identical output);
    force with True/False, and size the coarse level with
    ``coarse_clusters`` (default isqrt(n_clusters)). Seeds follow the
    mode: flat uses the ``n_clusters`` smallest-id vectors (what the
    pinned oracles model; a bounded-k TakeOrdered), two-level uses a
    deterministic md5 rate draw of ~``n_clusters`` seeds — at auto
    scale k grows with N and funneling k full vectors through
    TakeOrdered's single reduce would be its own single-task
    bottleneck. Override with ``seed_strategy`` ('smallest_id' /
    'hash').

    ``dedup_identical`` (default True) collapses byte-identical
    WITNESS vectors to their min-id representative before the pair
    join — semantics-preserving (a removed row's witness requirement
    is "exists smaller id with cos >= eps"; an identical twin of any
    witness has the same cosine and the representative's id is <= the
    witness's, so the removal set is unchanged — pinned by test) and
    it collapses the mass-duplicate hot cluster the skew study showed
    defeats size-based splitting (BENCH_SCALING.md SS12). Candidates
    are never deduped: every id gets its verdict.
    """
    n_rows = None
    if n_clusters is None:
        n_rows = df.count()
        n_clusters = max(1, math.ceil(n_rows / target_cluster_rows))
    # Lloyd updates train on a sample (train_fraction); only the FINAL
    # assignment touches every row. Centroid training is O(N*d*k) per
    # round — at 100 TB that is the dominant cost and a sample-trained
    # quantizer is the standard trade (the SemDeDup paper's own setup);
    # train_fraction=1.0 (default) keeps the oracle-exact behavior.
    c, resolved = train_semantic_centroids(
        df, n_clusters, lloyd_rounds=lloyd_rounds, vec_col=vec_col,
        id_col=id_col, train_fraction=train_fraction, seed=seed,
        two_level=two_level, coarse_clusters=coarse_clusters,
        seed_strategy=seed_strategy, _n_rows=n_rows)
    a = assign_to_centroids(df, c, vec_col=vec_col, id_col=id_col,
                            two_level=resolved["two_level"],
                            coarse_clusters=resolved["coarse_clusters"])
    v = df.select(F.col(id_col).alias("vec_id"),
                  _as_double(F.col(vec_col)).alias("v"))
    assigned = v.join(a, "vec_id").withColumn("vn", l2_norm(F.col("v")))
    removed = (_semantic_removed(assigned, eps, dedup_identical)
               .withColumn("_rm", F.lit(True)))
    return (
        assigned.join(removed, "vec_id", "left")
        .select("vec_id", "cluster",
                F.col("_rm").isNull().alias("is_kept"))
    )


def semantic_dedup_batch_against_index(
        batch_df: DataFrame, index: DataFrame | None, batch_id: int,
        centroids: DataFrame, meta: dict | None = None,
        eps: float = 0.4, vec_col: str = "embedding",
        id_col: str = "vec_id", dedup_identical: bool = True,
        ) -> tuple[DataFrame, DataFrame]:
    """Incremental SemDeDup: dedup one micro-batch within itself and
    against ``index``, the (id, v, vn, cell) rows of every previously
    processed batch (None for the first). ``centroids``/``meta`` are a
    FROZEN quantizer from train_semantic_centroids. ``batch_id``
    numbers the chunk in arrival order; verdicts do not depend on it.

    Within the batch the semantic_dedup rule applies (a smaller-id
    same-cell witness at round(cosine, 6) >= eps); across batches
    arrival order wins (any index hit drops the new doc). Under
    id-ordered arrival the survivors equal batch semantic_dedup of the
    whole corpus. Returns ``(survivors, rows)``: ``rows`` are the
    batch's index rows — dropped docs included, so a later twin of a
    dropped doc still matches — returned PERSISTED; the caller
    appends them to the next call's index and unpersists them."""
    if meta is None:
        # no silent default: a two-level-trained quantizer served flat
        # assigns probes with a different shape than the index rows
        # were filed with — boundary twins land in different cells
        raise ValueError(
            "meta required alongside caller-supplied centroids — pass "
            "the resolved dict train_semantic_centroids returned")
    a = assign_to_centroids(batch_df, centroids, vec_col=vec_col,
                            id_col=id_col, two_level=meta["two_level"],
                            coarse_clusters=meta["coarse_clusters"],
                            points_are_small=True)
    v = batch_df.select(F.col(id_col).alias("vec_id"),
                        _as_double(F.col(vec_col)).alias("v"))
    rows = (v.join(a, "vec_id")
            .select(F.col("vec_id").alias("id"), "v",
                    F.col("cluster").alias("cell"))
            .withColumn("vn", l2_norm(F.col("v")))
            .persist())
    try:
        assigned = rows.select(F.col("id").alias("vec_id"), "v", "vn",
                               F.col("cell").alias("cluster"))
        dropped = _semantic_removed(assigned, eps, dedup_identical,
                                    batch_bounded=True)
        if index is not None:
            # bounded driver metadata: <= min(|batch|, k) cell ids.
            # The pruned index is round-robin spread before the pair
            # join: a clustered corpus puts most pairs in a few hot
            # cells, and a byte-small scan would run them in one task.
            cells = [r["cluster"] for r in
                     assigned.select("cluster").distinct().collect()]
            pruned = (index.filter(F.col("cell").isin(cells))
                      .repartition(rows.sparkSession.sparkContext
                                   .defaultParallelism * 2))
            matched = (
                pruned
                .join(F.broadcast(assigned.select(
                          F.col("vec_id").alias("new_id"),
                          F.col("cluster").alias("cell"),
                          F.col("v").alias("nv"),
                          F.col("vn").alias("nvn"))),
                      "cell")
                .filter(F.round(_dot_double(F.col("v"), F.col("nv"))
                                / (F.col("vn") * F.col("nvn")), 6)
                        >= eps)
                .select(F.col("new_id").alias("vec_id")))
            dropped = dropped.union(matched)
        # dropped is bounded by |batch| ids, so the anti-join build
        # side is broadcast statically: batch_df never shuffles
        survivors = batch_df.join(
            F.broadcast(dropped.distinct()
                        .withColumnRenamed("vec_id", id_col)),
            id_col, "left_anti")
    except BaseException:
        # the kernel owns `rows` until it returns it
        rows.unpersist()
        raise
    return survivors, rows


def write_ivf_index(df: DataFrame, path: str, n_centroids: int = 8,
                    seed: int = 11, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """Materialize the IVF-Flat index as a parquet dataset PARTITIONED
    BY the inverted-list id — the persisted form the ivf_topk
    docstring promises: ``ivf_list=K/`` hive directories, one file per
    list (each list's rows collapse to one task via the repartition).

    This is what 'an ANN index' means on a data lake: no serving
    process, no index file format — the PARTITION LAYOUT is the index.
    A probe reads nprobe/n_centroids of the data at PLANNING time
    (directory pruning, before any I/O), and the layout is readable by
    any parquet engine. Rebuilds are one deterministic job (centroids
    are seeded), so index refresh after an append is an
    overwrite-partitions run of exactly the appended lists."""
    head = (df.select(vec_col).filter(F.col(vec_col).isNotNull()).first())
    if head is None:
        raise ValueError("cannot index an empty/all-null vector table")
    centroids = ivf_centroids(len(head[0]), n_centroids, seed)
    assigned = df.withColumn("ivf_list", ivf_assign(F.col(vec_col),
                                                    centroids))
    (assigned.repartition(F.col("ivf_list"))
     .write.mode("overwrite").partitionBy("ivf_list").parquet(path))


def open_index(spark, path: str) -> DataFrame:
    """Open a write_ivf_index / write_lsh_index dataset ONCE for a
    probe loop. Each ``spark.read.parquet(path)`` rebuilds the
    partition listing from scratch — at 1,475 bucket directories that
    is ~2 s of driver file-system walking per probe, dwarfing the
    pruned scan itself (measured, BENCH_SCALING §15 addendum 3). The
    returned DataFrame carries its InMemoryFileIndex, so passing it
    to ivf_topk_indexed / lsh_multiprobe_topk_indexed makes repeated
    probes planning-only. Re-open after appends (the cached listing
    does not see new files)."""
    return spark.read.parquet(path)


def _index_df(spark, path_or_df) -> DataFrame:
    if isinstance(path_or_df, DataFrame):
        return path_or_df
    return spark.read.parquet(path_or_df)


def ivf_topk_indexed(spark, path: "str | DataFrame",
                     query_vec: list[float],
                     k: int = 10, n_centroids: int = 8, nprobe: int = 2,
                     seed: int = 11, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Top-k over a write_ivf_index dataset: the query's ``nprobe``
    nearest lists are computed driver-side from the same seeded
    centroids (pure metadata — no data read), and the scan filter
    ``ivf_list IN (probe)`` prunes to those hive directories at
    planning time. Everything after the pruned scan is the exact
    ivf_topk tail: one cosine fold + TakeOrdered, map-only.

    The probe MUST use the same (n_centroids, seed) the index was
    written with — a mismatch probes the wrong directories; pinned by
    the parity test against inline ivf_topk. ``path`` may be an
    open_index() DataFrame instead of a string — in a probe LOOP that
    skips the per-call directory relisting (§15 addendum 3)."""
    qvec = np.asarray(query_vec, dtype=float)
    centroids = ivf_centroids(len(query_vec), n_centroids, seed)
    probe = [int(i) for i in np.argsort(-(centroids @ qvec))[:nprobe]]
    q = _query_literal(query_vec)
    return (
        _index_df(spark, path)
        .filter(F.col("ivf_list").isin(probe))
        .select(F.col(id_col),
                F.round(cosine_similarity(F.col(vec_col), q), 6)
                .alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def multiprobe_buckets(query_vec: list[float], planes: np.ndarray,
                       n_probes: int = 4) -> list[int]:
    """Multi-probe LSH bucket schedule (Lv et al. 2007): the query's
    own bucket first, then neighbors reached by flipping the
    SMALLEST-|margin| hyperplane bits — the planes the query sits
    closest to, i.e. the splits a true neighbor most likely straddles.
    Probing T buckets recovers most of the recall that T independent
    hash tables would, at 1/T the index storage. Pure driver-side
    metadata (projections of one vector); single-bit flips in
    ascending-margin order, then the two-smallest-bits flip, ...,
    capped at n_probes buckets."""
    from itertools import combinations

    qvec = np.asarray(query_vec, dtype=float)
    projs = planes @ qvec
    base = int(sum((1 << r) for r, p in enumerate(projs) if p > 0))
    order = np.argsort(np.abs(projs))          # nearest planes first
    buckets = [base]
    for n_flip in range(1, len(planes) + 1):
        for combo in combinations(range(len(order)), n_flip):
            if len(buckets) >= n_probes:
                return buckets
            mask = sum(1 << int(order[i]) for i in combo)
            b = base ^ mask
            if b not in buckets:
                buckets.append(b)
    return buckets


def lsh_multiprobe_topk(df: DataFrame, query_vec: list[float],
                        k: int = 10, n_planes: int = 6,
                        n_probes: int = 4, seed: int = 7,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k scanning the query's multi-probe bucket
    schedule instead of one bucket: candidates = ~n_probes * N/2^R
    rows, recall approaches n_probes independent tables' without
    storing them. Same scale shape as lsh_bucket_topk — with the
    table written partitioned/bucketed by the sign-pattern id, the
    IN-list prunes at planning time (the write_ivf_index pattern)."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    probe = multiprobe_buckets(query_vec, planes, n_probes)
    bucketed = df.withColumn("_bucket", lsh_bucket(F.col(vec_col), planes))
    q = _query_literal(query_vec)
    return (
        bucketed.filter(F.col("_bucket").isin(probe))
        .select(F.col(id_col),
                F.round(cosine_similarity(F.col(vec_col), q), 6)
                .alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def write_lsh_index(df: DataFrame, path: str, n_planes: int = 6,
                    seed: int = 7, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """Materialize the sign-pattern LSH index as parquet partitioned
    by bucket id (``lsh_bucket=K/`` hive dirs) — the same
    layout-as-index idea as write_ivf_index, for the hyperplane
    quantizer: no index format, no serving process, any parquet
    engine reads it. A (multi-)probe reads n_probes/2^n_planes of the
    data at PLANNING time. Seeded hyperplanes make rebuilds and
    appended-shard refreshes deterministic. Pick n_planes ~
    log2(N/target_bucket_rows) at scale (auto_n_planes)."""
    head = (df.select(vec_col).filter(F.col(vec_col).isNotNull()).first())
    if head is None:
        raise ValueError("cannot index an empty/all-null vector table")
    planes = hyperplanes(len(head[0]), n_planes, seed)
    assigned = df.withColumn("lsh_bucket",
                             lsh_bucket(F.col(vec_col), planes))
    (assigned.repartition(F.col("lsh_bucket"))
     .write.mode("overwrite").partitionBy("lsh_bucket").parquet(path))


def append_to_lsh_index(df: DataFrame, path: str, n_planes: int = 6,
                        seed: int = 7, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> None:
    """Incremental refresh of a write_lsh_index layout: hash the NEW
    vectors with the SAME seeded hyperplanes (pass the writer's
    (n_planes, seed) — a mismatch files rows under wrong buckets) and
    ``mode('append')`` them into their bucket directories. Cost is one
    map job over the appended shard; the existing corpus is never
    read, rewritten, or locked, and concurrent readers keep planning
    against a consistent directory tree (parquet appends are new
    files, visible atomically per file).

    At-least-once caveat: a retried append duplicates its rows (plain
    parquet append has no transaction). Retry-safe ingest should write
    each batch to its own directory with mode overwrite, or follow
    with an exact dedup on ``id_col`` at read time."""
    head = (df.select(vec_col).filter(F.col(vec_col).isNotNull()).first())
    if head is None:
        raise ValueError("cannot append an empty/all-null vector table")
    planes = hyperplanes(len(head[0]), n_planes, seed)
    assigned = df.withColumn("lsh_bucket",
                             lsh_bucket(F.col(vec_col), planes))
    (assigned.repartition(F.col("lsh_bucket"))
     .write.mode("append").partitionBy("lsh_bucket").parquet(path))


def append_to_ivf_index(df: DataFrame, path: str, n_centroids: int = 8,
                        seed: int = 11, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> None:
    """Incremental refresh of a write_ivf_index layout — the
    'overwrite-partitions run of exactly the appended lists' the
    writer's docstring promises, as an append: seeded centroids make
    list assignment deterministic, so new vectors file under exactly
    the ``ivf_list=K`` directories they belong to. Same at-least-once
    caveat as append_to_lsh_index."""
    head = (df.select(vec_col).filter(F.col(vec_col).isNotNull()).first())
    if head is None:
        raise ValueError("cannot append an empty/all-null vector table")
    centroids = ivf_centroids(len(head[0]), n_centroids, seed)
    assigned = df.withColumn("ivf_list", ivf_assign(F.col(vec_col),
                                                    centroids))
    (assigned.repartition(F.col("ivf_list"))
     .write.mode("append").partitionBy("ivf_list").parquet(path))


def lsh_multiprobe_topk_indexed(spark, path: "str | DataFrame",
                                query_vec: list[float], k: int = 10,
                                n_planes: int = 6, n_probes: int = 4,
                                seed: int = 7,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id") -> DataFrame:
    """Multi-probe top-k over a write_lsh_index dataset: the probe
    schedule (pure driver-side metadata — same (n_planes, seed) as
    the writer, or the wrong directories get probed) becomes a
    partition filter, so only n_probes of 2^n_planes directories are
    opened or scanned. The tail is the exact lsh_multiprobe_topk
    tail: cosine fold + TakeOrdered, map-only. ``path`` may be an
    open_index() DataFrame — in a probe loop that skips the per-call
    relisting of every bucket directory, which at high bucket counts
    dominates the probe (§15 addendum 3)."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    probe = multiprobe_buckets(query_vec, planes, n_probes)
    q = _query_literal(query_vec)
    return (
        _index_df(spark, path)
        .filter(F.col("lsh_bucket").isin(probe))
        .select(F.col(id_col),
                F.round(cosine_similarity(F.col(vec_col), q), 6)
                .alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _probe_schedule_cols(vec_col: str, planes: np.ndarray,
                         n_probes: int) -> "list[Column]":
    """Per-ROW multi-probe schedule as column expressions: the row's
    own sign-pattern bucket, then the buckets reached by flipping its
    ``n_probes - 1`` smallest-|margin| plane bits one at a time —
    sort (|proj|, plane) pairs ascending with stable plane-index
    ties, matching the driver-side multiprobe_buckets schedule for
    single-bit flips. Shared by knn_join and knn_join_indexed so the
    two candidate sets are definitionally identical."""
    n_planes = len(planes)
    projs = [dot_product(F.col(vec_col), _query_literal(list(p)))
             for p in planes]
    base = lsh_bucket(F.col(vec_col), planes)
    margins = F.array_sort(F.array(*[
        F.struct(F.abs(p).alias("m"), F.lit(r).alias("r"))
        for r, p in enumerate(projs)]))
    probe_cols = [base]
    for i in range(min(n_probes - 1, n_planes)):
        r_i = margins[i]["r"]
        bit = F.lit(0).cast("long")
        for r in range(n_planes):
            bit = F.when(r_i == r, F.lit(1 << r).cast("long")) \
                   .otherwise(bit)
        probe_cols.append(base.bitwiseXOR(bit))
    return probe_cols


def knn_join(queries_df: DataFrame, corpus_df: DataFrame, k: int = 3,
             n_planes: int | None = None, n_probes: int = 2,
             seed: int = 7, vec_col: str = "embedding",
             id_col: str = "vec_id", exclude_self: bool = True,
             target_bucket_rows: int = 64,
             bucket_cap: int | None = 1024) -> DataFrame:
    """Batch k-NN join — the retrieval primitive: for EVERY row of
    ``queries_df``, the top-k most-cosine-similar rows of
    ``corpus_df``, found through LSH blocking with PER-ROW multi-probe
    (each query also probes the buckets reached by flipping its
    ``n_probes - 1`` smallest-|margin| planes, computed inside the
    plan — no driver loop over queries, unlike the single-vector
    lsh_multiprobe_topk). Returns (vec_id, rank, nn_id, cosine); rank
    orders by rounded cosine desc then nn_id (engine-portable ties).

    Scale shape: candidates per query <= n_probes * max-bucket rows;
    with auto planes (n_planes=None derives from the CORPUS count,
    like near_dup_pairs_lsh) buckets hold ~target_bucket_rows, so the
    join is ~N_q * n_probes * target rows — linear in queries, never
    all-pairs. One explode (n_probes rows per query), one bucket
    equi-join carrying both partitionings, one per-query top-k window
    riding the join's hash partitioning. A corpus row lives in exactly
    one bucket, so multi-probe never duplicates a candidate pair.
    Over a write_lsh_index layout the corpus side arrives
    pre-partitioned by the join key.

    ``bucket_cap`` (default 1024) is the skew guard the mining study
    mandated (BENCH_SCALING §12: identical vectors defeat plane
    splitting, and AQE's byte-based skew split never sees a hot
    COMPUTE bucket): corpus candidates in a bucket over the cap are
    md5-rate downsampled to ~cap, bounding join cost at N_q * n_probes
    * cap under ANY skew. It engages only on buckets 16x past the
    auto-plane target, i.e. degenerate (mass-duplicate) buckets where
    the dropped candidates are interchangeable copies; None disables
    (the registered oracle query does, modeling the raw join).
    Identical-vector collapse is deliberately NOT offered here —
    unlike mining, retrieval output names specific neighbor ids, so
    collapsing twins would change the answer, not just the cost."""
    if n_planes is None:
        n_planes = auto_n_planes(corpus_df.count(), target_bucket_rows)
    head = (corpus_df.select(vec_col)
            .filter(F.col(vec_col).isNotNull()).first())
    if head is None:
        return (queries_df.select(
            F.col(id_col).alias("vec_id"), F.lit(0).alias("rank"),
            F.col(id_col).alias("nn_id"),
            F.lit(0.0).alias("cosine")).limit(0))
    planes = hyperplanes(len(head[0]), n_planes, seed)
    from pyspark.sql import Window

    v = _as_double(F.col(vec_col))
    c = corpus_df.select(F.col(id_col).alias("nn_id"), v.alias("cv"),
                         lsh_bucket(F.col(vec_col), planes)
                         .alias("bucket"),
                         l2_norm(v).alias("cn"))
    if bucket_cap is not None:
        from radio_data_pipeline_spark.sources.layout import (
            md5_prefix_long)
        sizes = c.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
        u = md5_prefix_long(F.col("nn_id")) / F.lit(float(1 << 32))
        c = (c.join(F.broadcast(sizes), "bucket")
             .filter((F.col("_bn") <= bucket_cap)
                     | (u < F.lit(float(bucket_cap)) / F.col("_bn")))
             .drop("_bn"))
    q = queries_df.select(
        F.col(id_col).alias("vec_id"), v.alias("qv"),
        l2_norm(v).alias("qn"),
        F.explode(F.array(*_probe_schedule_cols(vec_col, planes,
                                                n_probes)))
        .alias("bucket"))
    # norms hoisted to one per ROW (same sqrt-of-sum-of-squares
    # expression, bit-identical to inline cosine): the candidate pair
    # score is the hot path, and this leaves one array fold per pair
    # instead of three
    scored = (
        q.join(c, "bucket")
        .select("vec_id", "nn_id",
                F.round(dot_product(F.col("qv"), F.col("cv"))
                        / (F.col("qn") * F.col("cn")), 6)
                .alias("cosine"))
    )
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("nn_id"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"),
                                             F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", F.col("rank").cast("int").alias("rank"),
                "nn_id", "cosine")
    )


def knn_join_indexed(spark, queries_df: DataFrame,
                     path: "str | DataFrame", k: int = 3,
                     n_planes: int = 6, n_probes: int = 2,
                     seed: int = 7, vec_col: str = "embedding",
                     id_col: str = "vec_id", exclude_self: bool = True,
                     bucket_cap: int | None = 1024) -> DataFrame:
    """Batch k-NN join over a write_lsh_index dataset — the retrieval
    primitive reshaped for a PERSISTED corpus: identical results to
    ``knn_join(queries, corpus, ...)`` (same probe schedule, same
    bucket_cap semantics, parity-pinned), but the corpus side is the
    index layout, which changes the cost model in two ways:

    - **planning-time bucket pruning**: the batch's distinct probe
      buckets (a bounded driver-side collect — at most
      ``n_queries * n_probes`` longs, the dedup_batch_against_index
      bounded-metadata pattern) become an IN partition filter, so
      only probed ``lsh_bucket=K/`` directories are listed or read.
      Probe I/O scales with the BATCH, not the corpus — at a small
      serving batch most of the index is never touched.
    - **no corpus shuffle**: the exploded query table (micro-batch
      sized) is broadcast into the pruned scan, so candidate
      generation is map-only over index files; the only shuffle is
      the per-query top-k window over candidate rows
      (~n_queries * n_probes * bucket rows). The inline knn_join
      must instead hash 2 sides and shuffle the FULL corpus into the
      bucket equi-join.

    ``n_planes``/``seed`` MUST match the index writer's (a mismatch
    probes the wrong directories — same contract as the other
    ``*_indexed`` probes); there is deliberately no auto-planes here
    because the plane count is baked into the layout. ``path`` may
    be an ``open_index()`` handle to skip per-call re-listing.
    ``bucket_cap`` counts rows per bucket on the PRUNED scan — whole
    buckets survive pruning, so the counts (and the md5 downsample
    verdicts) equal the inline form's.
    """
    from pyspark.sql import Window

    head = (queries_df.select(vec_col)
            .filter(F.col(vec_col).isNotNull()).first())
    if head is None:
        return (queries_df.select(
            F.col(id_col).alias("vec_id"), F.lit(0).alias("rank"),
            F.col(id_col).alias("nn_id"),
            F.lit(0.0).alias("cosine")).limit(0))
    planes = hyperplanes(len(head[0]), n_planes, seed)
    v = _as_double(F.col(vec_col))
    q = queries_df.select(
        F.col(id_col).alias("vec_id"), v.alias("qv"),
        l2_norm(v).alias("qn"),
        F.explode(F.array(*_probe_schedule_cols(vec_col, planes,
                                                n_probes)))
        .alias("bucket"))
    probe = [int(r["bucket"]) for r in
             q.select("bucket").distinct().collect()]
    c = (_index_df(spark, path)
         .filter(F.col("lsh_bucket").isin(probe))
         .select(F.col(id_col).alias("nn_id"), v.alias("cv"),
                 F.col("lsh_bucket").alias("bucket"),
                 l2_norm(v).alias("cn")))
    if bucket_cap is not None:
        from radio_data_pipeline_spark.sources.layout import (
            md5_prefix_long)
        sizes = c.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
        u = md5_prefix_long(F.col("nn_id")) / F.lit(float(1 << 32))
        c = (c.join(F.broadcast(sizes), "bucket")
             .filter((F.col("_bn") <= bucket_cap)
                     | (u < F.lit(float(bucket_cap)) / F.col("_bn")))
             .drop("_bn"))
    # norms hoisted to one per ROW — bit-identical to inline cosine
    # (see knn_join); candidate scoring drops to one fold per pair
    scored = (
        c.join(F.broadcast(q), "bucket")
        .select("vec_id", "nn_id",
                F.round(dot_product(F.col("qv"), F.col("cv"))
                        / (F.col("qn") * F.col("cn")), 6)
                .alias("cosine"))
    )
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("nn_id"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"),
                                             F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", F.col("rank").cast("int").alias("rank"),
                "nn_id", "cosine")
    )
