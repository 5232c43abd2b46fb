"""Array-column queries over `embeddings` — the driver-table analogues
of the reference's DATA-vector operators (SURVEY.md §2.2-2.5): per-row
channel sums (A1), cross-row element-wise sums (A2), channel crops
(F7), element masking (F6), ON-OFF differencing (M7), plus the
similarity-search extension.

Float parity notes: embeddings store float32; both sides cast to
DOUBLE before any fold so accumulation happens in float64, and both
sides fold in array order, so sums are bit-identical before the
defensive round(…, 6).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radio_data_pipeline_spark.functions.similarity import (
    cosine_similarity,
    cosine_topk,
    hyperplanes,
    ivf_centroids,
    ivf_topk,
    lsh_bucket_topk,
    near_dup_pairs_lsh,
)
from radio_data_pipeline_spark.operators.ordering import bounded_sort
from radio_data_pipeline_spark.plans.registry import register
from radio_data_pipeline_spark.sources.parquet import (
    load_table,
    load_table_fanned,
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain scan: single-pass array folds cost less than the shuffle a
    # fan-out would add — used by the posexplode/groupBy queries whose
    # own aggregation exchange re-spreads the work anyway
    return load_table(spark, sf_dir, "embeddings")


def _emb_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vec_id-RANGE fan-out for the per-row fold queries that end with
    # orderBy(vec_id): when the fan fires (small scan), the one range
    # exchange both parallelizes the fold across cores AND satisfies
    # the trailing sort, so the fold runs once per action instead of
    # twice (the orderBy boundary-sampling job re-ran the fold stage —
    # operators/ordering.py). Shuffling the embedding rows here costs
    # the same bytes the round-robin fan would; at real scale the fan
    # is a no-op and the narrow fold OUTPUT is range-shuffled by the
    # query's own orderBy, exactly as before.
    return load_table_fanned(spark, sf_dir, "embeddings",
                             range_cols=("vec_id",))


def _query_vec(emb: DataFrame, vec_id: int = 0) -> list[float]:
    """Fetch the query vector as plain floats (one tiny driver job at
    plan-build time — the ANN queries' only eager step). Fails loudly
    when the id is absent instead of TypeError-ing on None."""
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()
    if row is None:
        raise ValueError(f"query vector vec_id={vec_id} not found")
    return [float(v) for v in row[0]]


def _emb_fanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: similarity search does many dot products per row
    # (query/centroid/self-join sides), far above the vector bytes;
    # keep all cores busy on small single-file scans (no-op at real
    # scale — see parquet.py)
    return load_table_fanned(spark, sf_dir, "embeddings")


@register(
    "vector_sum",
    oracle="""
    SELECT vec_id,
           round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 6)
             AS intensity
    FROM embeddings
    ORDER BY vec_id
    """,
    doc="Reference A1 continuum integration (sum over the in-row array "
        "axis, utils.py:105-118) as an in-order JVM-side fold — no "
        "explode, no shuffle, map-only at any scale.",
    tags=("array", "agg"),
)
def vector_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.integrate import array_sum
    return (
        _emb_by_id(spark, sf_dir)
        .select("vec_id",
                F.round(array_sum(F.col("embedding")), 6).alias("intensity"))
        .orderBy("vec_id")
    )


@register(
    "vector_slice_sum",
    oracle="""
    SELECT vec_id,
           round(list_aggregate(CAST(embedding[5:36] AS DOUBLE[]), 'sum'), 6)
             AS cropped_intensity
    FROM embeddings
    ORDER BY vec_id
    """,
    doc="Reference F7 channel-window crop (validate.py:72-102: "
        "data[start:stop+1], 0-based inclusive -> channels 4..35) then "
        "integrate; slice is positional, stays in codegen.",
    tags=("array", "filter"),
)
def vector_slice_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.integrate import array_sum
    from radio_data_pipeline_spark.operators.validation import crop_channels
    cropped = crop_channels(_emb_by_id(spark, sf_dir), 4, 35,
                            data_col="embedding")
    return (
        cropped.select(
            "vec_id",
            F.round(array_sum(F.col("embedding")), 6)
             .alias("cropped_intensity"))
        .orderBy("vec_id")
    )


@register(
    "vector_mask_negative_sum",
    oracle="""
    SELECT vec_id,
           round(list_aggregate(
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CASE WHEN x < 0 THEN 0.0 ELSE x END),
             'sum'), 6) AS masked_intensity
    FROM embeddings
    ORDER BY vec_id
    """,
    doc="Reference F6 element masking (validate.py:25-37 masks NaN "
        "elements; here the mask predicate is x<0 since the synthetic "
        "vectors carry no NaNs) — element-wise transform + fold.",
    tags=("array", "validation"),
)
def vector_mask_negative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    masked = F.transform(
        F.col("embedding"),
        lambda x: F.when(x.cast("double") < 0, F.lit(0.0))
                   .otherwise(x.cast("double")))
    return (
        _emb_by_id(spark, sf_dir)
        .select("vec_id",
                F.round(F.aggregate(masked, F.lit(0.0),
                                    lambda acc, x: acc + x), 6)
                 .alias("masked_intensity"))
        .orderBy("vec_id")
    )


@register(
    "vector_elementwise_sum",
    oracle="""
    SELECT pos, round(sum(val), 6) AS intensity, count(*) AS n_rows
    FROM (
      SELECT generate_subscripts(embedding, 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS val
      FROM embeddings
    )
    GROUP BY pos
    ORDER BY pos
    """,
    doc="Reference A2 spectrum integration (element-wise sum across "
        "rows, utils.py:120-124): posexplode -> groupBy(pos). Shuffle "
        "volume is O(n_channels) after map-side partial aggregation, "
        "independent of row count. pos is 1-based to match SQL "
        "generate_subscripts.",
    tags=("array", "agg", "shuffle"),
)
def vector_elementwise_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .select(F.posexplode("embedding").alias("pos0", "val"))
        .select((F.col("pos0") + 1).alias("pos"),
                F.col("val").cast("double").alias("val"))
        .groupBy("pos")
        .agg(F.round(F.sum("val"), 6).alias("intensity"),
             F.count(F.lit(1)).alias("n_rows"))
        # output bounded by the embedding dimension (64 rows at any
        # corpus size) -> single-partition range sort, no sampling job
        .transform(bounded_sort, "pos")
    )


@register(
    "vector_onoff_diff",
    oracle="""
    SELECT pos, round(sum(CASE WHEN label % 2 = 0 THEN val ELSE -val END), 6)
             AS intensity
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS val
      FROM embeddings
    )
    GROUP BY pos
    ORDER BY pos
    """,
    doc="Reference M7 ON-OFF spectrum subtraction (spectrum.py:63-67) "
        "as ONE signed aggregation (sum of +val/-val) instead of two "
        "passes + a join — half the shuffle volume.",
    tags=("array", "agg"),
)
def vector_onoff_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    sign = F.when(F.col("label") % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return (
        _emb(spark, sf_dir)
        .select(sign.alias("sign"), F.posexplode("embedding").alias("pos0", "val"))
        .select((F.col("pos0") + 1).alias("pos"),
                (F.col("val").cast("double") * F.col("sign")).alias("sval"))
        .groupBy("pos")
        .agg(F.round(F.sum("sval"), 6).alias("intensity"))
        # output bounded by the fixed array dimension (pos <= 64) (r12)
        .transform(bounded_sort, "pos")
    )


@register(
    "cosine_topk",
    oracle="""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM embeddings e, q
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
    doc="Brute-force exact cosine top-k against the vec_id=0 query "
        "vector — the ANN correctness baseline. Map + TakeOrdered, no "
        "sort shuffle.",
    tags=("similarity", "topk"),
)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_fanned(spark, sf_dir)
    return cosine_topk(emb, _query_vec(emb), k=10)


def _plane_sql(plane) -> str:
    # float() first: numpy >= 2 reprs np.float64 as 'np.float64(x)',
    # which is not SQL; plain-float repr round-trips exactly
    return "[" + ",".join(f"{float(v)!r}" for v in plane) + "]"


def _lsh_oracle(n_planes: int = 6, seed: int = 7, dim: int = 64) -> str:
    planes = hyperplanes(dim, n_planes, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{_plane_sql(list(p))}) > 0 THEN {1 << r} ELSE 0 END)"
        for r, p in enumerate(planes))
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {bucket_terms} AS bucket
      FROM embeddings
    ),
    q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT b.vec_id,
           round(list_dot_product(b.v, q.qv)
                 / (sqrt(list_dot_product(b.v, b.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM b, q
    WHERE b.bucket = q.qbucket
    ORDER BY cosine DESC, b.vec_id
    LIMIT 10
    """


@register(
    "lsh_bucket_topk",
    oracle=_lsh_oracle(),
    doc="Approximate top-k restricted to the query's random-hyperplane "
        "LSH bucket — the scale path for similarity search: with the "
        "table bucketed by the sign-pattern id, the scan prunes to "
        "~N/2^R rows before any distance math.",
    tags=("similarity", "topk", "lsh"),
)
def lsh_bucket_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_fanned(spark, sf_dir)
    return lsh_bucket_topk(emb, _query_vec(emb), k=10,
                           n_planes=6, seed=7)


def _near_dup_oracle(threshold: float = 0.4, n_planes: int = 4,
                     seed: int = 7, dim: int = 64) -> str:
    planes = hyperplanes(dim, n_planes, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_sql(list(p))}) > 0 "
        f"THEN {1 << r} ELSE 0 END)"
        for r, p in enumerate(planes))
    return f"""
    WITH b AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    bb AS (SELECT id, v, {bucket_terms} AS bucket FROM b)
    SELECT a.id AS id_a, c.id AS id_b,
           round(list_dot_product(a.v, c.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
    FROM bb a JOIN bb c ON a.bucket = c.bucket AND a.id < c.id
    WHERE round(list_dot_product(a.v, c.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(c.v, c.v))), 6) >= {threshold}
    ORDER BY id_a, id_b
    """


@register(
    "embedding_near_dup_lsh",
    oracle=_near_dup_oracle(),
    doc="Embedding-cosine near-duplicate pairs over the WHOLE table "
        "with LSH blocking (functions/similarity.py near_dup_pairs_lsh)"
        ": the self-join runs within sign-pattern buckets, so candidate "
        "pairs are sum(|bucket|^2)/2, not N^2/2 — at 100 TB the table "
        "is bucketed by the LSH id so each bucket joins co-located. "
        "n_planes is EXPLICIT here (4, the value the auto-derivation "
        "returns for the sf0.01 gate corpus) because the static "
        "oracle bakes its hyperplanes at registration time — an "
        "auto-deriving registered query drifts from the fixed oracle "
        "the moment the harness runs a bigger corpus (caught by the "
        "round-4 full-sweep at sf0.1: 112 vs 177 rows). The LIBRARY "
        "default (near_dup_pairs_lsh n_planes=None) auto-derives "
        "~log2(N/64) planes; tests/test_dedup_caps.py pins both the "
        "default and the bounded-candidate property at a 40x corpus.",
    tags=("similarity", "dedup", "lsh", "join"),
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (near_dup_pairs_lsh(_emb_fanned(spark, sf_dir), threshold=0.4,
                               n_planes=4, seed=7)
            .orderBy("id_a", "id_b"))


def _ivf_oracle(k: int = 10, n_centroids: int = 8, nprobe: int = 2,
                seed: int = 11, dim: int = 64) -> str:
    centroids = ivf_centroids(dim, n_centroids, seed)
    d_cols = ", ".join(
        f"list_dot_product(v, {_plane_sql(list(c))}) AS d{i}"
        for i, c in enumerate(centroids))
    best = "greatest(" + ", ".join(f"d{i}" for i in range(n_centroids)) + ")"
    case = "CASE " + " ".join(
        f"WHEN d{i} = {best} THEN {i}" for i in range(n_centroids)) + " END"
    idx_vals = ", ".join(f"({i})" for i in range(n_centroids))
    probe_case = "CASE t.i " + " ".join(
        f"WHEN {i} THEN qd.d{i}" for i in range(n_centroids)) + " END"
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    d AS (SELECT vec_id, v, {d_cols} FROM b),
    assigned AS (SELECT vec_id, v, {case} AS lst FROM d),
    q AS (SELECT v AS qv FROM b WHERE vec_id = 0),
    qd AS (SELECT {d_cols} FROM (SELECT qv AS v FROM q)),
    probe AS (
      SELECT t.i FROM (VALUES {idx_vals}) t(i), qd
      ORDER BY {probe_case} DESC, t.i
      LIMIT {nprobe}
    )
    SELECT a.vec_id,
           round(list_dot_product(a.v, q.qv)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM assigned a, q
    WHERE a.lst IN (SELECT i FROM probe)
    ORDER BY cosine DESC, a.vec_id
    LIMIT {k}
    """


@register(
    "ivf_topk",
    oracle=_ivf_oracle(),
    doc="IVF-Flat ANN top-k (functions/similarity.py ivf_topk): vectors "
        "assigned to nearest coarse centroid, query scans only its "
        "nprobe=2 closest inverted lists of 8. At 100 TB the table is "
        "written partitioned by ivf_list so the probe prunes parquet "
        "partitions before any distance math.",
    tags=("similarity", "topk", "ivf"),
)
def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_fanned(spark, sf_dir)
    return ivf_topk(emb, _query_vec(emb), k=10, n_centroids=8,
                    nprobe=2, seed=11)


@register(
    "embedding_pair_cosine",
    oracle="""
    WITH d AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 40)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM d a JOIN d b ON a.vec_id < b.vec_id AND a.label = b.label
    ORDER BY id_a, id_b
    """,
    doc="Pairwise cosine within labels (theta self-join on a pruned "
        "subset) — embedding-cosine near-dup detection; the label "
        "equality is the blocking key that keeps the join linear-ish.",
    tags=("similarity", "join"),
)
def embedding_pair_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (_emb_fanned(spark, sf_dir).filter(F.col("vec_id") < 40)
         .select("vec_id", "label", "embedding"))
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, (F.col("a.vec_id") < F.col("b.vec_id"))
               & (F.col("a.label") == F.col("b.label")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine_similarity(F.col("a.embedding"),
                                      F.col("b.embedding")), 6)
             .alias("cosine"))
        # output bounded by construction: the vec_id < 40 prune caps
        # pairs at C(40,2) = 780 at ANY corpus size; the orderBy
        # form's sampling job re-ran the theta self-join (r12)
        .transform(bounded_sort, "id_a", "id_b")
    )


def _int8_affine(df: DataFrame) -> DataFrame:
    """Shared int8 affine quantization state: per-vector (v, mn, mx,
    scale) with the degenerate constant-vector guard — the ONE
    definition of the codes both embedding_quantize_int8 and
    quantized_rerank_topk's prefilter use (their oracles mirror the
    identical arithmetic, so a change here must change both)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = df.select("vec_id", v.alias("v"),
                  F.array_min(v).alias("mn"), F.array_max(v).alias("mx"))
    return d.withColumn(
        "scale",
        F.when(F.col("mx") > F.col("mn"),
               (F.col("mx") - F.col("mn")) / 255.0).otherwise(F.lit(1.0)))


def _int8_reconstruct() -> F.Column:
    """Dequantized vector: mn + round((x-mn)/scale) * scale (HALF_UP,
    matching the oracle's round())."""
    mn, scale = F.col("mn"), F.col("scale")
    return F.transform(
        F.col("v"), lambda x: mn + F.round((x - mn) / scale, 0) * scale)



@register(
    "embedding_quantize_int8",
    oracle="""
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_aggregate(v, 'min') AS mn,
                 list_aggregate(v, 'max') AS mx
          FROM b),
    p AS (SELECT vec_id, v, mn, mx,
                 CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END
                   AS scale
          FROM s)
    SELECT vec_id,
           round(mn, 6) AS vmin,
           round(mx, 6) AS vmax,
           round(list_aggregate(
             list_transform(v, x ->
               (x - (mn + round((x - mn) / scale) * scale))
               * (x - (mn + round((x - mn) / scale) * scale))),
             'sum') / len(v), 9) AS mse
    FROM p
    ORDER BY vec_id
    """,
    doc="Affine int8 quantization round-trip per vector: codes = "
        "round((x-min)/scale) with scale=(max-min)/255, reconstruction "
        "error as per-vector MSE — the storage-compression primitive "
        "for embedding tables at 100 TB (4x smaller than float32, "
        "the MSE column quantifies the recall cost). Pure array "
        "expressions, map-only, identical arithmetic in the oracle.",
    tags=("similarity", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _int8_affine(_emb_by_id(spark, sf_dir))
    err = F.zip_with(F.col("v"), _int8_reconstruct(),
                     lambda x, xh: (x - xh) * (x - xh))
    return (
        d.select(
            "vec_id",
            F.round("mn", 6).alias("vmin"),
            F.round("mx", 6).alias("vmax"),
            F.round(F.aggregate(err, F.lit(0.0), lambda a, x: a + x)
                    / F.size("v"), 9).alias("mse"))
        .orderBy("vec_id")
    )


_RERANK_C = 50   # stage-1 candidate pool
_RERANK_K = 10


@register(
    "quantized_rerank_topk",
    oracle=f"""
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT v AS qv FROM b WHERE vec_id = 0),
    s AS (SELECT vec_id, v,
                 list_aggregate(v, 'min') AS mn,
                 list_aggregate(v, 'max') AS mx
          FROM b),
    p AS (SELECT vec_id, v, mn,
                 CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END
                   AS scale
          FROM s),
    r AS (SELECT vec_id, v,
                 list_transform(v, x -> mn + round((x - mn) / scale) * scale)
                   AS xh
          FROM p),
    a AS (
      SELECT r.vec_id, r.v,
             list_dot_product(r.xh, q.qv)
               / (sqrt(list_dot_product(r.xh, r.xh))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS ca
      FROM r, q
      ORDER BY ca DESC, r.vec_id
      LIMIT {_RERANK_C}
    )
    SELECT a.vec_id,
           round(a.ca, 6) AS cosine_approx,
           round(list_dot_product(a.v, q.qv)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM a, q
    ORDER BY cosine DESC, a.vec_id
    LIMIT {_RERANK_K}
    """,
    doc="Two-stage ANN: rank ALL vectors by cosine against their int8 "
        "affine reconstruction (the embedding_quantize_int8 codes), "
        "keep the top-50 candidate pool (TakeOrdered, no sort "
        "shuffle), then rerank ONLY the candidates with exact float "
        "cosine. At 100 TB the stage-1 scan reads a stored int8 code "
        "table (4x fewer bytes than float32; the reconstructed dot "
        "folds to mn*sum(q) + scale*<codes,q>, an integer dot), and "
        "stage 2 fetches full vectors for 50 ids — the "
        "search-compressed/rerank-exact pattern every production "
        "vector store uses. Arithmetic is elementwise-identical on "
        "both engines (same fold order, HALF_UP rounding on the "
        "non-negative code scale), so candidate sets match exactly.",
    tags=("similarity", "topk", "quantization"),
)
def quantized_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_fanned(spark, sf_dir)
    q = F.array(*[F.lit(v) for v in _query_vec(emb)])

    d = _int8_affine(emb)
    xh = _int8_reconstruct()
    candidates = (
        d.select("vec_id", "v", cosine_similarity(xh, q).alias("ca"))
        .orderBy(F.desc("ca"), F.asc("vec_id"))
        .limit(_RERANK_C)
    )
    return (
        candidates.select(
            "vec_id",
            F.round("ca", 6).alias("cosine_approx"),
            F.round(cosine_similarity(F.col("v"), q), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(_RERANK_K)
    )


@register(
    "vector_boxcar_peak",
    oracle="""
    WITH r AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, pos,
             round(avg(val) OVER (PARTITION BY vec_id ORDER BY pos
                                  ROWS BETWEEN 2 PRECEDING
                                  AND 2 FOLLOWING), 6) AS sm
      FROM r
    ),
    p AS (
      SELECT vec_id, pos, sm,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sm DESC, pos) AS rn
      FROM s
    )
    SELECT vec_id, CAST(pos AS BIGINT) AS peak_chan, sm AS peak_val
    FROM p WHERE rn = 1
    ORDER BY vec_id
    """,
    doc="Boxcar smoothing (width 5, truncated at edges) + peak finding "
        "over the in-row spectral axis — the standard radio spectral "
        "detection pair (smooth to suppress channel noise, then "
        "argmax), generalizing the reference's channel-axis operators "
        "(A1/F7). Spark side stays ARRAY-NATIVE: transform + slice + "
        "aggregate per element, so the whole thing is one map-only "
        "projection with no explode and no shuffle — at 100 TB the "
        "spectra never leave their rows. The oracle computes the "
        "identical truncated means via a posexploded window frame; "
        "smoothed values are rounded to 6 places BEFORE the argmax on "
        "both sides so tie-breaking (first channel) is engine-exact.",
    tags=("array", "radio", "smoothing"),
)
def vector_boxcar_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = F.col("embedding").cast("array<double>")
    n = F.size(arr)

    def smoothed(x: F.Column, i: F.Column) -> F.Column:
        start = F.greatest(i - 1, F.lit(1))          # 1-based slice start
        end = F.least(i + 3, n)                      # 1-based slice end
        length = end - start + 1
        win = F.slice(arr, start, length)
        total = F.aggregate(win, F.lit(0.0), lambda a, b: a + b)
        return F.round(total / length.cast("double"), 6)

    sm = F.transform(arr, smoothed)
    return (
        _emb_by_id(spark, sf_dir)
        .select("vec_id", sm.alias("sm"))
        .select("vec_id",
                F.array_position(F.col("sm"), F.array_max("sm"))
                 .cast("bigint").alias("peak_chan"),
                F.array_max("sm").alias("peak_val"))
        .orderBy("vec_id")
    )


_DFT_KS = range(1, 9)
_PI = "3.141592653589793"


def _dft_oracle() -> str:
    mags = ",\n           ".join(
        f"round(sqrt(pow(sum(val * cos(2 * {_PI} * {k} * j / n)), 2)"
        f" + pow(sum(val * sin(2 * {_PI} * {k} * j / n)), 2)), 6)"
        f" AS mag{k}" for k in _DFT_KS)
    return f"""
    WITH r AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
             CAST(unnest(embedding) AS DOUBLE) AS val,
             len(embedding) AS n
      FROM embeddings
    )
    SELECT vec_id,
           {mags}
    FROM r
    GROUP BY vec_id
    ORDER BY vec_id
    """


@register(
    "vector_dft8",
    oracle=_dft_oracle(),
    doc="Discrete Fourier transform, first 8 harmonics' magnitudes per "
        "spectrum: |sum v_j e^(-2 pi i k j / n)| for k=1..8 — the "
        "spectral-analysis primitive (periodicity detection, bandpass "
        "ripple, standing-wave diagnosis in radio baselines) computed "
        "EXACTLY as trig-weighted sums, so it carries a value-bearing "
        "SQL oracle where an FFT library call could not. Spark side "
        "is array-native (transform + in-order fold per harmonic): "
        "map-only, no explode, no shuffle, spectra never leave their "
        "rows; the oracle computes the same sums on the posexploded "
        "form. An FFT beats this O(n*k) form only when k ~ n; for "
        "fixed few harmonics at 100 TB the fold is the right plan.",
    tags=("array", "radio", "spectral"),
)
def vector_dft8(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = F.col("embedding").cast("array<double>")
    n = F.size(arr).cast("double")
    two_pi = 2.0 * 3.141592653589793

    def mag(k: int) -> F.Column:
        re = F.aggregate(
            F.transform(arr, lambda x, i: x * F.cos(
                F.lit(two_pi * k) * i.cast("double") / n)),
            F.lit(0.0), lambda a, b: a + b)
        im = F.aggregate(
            F.transform(arr, lambda x, i: x * F.sin(
                F.lit(two_pi * k) * i.cast("double") / n)),
            F.lit(0.0), lambda a, b: a + b)
        return F.round(F.sqrt(re * re + im * im), 6).alias(f"mag{k}")

    return (
        _emb_by_id(spark, sf_dir)
        .select("vec_id", *[mag(k) for k in _DFT_KS])
        .orderBy("vec_id")
    )


@register(
    "label_centroid_dispersion",
    oracle="""
    WITH r AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    c AS (
      SELECT label, pos, avg(val) AS cval
      FROM r GROUP BY label, pos
    ),
    d AS (
      SELECT r.vec_id, r.label,
             sum((r.val - c.cval) * (r.val - c.cval)) AS d2
      FROM r JOIN c ON r.label = c.label AND r.pos = c.pos
      GROUP BY r.vec_id, r.label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(sqrt(d2)), 6) AS mean_dist,
           round(max(sqrt(d2)), 6) AS max_dist
    FROM d
    GROUP BY label
    ORDER BY label
    """,
    doc="Per-label embedding dispersion: each vector's Euclidean "
        "distance to its label centroid, reduced to per-label mean "
        "and max — the supervised cluster-quality audit (tight labels "
        "embed coherently; a ballooning mean_dist flags label noise "
        "or embedding drift before training does), the labeled-data "
        "counterpart of kmeans_embeddings' unsupervised dispersion. "
        "Centroids are (labels x dim) rows — BROADCAST back onto the "
        "posexploded vectors, so the only fact-sized shuffles are "
        "the two keyed aggregations, both map-side-combinable.",
    tags=("array", "ml", "quality"),
)
def label_centroid_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    r = emb.select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
         .alias("pos0", "val")) \
        .select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val")
    c = r.groupBy("label", "pos").agg(F.avg("val").alias("cval"))
    d = (r.join(F.broadcast(c), ["label", "pos"])
         .groupBy("vec_id", "label")
         .agg(F.sum((F.col("val") - F.col("cval"))
                    * (F.col("val") - F.col("cval"))).alias("d2")))
    return (
        d.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
             F.round(F.avg(F.sqrt("d2")), 6).alias("mean_dist"),
             F.round(F.max(F.sqrt("d2")), 6).alias("max_dist"))
        # output bounded by the label domain -> single-partition range
        # sort, no boundary-sampling job (operators/ordering.py)
        .transform(bounded_sort, "label")
    )


_PQ_M = 8        # subspaces (64 dims -> 8 x 8)
_PQ_SUBDIM = 8
_PQ_K = 32       # centroids per subspace codebook
_PQ_TOPK = 10


@register(
    "pq_adc_topk",
    oracle=f"""
    WITH r AS (
      SELECT vec_id,
             (generate_subscripts(embedding, 1) - 1) // {_PQ_SUBDIM}
               AS sub,
             (generate_subscripts(embedding, 1) - 1) % {_PQ_SUBDIM} AS spos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cluster, sub, spos, val AS cval
           FROM r WHERE vec_id < {_PQ_K}),
    d1 AS (SELECT r.vec_id, r.sub, c.cluster,
                  sum((r.val - c.cval) * (r.val - c.cval)) AS d2
           FROM r JOIN c0 c USING (sub, spos)
           GROUP BY r.vec_id, r.sub, c.cluster),
    a1 AS (SELECT vec_id, sub, cluster FROM (
             SELECT vec_id, sub, cluster,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d2, cluster) AS rn
             FROM d1) WHERE rn = 1),
    c1 AS (SELECT a1.cluster, r.sub, r.spos, avg(r.val) AS cval
           FROM a1 JOIN r USING (vec_id, sub)
           GROUP BY a1.cluster, r.sub, r.spos),
    d2 AS (SELECT r.vec_id, r.sub, c.cluster,
                  sum((r.val - c.cval) * (r.val - c.cval)) AS d2
           FROM r JOIN c1 c USING (sub, spos)
           GROUP BY r.vec_id, r.sub, c.cluster),
    codes AS (SELECT vec_id, sub, cluster FROM (
                SELECT vec_id, sub, cluster,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, cluster) AS rn
                FROM d2) WHERE rn = 1),
    lut AS (SELECT c.sub, c.cluster,
                   sum((q.val - c.cval) * (q.val - c.cval)) AS pd2
            FROM c1 c JOIN r q ON q.vec_id = 0 AND q.sub = c.sub
                              AND q.spos = c.spos
            GROUP BY c.sub, c.cluster),
    adc AS (SELECT codes.vec_id, sum(lut.pd2) AS adc
            FROM codes JOIN lut USING (sub, cluster)
            GROUP BY codes.vec_id)
    SELECT vec_id, round(adc, 6) AS adc_dist2
    FROM adc
    ORDER BY round(adc, 6), vec_id
    LIMIT {_PQ_TOPK}
    """,
    doc="Product quantization + asymmetric distance computation: "
        "64-dim embeddings split into 8 x 8-dim subspaces, each with "
        "a k=32 codebook (deterministic first-k init + one Lloyd "
        "refinement, lowest-index tiebreaks), every vector encoded as "
        "8 codes, then ADC top-10 for the vec_id=0 query — estimated "
        "distance = sum over subspaces of the precomputed "
        "query-to-centroid partial. THE memory move for 100 TB ANN: "
        "codes are M bytes vs 4*D float bytes (here 256 B -> 8 "
        "codes), so the scan-side state shrinks ~32x and the ADC scan "
        "reads codes plus a broadcast (M x k)-entry lookup table — "
        "no float vectors touched after encoding; training runs on "
        "the same relational k-means shape as kmeans_embeddings "
        "(at 100 TB: train codebooks on a sample, encode the corpus "
        "map-side). Fully relational, zero driver round trips; the "
        "quantization ladder is int8 (embedding_quantize_int8) -> PQ "
        "(this) -> rerank (quantized_rerank_topk).",
    tags=("array", "similarity", "quantization", "topk"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distance evaluation is the hot path (N x M x K subvector
    # distances, twice), so it runs as a MAP-ONLY fold over 8-element
    # subvector arrays against a broadcast codebook — no per-element
    # explode, no (vec, sub, cluster)-keyed aggregation shuffle. The
    # argmin is min(struct(d2, cluster)): lexicographic struct min ==
    # ORDER BY d2, cluster with map-side partial aggregation, and
    # since all K candidate rows of a (vec, sub) are produced by the
    # same broadcast-join task, the partial agg collapses K -> 1
    # BEFORE the shuffle — the exchange moves N x M rows, not
    # N x M x K. Element-level rows exist only for the cheap centroid
    # update and query LUT (N x D rows, one aggregation each).
    emb = _emb_fanned(spark, sf_dir)
    sub_arrays = F.array(*[
        F.slice(F.col("embedding").cast("array<double>"),
                m * _PQ_SUBDIM + 1, _PQ_SUBDIM)
        for m in range(_PQ_M)])
    r2 = emb.select("vec_id", F.posexplode(sub_arrays).alias("sub", "svec"))
    rpos = r2.select("vec_id", "sub",
                     F.posexplode("svec").alias("spos", "val"))

    def to_arrays(cent_rows: DataFrame) -> DataFrame:
        # (cluster, sub, spos, cval) -> (cluster, sub, carr) with carr
        # in spos order, so the fold pairs elements positionally
        return (cent_rows.groupBy("cluster", "sub")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("spos", "cval"))),
                    lambda x: x["cval"]).alias("carr")))

    def assign(cent_arrays: DataFrame) -> DataFrame:
        d2 = F.aggregate(
            F.zip_with(F.col("svec"), F.col("carr"),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        d = (r2.join(F.broadcast(cent_arrays), "sub")
             .select("vec_id", "sub", "cluster", d2.alias("d2")))
        return (d.groupBy("vec_id", "sub")
                .agg(F.min(F.struct(F.col("d2"), F.col("cluster")))
                     .alias("m"))
                .select("vec_id", "sub", F.col("m.cluster").alias("cluster")))

    c0 = (r2.filter(F.col("vec_id") < _PQ_K)
          .select(F.col("vec_id").alias("cluster"), "sub",
                  F.col("svec").alias("carr")))
    a1 = assign(c0)                       # vs the first-k init
    c1 = (a1.join(rpos, ["vec_id", "sub"])  # one Lloyd refinement
          .groupBy("cluster", "sub", "spos")
          .agg(F.avg("val").alias("cval")))
    codes = assign(to_arrays(c1))         # final encoding vs trained book

    q = (rpos.filter(F.col("vec_id") == 0)
         .select("sub", "spos", F.col("val").alias("qval")))
    lut = (c1.join(F.broadcast(q), ["sub", "spos"])
           .groupBy("sub", "cluster")
           .agg(F.sum((F.col("qval") - F.col("cval"))
                      * (F.col("qval") - F.col("cval"))).alias("pd2")))
    return (
        codes.join(F.broadcast(lut), ["sub", "cluster"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("pd2"), 6).alias("adc_dist2"))
        .orderBy("adc_dist2", "vec_id")
        .limit(_PQ_TOPK)
    )


_NEG_K = 4
_ANCHOR_MOD = 10  # deterministic anchor subset: vec_id % 10 == 0

_COS_SQL = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            " * sqrt(list_dot_product({b}, {b})))")


@register(
    "negative_samples_per_anchor",
    oracle=f"""
    WITH idx AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             row_number() OVER (ORDER BY vec_id) - 1 AS pos
      FROM embeddings
    ),
    n AS (SELECT count(*) AS n FROM idx),
    anchors AS (SELECT * FROM idx WHERE vec_id % {_ANCHOR_MOD} = 0),
    draws AS (
      SELECT a.vec_id, a.v, j.j,
             (('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || '#'
                                  || CAST(j.j AS VARCHAR)), 1, 8))
              ::BIGINT) % (SELECT n FROM n) AS neg_pos
      FROM anchors a
      CROSS JOIN (SELECT unnest(range(0, {_NEG_K})) AS j) j
    )
    SELECT d.vec_id, CAST(d.j AS INT) AS j, i.vec_id AS neg_id,
           round({_COS_SQL.format(a="d.v", b="i.v")}, 6) AS cosine
    FROM draws d JOIN idx i ON i.pos = d.neg_pos
    WHERE i.vec_id <> d.vec_id
    ORDER BY d.vec_id, j
    """,
    doc=f"Deterministic uniform negative sampling for contrastive "
        f"training: each anchor (vec_id % {_ANCHOR_MOD} == 0 — the "
        f"mini-batch subset) draws K={_NEG_K} pseudo-random partners "
        "via md5(anchor#j) mod N mapped through a dense row_number "
        "index, so the draw is reproducible on ANY engine and ANY "
        "id layout (ids need not be contiguous — the index map costs "
        "one window over N rows; self-collisions drop, yielding <= K "
        "per anchor deterministically). The negatives join is an "
        "equi hash join on the drawn position; cosine is computed "
        "for each sampled pair (the training signal). At 100 TB: "
        "the index map is the only global ordering, built once and "
        "reused across epochs; draws are map-only.",
    tags=("similarity", "sampling", "contrastive", "embedding"),
)
def negative_samples_per_anchor(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.functions.similarity import (
        uniform_negative_samples)

    # delegates to the library entry point: dense 0..N-1 index via the
    # two-pass partition-offset builder (sources/layout.dense_index —
    # never an Exchange SinglePartition over the corpus), md5 draws,
    # one equi hash join on the drawn position.
    emb = _emb_fanned(spark, sf_dir)
    return (uniform_negative_samples(
                emb, k=_NEG_K,
                anchor_pred=F.col("vec_id") % _ANCHOR_MOD == 0)
            .orderBy("vec_id", "j"))


_HARDNEG_K = 3
_HARDNEG_DUP_CEIL = 0.99  # candidates at/above this cosine are dups
_HARDNEG_PLANES = 4


def _hardneg_oracle() -> str:
    planes = hyperplanes(64, _HARDNEG_PLANES, 7)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{_plane_sql(list(p))}) > 0 THEN {1 << r} ELSE 0 END)"
        for r, p in enumerate(planes))
    cos = _COS_SQL.format(a="a.v", b="c.v")
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {bucket_terms} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id, c.vec_id AS neg_id,
             round({cos}, 6) AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round({cos}, 6) DESC, c.vec_id) AS rn
      FROM b a JOIN b c
        ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
      WHERE a.vec_id % {_ANCHOR_MOD} = 0
        AND round({cos}, 6) < {_HARDNEG_DUP_CEIL}
    )
    SELECT vec_id, CAST(rn AS INT) AS rank, neg_id, cosine
    FROM scored WHERE rn <= {_HARDNEG_K}
    ORDER BY vec_id, rank
    """


@register(
    "hard_negatives_per_anchor",
    oracle=_hardneg_oracle(),
    doc=f"Hard-negative mining for contrastive training: for each "
        f"anchor (vec_id % {_ANCHOR_MOD} == 0), the top-{_HARDNEG_K} "
        f"most-similar NON-duplicate vectors (cosine < "
        f"{_HARDNEG_DUP_CEIL} excludes near-dup positives) from the "
        "anchor's LSH bucket — the candidates that teach an embedding "
        "model the most, found WITHOUT an all-pairs scan: the bucket "
        "equi-join bounds candidates exactly like near-dup detection, "
        "then a per-anchor row_number keeps K (riding the bucket "
        "join's partitioning, ordered on the ROUNDED cosine on both "
        "engines so rank ties break identically). At 100 TB this is "
        "the mining pass between training epochs: bucketed layout, "
        "one shuffle, top-K per anchor, no global sort.",
    tags=("similarity", "contrastive", "topk", "lsh"),
)
def hard_negatives_per_anchor(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.functions.similarity import (
        hard_negative_mining)

    emb = _emb_fanned(spark, sf_dir)
    # n_planes PINNED to 4: the DuckDB oracle bakes the plane count
    # into its bucket expression (the embedding_near_dup_lsh scale-
    # coupling lesson). The library default (n_planes=None) auto-
    # derives planes from the corpus count — use THAT form for real
    # mining passes; this query exists to be oracle-checkable.
    return (hard_negative_mining(
                emb, k=_HARDNEG_K, dup_ceiling=_HARDNEG_DUP_CEIL,
                anchor_pred=F.col("vec_id") % _ANCHOR_MOD == 0,
                n_planes=_HARDNEG_PLANES, seed=7, dim=64,
                dedup_identical=False, bucket_cap=None)
            .orderBy("vec_id", "rank"))


_SEMDEDUP_K = 4
_SEMDEDUP_EPS = 0.4


def _semantic_dedup_ctes(k: int = _SEMDEDUP_K,
                         eps: float = _SEMDEDUP_EPS) -> str:
    # the clustering CTE chain is the kmeans_embeddings oracle
    # (plans/pipeline_ops.py) verbatim: deterministic first-k seeds,
    # two Lloyd rounds, lowest-index tiebreak
    cos = ("round(list_dot_product(a.v, b.v)"
           " / (sqrt(list_dot_product(a.v, a.v))"
           " * sqrt(list_dot_product(b.v, b.v))), 6)")
    return f"""
    WITH r AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cluster, pos, val AS cval FROM r
           WHERE vec_id < {k}),
    d1 AS (SELECT r.vec_id, c.cluster,
                  sum((r.val - c.cval) * (r.val - c.cval)) AS d2
           FROM r JOIN c0 c USING (pos) GROUP BY r.vec_id, c.cluster),
    a1 AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cluster) AS rn
             FROM d1) WHERE rn = 1),
    c1 AS (SELECT a1.cluster, r.pos, avg(r.val) AS cval
           FROM a1 JOIN r USING (vec_id) GROUP BY a1.cluster, r.pos),
    d2 AS (SELECT r.vec_id, c.cluster,
                  sum((r.val - c.cval) * (r.val - c.cval)) AS d2
           FROM r JOIN c1 c USING (pos) GROUP BY r.vec_id, c.cluster),
    a2 AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cluster) AS rn
             FROM d2) WHERE rn = 1),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    av AS (SELECT a2.vec_id, a2.cluster, v.v
           FROM a2 JOIN v USING (vec_id)),
    rem AS (SELECT DISTINCT b.vec_id
            FROM av a JOIN av b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE {cos} >= {eps})
    """


def _semantic_dedup_oracle(k: int = _SEMDEDUP_K,
                           eps: float = _SEMDEDUP_EPS) -> str:
    return f"""
    {_semantic_dedup_ctes(k, eps)}
    SELECT av.cluster,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN rem.vec_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM av LEFT JOIN rem USING (vec_id)
    GROUP BY av.cluster
    ORDER BY av.cluster
    """


@register(
    "semantic_dedup_stats",
    oracle=_semantic_dedup_oracle(),
    doc="SemDeDup semantic deduplication (functions/similarity.py "
        "semantic_dedup; Abbas et al. 2023): k-means the embeddings "
        "(k=4 pinned for the static oracle — the library default "
        "auto-derives ceil(N/256) clusters, the 100 TB contract), then "
        "within each cluster remove every vector with a smaller-id "
        "witness at cosine >= 0.4. The learned-cluster counterpart of "
        "embedding_near_dup_lsh's random-hyperplane blocking: pair "
        "cost is sum(|cluster|^2)/2, never N^2/2, and clusters follow "
        "the data distribution so near-dups co-locate at higher "
        "recall per bucket. Output: per-cluster size and removal "
        "count. Witness-side identical-vector collapse is ON — "
        "semantics-preserving (pinned by test) and it kills the "
        "mass-duplicate hot-cluster quadratic the skew study found.",
    tags=("similarity", "dedup", "clustering", "ml"),
)
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.functions.similarity import (
        semantic_dedup)

    sd = semantic_dedup(_emb(spark, sf_dir), eps=_SEMDEDUP_EPS,
                        n_clusters=_SEMDEDUP_K, lloyd_rounds=2)
    return (
        sd.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.sum(F.when(~F.col("is_kept"), 1).otherwise(0))
              .cast("long").alias("n_removed"))
        .transform(bounded_sort, "cluster")
    )


@register(
    "semantic_dedup_survivors_incremental",
    oracle=f"""
    {_semantic_dedup_ctes()}
    SELECT av.vec_id, av.cluster
    FROM av LEFT JOIN rem USING (vec_id)
    WHERE rem.vec_id IS NULL
    ORDER BY av.vec_id
    """,
    doc="Incremental SemDeDup ingest (functions/similarity.py "
        "semantic_dedup_batch_against_index): the corpus arrives as "
        "three id-ordered chunks, each assigned against the ONE "
        "frozen quantizer (trained up front) and deduped "
        "batch-locally plus against the accumulated (id, v, cell) "
        "index of every previously processed doc; arrival order wins "
        "across batches. Under id-ordered arrival this equals batch "
        "semantic_dedup of the full corpus — the equivalence the "
        "oracle checks (same CTE chain as semantic_dedup_stats, "
        "survivors view) and tests/test_dedup_caps.py pins across "
        "chunk granularities. Output: surviving vec_ids with their "
        "quantizer cell.",
    tags=("similarity", "dedup", "streaming", "incremental"),
)
def semantic_dedup_survivors_incremental(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.functions.similarity import (
        semantic_dedup_batch_against_index, train_semantic_centroids)

    emb = _emb(spark, sf_dir)
    cents, resolved = train_semantic_centroids(
        emb, _SEMDEDUP_K, lloyd_rounds=2)
    # k·d rows, reused by all three batch kernels (each triggers an
    # eager cell collect) — persisting keeps the Lloyd training from
    # re-executing per batch
    cents = cents.persist()
    meta = {"two_level": resolved["two_level"],
            "coarse_clusters": resolved["coarse_clusters"]}
    n = emb.count()
    cuts = [0, n // 3, 2 * n // 3, n + 1]
    acc = None
    outs = []
    handles = []  # each kernel returns its rows frame PERSISTED
    for bid in range(3):
        chunk = emb.filter((F.col("vec_id") >= cuts[bid])
                           & (F.col("vec_id") < cuts[bid + 1]))
        survivors, rows = semantic_dedup_batch_against_index(
            chunk, acc, bid, centroids=cents, meta=meta,
            eps=_SEMDEDUP_EPS)
        handles.append(rows)
        outs.append(rows.join(survivors.select("vec_id"),
                              rows["id"] == F.col("vec_id"), "semi")
                    .select(F.col("id").alias("vec_id"),
                            F.col("cell").alias("cluster")))
        acc = rows if acc is None else acc.unionByName(rows)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    # materialize once (cutting the lineage off the cached frames),
    # then release every cache this query pinned — without this,
    # cents and the three per-batch rows frames leak cached
    # partitions into the shared session on every driver/bench run
    # (ADVICE r6). localCheckpoint storage is context-cleaned once
    # the returned frame is garbage-collected.
    out = out.orderBy("vec_id").localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    cents.unpersist()
    return out


def _multiprobe_oracle(k: int = 10, n_planes: int = 6, n_probes: int = 4,
                       seed: int = 7, dim: int = 64) -> str:
    # probe schedule: the query's bucket plus single-bit flips of the
    # (n_probes-1) smallest-|projection| planes — the exact schedule
    # multiprobe_buckets produces while n_probes-1 <= n_planes (the
    # registered configuration; multi-bit flips only start beyond
    # that). Stable ascending tiebreak on the plane index both sides.
    planes = hyperplanes(dim, n_planes, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_sql(list(p))}) > 0 "
        f"THEN {1 << r} ELSE 0 END)"
        for r, p in enumerate(planes))
    proj_cols = ", ".join(
        f"list_dot_product(v, {_plane_sql(list(p))}) AS p{r}"
        for r, p in enumerate(planes))
    margin_case = ("CASE t.r " + " ".join(
        f"WHEN {r} THEN abs(q.p{r})" for r in range(n_planes)) + " END")
    idx_vals = ", ".join(f"({r})" for r in range(n_planes))
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    bb AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM b),
    q AS (SELECT v AS qv, bucket AS qbucket, {proj_cols}
          FROM bb WHERE vec_id = 0),
    fl AS (SELECT t.r FROM (VALUES {idx_vals}) t(r), q
           ORDER BY {margin_case}, t.r LIMIT {n_probes - 1}),
    probes AS (
      SELECT qbucket AS pb FROM q
      UNION ALL
      SELECT xor(q.qbucket, (1::BIGINT << fl.r)) FROM q, fl
    )
    SELECT bb.vec_id,
           round(list_dot_product(bb.v, q.qv)
                 / (sqrt(list_dot_product(bb.v, bb.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM bb, q
    WHERE bb.bucket IN (SELECT pb FROM probes)
    ORDER BY cosine DESC, bb.vec_id
    LIMIT {k}
    """


@register(
    "lsh_multiprobe_topk",
    oracle=_multiprobe_oracle(),
    doc="Multi-probe LSH top-k (functions/similarity.py "
        "lsh_multiprobe_topk; Lv et al. 2007): scan the query's bucket "
        "PLUS its lowest-margin single-bit-flip neighbors — the "
        "buckets a true neighbor most likely straddled into. Recovers "
        "most of the recall of n_probes independent hash tables at "
        "1/n_probes the index storage; the probe schedule is pure "
        "driver-side metadata, and with the table partitioned by the "
        "sign-pattern id the IN-list prunes directories at planning "
        "time (the write_ivf_index pattern). Closes the measured "
        "single-probe recall gap (BENCH_SCALING §15 addendum: 0.73 "
        "single-probe on planted near-dups).",
    tags=("similarity", "topk", "lsh"),
)
def lsh_multiprobe_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.functions.similarity import (
        lsh_multiprobe_topk)

    emb = _emb_fanned(spark, sf_dir)
    return lsh_multiprobe_topk(emb, _query_vec(emb), k=10,
                               n_planes=6, n_probes=4, seed=7)


_KNN_K = 3
_KNN_PLANES = 4
_KNN_ANCHOR_MOD = 50


def _knn_join_oracle(k: int = _KNN_K, n_planes: int = _KNN_PLANES,
                     anchor_mod: int = _KNN_ANCHOR_MOD,
                     seed: int = 7, dim: int = 64) -> str:
    planes = hyperplanes(dim, n_planes, seed)
    proj_cols = ", ".join(
        f"list_dot_product(v, {_plane_sql(list(p))}) AS p{r}"
        for r, p in enumerate(planes))
    bucket = " + ".join(
        f"(CASE WHEN p{r} > 0 THEN {1 << r} ELSE 0 END)"
        for r in range(n_planes))
    # argmin |p_r| with lowest-index tiebreak, as a <=-ordered CASE
    # chain (p0 wins all ties, p1 wins ties against p2.., ...) —
    # identical to the stable (|m|, r) sort on the Spark side
    argmin_terms = []
    for r in range(n_planes):
        conds = " AND ".join(f"abs(p{r}) <= abs(p{s})"
                             for s in range(r + 1, n_planes))
        argmin_terms.append(
            f"WHEN {conds} THEN {1 << r}" if conds else f"ELSE {1 << r}")
    flip_bit = "CASE " + " ".join(argmin_terms) + " END"
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pp AS (SELECT vec_id, v, {proj_cols} FROM b),
    bb AS (SELECT vec_id, v, {bucket} AS bucket,
                  {flip_bit} AS flip FROM pp),
    qq AS (SELECT vec_id, v, bucket,
                  xor(bucket, flip) AS alt
           FROM bb WHERE vec_id % {anchor_mod} = 0),
    cand AS (
      SELECT q.vec_id, c.vec_id AS nn_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
      FROM qq q JOIN bb c
        ON c.bucket IN (q.bucket, q.alt) AND c.vec_id != q.vec_id
    )
    SELECT vec_id, CAST(rank AS INT) AS rank, nn_id, cosine FROM (
      SELECT vec_id, nn_id, cosine,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, nn_id) AS rank
      FROM cand) WHERE rank <= {k}
    ORDER BY vec_id, rank
    """


@register(
    "knn_join_topk",
    oracle=_knn_join_oracle(),
    doc="Batch k-NN join (functions/similarity.py knn_join): every "
        "anchor row retrieves its top-3 corpus neighbors through LSH "
        "blocking with PER-ROW multi-probe — each anchor also probes "
        "the bucket across its smallest-|margin| hyperplane, computed "
        "inside the plan (no driver loop over queries). Candidates "
        "per anchor <= n_probes x bucket size; the library default "
        "auto-derives planes from the corpus count so the bound is "
        "~n_probes x target_bucket_rows at any scale. n_planes=4 "
        "pinned here for the static oracle (the near-dup scale-"
        "coupling lesson). The retrieval primitive behind RAG corpus "
        "joins and per-example nearest-neighbor eval.",
    tags=("similarity", "topk", "lsh", "join"),
)
def knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.functions.similarity import knn_join

    emb = _emb_fanned(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") % _KNN_ANCHOR_MOD == 0)
    return (knn_join(anchors, emb, k=_KNN_K, n_planes=_KNN_PLANES,
                     n_probes=2, seed=7, bucket_cap=None)
            .orderBy("vec_id", "rank"))


# one persisted LSH index per (process, sf_dir): the registered query
# must be a pure function of its inputs, so the index content is fully
# determined by (sf_dir, pinned planes/seed) and building it once per
# process is a cache, not a semantic difference. The lock serializes
# concurrent builds (a gate harness running queries on threads would
# otherwise race two write_lsh_index jobs into two dirs, last-wins —
# r10 ADVICE); data regenerated IN-PLACE under the same sf_dir within
# one process would serve a stale index, which the harnesses never do
# (the driver and bench treat sf dirs as immutable inputs) — callers
# that mutate a corpus dir must use a fresh path.
_LSH_IDX_CACHE: dict[str, str] = {}
_LSH_IDX_LOCK = threading.Lock()


def _lsh_index_for(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    from radio_data_pipeline_spark.functions.similarity import (
        write_lsh_index,
    )

    with _LSH_IDX_LOCK:
        path = _LSH_IDX_CACHE.get(sf_dir)
        if path is None or not os.path.isdir(path):
            import atexit
            import shutil

            path = tempfile.mkdtemp(prefix="rdps_knn_lsh_idx_")
            # the dir outlives nothing: remove it at process exit so
            # repeated gate/bench/test runs don't accumulate corpus
            # copies under /tmp (round-10 review)
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            write_lsh_index(_emb_fanned(spark, sf_dir), path,
                            n_planes=_KNN_PLANES, seed=7)
            _LSH_IDX_CACHE[sf_dir] = path
        return path


@register(
    "knn_join_indexed_topk",
    oracle=_knn_join_oracle(),
    doc="knn_join_topk reshaped for a PERSISTED corpus "
        "(functions/similarity.py knn_join_indexed over a "
        "write_lsh_index layout): identical results by construction "
        "(shared _probe_schedule_cols probe schedule, parity-pinned "
        "in tests/test_layout.py), so it shares knn_join_topk's "
        "DuckDB oracle verbatim. What changes is the cost model — "
        "the batch's distinct probe buckets become an IN partition "
        "filter on the hive lsh_bucket=K/ layout (planning-time "
        "pruning; probe I/O scales with the batch, not the corpus) "
        "and the micro-batch query side is broadcast into the pruned "
        "scan, so the full corpus is never shuffled. The serving-path "
        "form of batch retrieval at 100 TB.",
    tags=("similarity", "topk", "lsh", "join", "index"),
)
def knn_join_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.functions.similarity import (
        knn_join_indexed,
    )

    emb = _emb_fanned(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") % _KNN_ANCHOR_MOD == 0)
    return (knn_join_indexed(spark, anchors,
                             _lsh_index_for(spark, sf_dir),
                             k=_KNN_K, n_planes=_KNN_PLANES,
                             n_probes=2, seed=7, bucket_cap=None)
            .orderBy("vec_id", "rank"))
