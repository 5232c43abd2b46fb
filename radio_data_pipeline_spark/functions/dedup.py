"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard,
SimHash.

Scale design:
- exact dedup = hash-groupBy on a fingerprint column (one shuffle on
  an md5 key — uniform by construction, no skew);
- MinHash: signatures are per-row array expressions (shingle ->
  md5 -> min), no shuffle; LSH banding turns the quadratic pair
  search into an equi-join on (band_id, band_hash) — the only shuffle
  is keyed by band buckets;
- n-gram Jaccard runs only on candidate pairs (inverted-index join),
  never all-pairs.

Hashing is md5-hex-string based everywhere: portable across Spark and
DuckDB (identical hex output), so every step has an exact SQL oracle.
Min over fixed-width lowercase-hex strings == min over the 128-bit
integers they encode, so string min is a valid MinHash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from radio_data_pipeline_spark.functions.text import (
    fingerprint,
    whitespace_words,
)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact near-identical dedup: group by normalized-text md5, keep
    the lowest id as canonical."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def gram_array(text: Column, k: int = 3) -> Column:
    """Per-position k-word grams of the lowercased word sequence as a
    single array expression: element i is words[i..i+k-1] joined with
    single spaces, built by zip_with over k-1 shifted copies of the
    word array (two O(n) slices per shift — no per-element slice
    allocation, no explode, no window). The last k-1 positions have no
    full lookahead and yield NULL (zip_with pads the shorter shifted
    copy with NULL and concat propagates it) — consumers either
    filter the NULLs (gram rows) or rely on min/array_min ignoring
    them (MinHash)."""
    ws = whitespace_words(text)
    n = F.size(ws)
    sh = ws
    for j in range(1, k):
        tail = F.slice(ws, j + 1, F.greatest(n - j, F.lit(0)))
        sh = F.zip_with(sh, tail,
                        lambda a, b: F.concat(a, F.lit(" "), b))
    return sh


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles of the lowercased word sequence, as strings
    joined with single spaces. Array expression, no explode — the
    NULL-tail positions of gram_array sliced off, so only complete
    shingles remain (empty array below k words)."""
    n = F.size(whitespace_words(text))
    return F.when(n >= k,
                  F.slice(gram_array(text, k), 1, n - k + 1)
                  ).otherwise(F.array())


_CHUNKS_PER_MD5 = 4  # 128 md5 bits -> 4 x 32-bit (8 hex chars) components


def _seed_prefix(seed: int) -> str:
    """Distinct md5 input stream per group of 4 components: seed group
    0 hashes the bare shingle, group g prefixes 'g|'."""
    group = seed // _CHUNKS_PER_MD5
    return "" if group == 0 else f"{group}|"


def _component_from_digest(digest: Column, seed: int) -> Column:
    """Component = 8-hex-char slice of the group digest. Slicing one
    md5 into 4 independent 32-bit values quarters the hash work vs
    one md5 per seed (the md5 bits are uniform, so fixed-width hex
    slices are valid independent MinHash families); string min over
    fixed-width lowercase hex == numeric min."""
    offset = (seed % _CHUNKS_PER_MD5) * 8 + 1
    return F.substring(digest, offset, 8)


def _minhash_component(shingles: Column, seed: int) -> Column:
    """One MinHash signature component (expression form)."""
    return F.array_min(F.transform(
        shingles,
        lambda s: _component_from_digest(
            F.md5(F.concat(F.lit(_seed_prefix(seed)), s)), seed)))


def minhash_signature(text: Column, n_hashes: int = 8, k: int = 3) -> Column:
    """Array of n_hashes MinHash components over k-word shingles as a
    single column expression. NOTE: fine for one-off use, but Catalyst
    projection-collapse will inline (and recompute) it wherever it is
    referenced — hot paths should use minhash_signature_table."""
    sh = word_shingles(text, k)
    return F.array(*[_minhash_component(sh, seed) for seed in range(n_hashes)])


def minhash_signature_table(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n_hashes: int = 8,
                            k: int = 3) -> DataFrame:
    """Signatures map-side: per-row shingle array (zip_with over
    shifted copies of the word array), one md5 array per digest group,
    then array_min per 8-hex-char component slice. No explode, no
    shuffle, no sort — the whole signature is a projection, so the
    first shuffle any consumer pays is its OWN key (band bucket,
    join key, ...), never an intermediate word/doc-id exchange.

    History (round-11 optimization): this replaced an explode +
    lead-window + groupBy(id) formulation that shuffled and sorted
    every word row by doc id. The round-5 note that array-expression
    shingles measured 10x slower applied to per-element
    slice+array_join (O(n*k) array allocations); the zip_with form is
    two O(n) shifted copies and measured FASTER end-to-end (sf0.1
    pairs best-of-5 0.76 s -> 0.52 s; plan loses 1 Exchange + Window
    + 2 SortAggregates, and md5 still appears exactly twice — the
    projection-collapse duplication hazard does not fire because
    CollapseProject refuses to duplicate non-cheap expressions).

    Shingle multiset is unchanged from the window form: one entry per
    word position; the last k-1 positions have no full lookahead and
    yield NULL shingles (zip_with pads the shorter shifted copy with
    NULL and concat propagates it), which min() ignores — so
    shingle-less docs (< k words) come out with all-NULL components,
    matching the SQL oracle's min-over-empty-list.

    Returns (id, h0..h{n-1}) — one row per input document, including
    shingle-less and NULL-text docs (all-NULL components)."""
    n_groups = (n_hashes + _CHUNKS_PER_MD5 - 1) // _CHUNKS_PER_MD5
    sh = gram_array(F.col(text_col), k)
    # one md5 array per digest group (not per seed); the per-seed
    # components below are substring slices over the same array
    digests = df.select(
        F.col(id_col).alias("id"),
        *[F.transform(sh, lambda s: F.md5(F.concat(
            F.lit(_seed_prefix(g * _CHUNKS_PER_MD5)), s))).alias(f"d{g}")
          for g in range(n_groups)])
    return digests.select(
        "id",
        *[F.array_min(F.transform(
            F.col(f"d{seed // _CHUNKS_PER_MD5}"),
            lambda d: _component_from_digest(d, seed))).alias(f"h{seed}")
          for seed in range(n_hashes)])


def band_table(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", n_hashes: int = 8,
               band_size: int = 2, k: int = 3) -> DataFrame:
    """LSH band rows ``(id, band_id, band_hash)`` — one row per
    (document, band), the shared blocking structure under
    minhash_lsh_pairs and greedy_band_survivors. NULL-hash rows
    (shingle-less docs — fewer than k words) are excluded: such docs
    can never pair.
    Cost: fully map-side — the projection-form signatures plus an
    explode to n_bands rows per doc; no shuffle."""
    assert n_hashes % band_size == 0
    n_bands = n_hashes // band_size
    sigged = minhash_signature_table(df, text_col, id_col, n_hashes, k)

    def band_hash(b: int):
        # F.concat (not concat_ws): NULL components must poison the
        # band hash so shingle-less docs never pair, matching SQL
        # NULL-propagating || semantics.
        parts: list = []
        for j in range(band_size):
            if parts:
                parts.append(F.lit("_"))
            parts.append(F.col(f"h{b * band_size + j}"))
        return F.concat(*parts)

    bands = F.array(*[
        F.struct(F.lit(b).alias("band_id"), band_hash(b).alias("band_hash"))
        for b in range(n_bands)
    ])
    return (sigged.select("id", F.explode(bands).alias("b"))
            .select("id", F.col("b.band_id").alias("band_id"),
                    F.col("b.band_hash").alias("band_hash"))
            .filter(F.col("band_hash").isNotNull()))


def greedy_band_survivors(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n_hashes: int = 8,
                          band_size: int = 2, k: int = 3) -> DataFrame:
    """One-pass greedy near-dup dedup: a document is DROPPED iff any
    of its LSH bands is shared with a smaller-id document; survivors
    keep their full input row. This is the corpus-dedup semantics
    (each kept doc is the band-wise first of everything it collides
    with), computed with a window-min per bucket — cost is LINEAR in
    bucket size, so unlike pair generation no bucket_cap is needed and
    a mass-duplicate cluster of 10^6 copies costs 10^6 rows, not
    10^12 pairs.

    Greedy trade, stated plainly: the witness that drops a doc may
    itself be dropped (a~b and b~c drops BOTH b and c even when a!~c —
    chain annihilation). That is the standard single-pass choice at
    corpus scale; when cluster-exact representatives matter, use
    connected_components over minhash_lsh_pairs instead (iterative,
    cluster-transitive, min-id winner per component).

    Shuffle budget: one for the bucket window (keyed by (band_id,
    band_hash)), one for the anti-join — signatures are map-side
    projections (see minhash_signature_table). All shuffle keys are
    md5-derived, so none can skew."""
    from pyspark.sql import Window

    bands = band_table(df, text_col, id_col, n_hashes, band_size, k)
    w = Window.partitionBy("band_id", "band_hash")
    dropped = (bands.withColumn("bmin", F.min("id").over(w))
               .filter(F.col("bmin") < F.col("id"))
               .select(F.col("id").alias(id_col)).distinct())
    return df.join(dropped, id_col, "left_anti")


# observation names must be unique within a query plan; a module
# counter keeps repeated minhash_lsh_pairs calls composable
_OBS_COUNTER = 0


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 8,
                      band_size: int = 2, k: int = 3,
                      bucket_cap: int | None = 64) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: docs sharing any
    band (band_size consecutive signature components) become a pair.
    Returns distinct (id_a, id_b) with id_a < id_b.

    ``bucket_cap`` bounds the per-bucket pair explosion at scale: a
    bucket of m docs yields m(m-1)/2 pairs, so one mass-duplicate
    cluster (or a hash pathology) of 10^5 docs would emit 5*10^9 pairs
    from a single bucket. Buckets larger than the cap are dropped from
    pair generation — they are either true mass-duplicates (exact
    dedup's hash-groupBy handles those in linear time) or degenerate
    hashes; near-dup detection adds no information at that density.
    The number of dropped buckets is published as the Spark observation
    metric ``lsh_bucket_overflow`` (visible in QueryExecutionListener /
    the live StreamingQueryProgress — zero extra pass). Pass None to
    disable the cap."""
    # Signatures via band_table's map-side projection form; each band
    # hash references its two components exactly once, and the shared
    # digest arrays are not duplicated by projection collapse (md5
    # appears exactly twice in the physical plan — verified in
    # plans/r11/minhash_lsh_pairs_after.txt).
    banded = band_table(df, text_col, id_col, n_hashes, band_size, k)
    # One shuffle: group ids per bucket, then generate the in-bucket
    # pairs with array expressions. Beats the naive self-join (which
    # recomputes the signature scan on both sides) and makes the
    # bucket-size cap trivial to add at 100 TB scale.
    buckets = (banded.groupBy("band_id", "band_hash")
               .agg(F.sort_array(F.collect_set("id")).alias("ids"))
               .filter(F.size("ids") > 1))
    if bucket_cap is not None:
        global _OBS_COUNTER
        _OBS_COUNTER += 1
        buckets = buckets.observe(
            f"lsh_bucket_overflow_{_OBS_COUNTER}",
            F.sum(F.when(F.size("ids") > bucket_cap, 1).otherwise(0))
            .alias("overflow_buckets"))
        buckets = buckets.filter(F.size("ids") <= bucket_cap)
    n = F.size("ids")
    pair_structs = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + 2, n),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        # RANGE-partition the cross-band dedup (round-11): the distinct
        # agg's ClusteredDistribution is satisfied either way, but
        # range partitioning also satisfies the (id_a, id_b) ordering
        # the registered consumer sorts by — its orderBy becomes a
        # LOCAL sort, collapsing hash(distinct) + range(sort) into one
        # exchange (measured at sf0.1: best-of-5 0.45 -> 0.36 s,
        # median -33%). Join consumers reshuffle on their own key in
        # both forms (neither hash(id_a,id_b) nor range satisfies a
        # join on id_a), so nothing regresses. Trade, stated: the
        # explicit repartition sits below the aggregate, so there is
        # no map-side partial dedup — at most n_bands copies of a
        # pair cross the exchange, bounded and skew-free (md5 keys);
        # and the range boundary-sampling job re-runs the pair-explode
        # stage instead of reading the distinct's shuffle. Re-measured
        # at the 10x corpus (296k pairs, r12 VERDICT #7 probe): the
        # two forms are EQUAL within noise (best 1.18-1.23 s vs
        # 1.24 s interleaved) — the extra explode pass does not invert
        # the sf0.1 win as pair volume grows 400x.
        .repartitionByRange("id_a", "id_b")
        .distinct()
    )


def _shingle_candidates(df: DataFrame, text_col: str, id_col: str,
                        k: int, max_df: int | None
                        ) -> tuple[DataFrame, DataFrame]:
    """Shared candidate generation for the set-similarity family
    (Jaccard + containment): distinct k-shingle inverted index with
    the document-frequency stopword cutoff, per-doc set sizes, and
    the pair intersection counts. One shuffle on the shingle key; the
    semi join keeps the index partitioned on shingle, which the
    candidate self-join immediately reuses. Returns (sizes, inter)."""
    sh = (df.select(F.col(id_col).alias("id"),
                    F.explode(F.array_distinct(
                        word_shingles(F.col(text_col), k))).alias("shingle")))
    if max_df is not None:
        rare = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_df)
                .select("shingle"))
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return sizes, inter


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.2,
                        max_df: int | None = 100) -> DataFrame:
    """n-gram Jaccard similarity over candidate pairs from an
    inverted-index join (pairs must share >= 1 distinct shingle).

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) with distinct-shingle
    sets; all counts are integers, so the oracle matches exactly.

    ``max_df`` is the document-frequency cutoff that makes the
    inverted-index join survive scale: a shingle shared by m documents
    contributes m(m-1)/2 candidate rows, so ONE boilerplate shingle in
    10^5 docs explodes into 5*10^9 candidates. Shingles with document
    frequency > max_df are removed from every shingle set (the
    stopword-feature treatment: both the intersection counts AND the
    set sizes exclude them, so the Jaccard stays an exact set
    similarity over the reduced feature space, and the SQL oracle can
    state the identical cutoff). High-DF shingles carry no near-dup
    signal — they are shared boilerplate by definition. Pass None to
    disable."""
    sizes, inter = _shingle_candidates(df, text_col, id_col, k, max_df)
    return (
        inter
        .join(sizes.withColumnRenamed("id", "id_a")
              .withColumnRenamed("n_shingles", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_shingles", "size_b"), "id_b")
        .withColumn("jaccard",
                    F.col("n_common").cast("double")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common",
                F.round("jaccard", 6).alias("jaccard"))
    )


_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def simhash64(text: Column, k_bits: int = 32) -> Column:
    """SimHash over words as a single column expression: for each of
    k_bits bit positions, sum +1/-1 votes from each word's md5 (bit j
    read from the low bit of hex digit j), then pack the sign bits
    into a BIGINT.

    Uses hex-digit parity instead of integer hashing so the identical
    computation runs in DuckDB; 32 bits keeps the packed value well
    inside BIGINT. NOTE: each bit's fold re-evaluates the word hashes
    (k_bits x md5 work) — hot paths should use simhash_table."""
    words = F.filter(F.split(F.lower(F.trim(text)), "\\s+"),
                     lambda w: w != "")
    hashes = F.transform(words, lambda w: F.md5(w))
    bits = []
    for j in range(k_bits):
        vote = F.aggregate(
            hashes, F.lit(0),
            lambda acc, h: acc + F.when(
                F.substring(h, j + 1, 1).isin(*_ODD_HEX),
                F.lit(1)).otherwise(F.lit(-1)),
        )
        bits.append(F.when(vote > 0, F.lit(2 ** j).cast("long"))
                    .otherwise(F.lit(0).cast("long")))
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total


def connected_components(nodes: DataFrame, pairs: DataFrame,
                         id_col: str = "id", a_col: str = "id_a",
                         b_col: str = "id_b", max_iter: int = 25,
                         ) -> DataFrame:
    """Duplicate clusters from near-dup pairs: connected components by
    iterative min-label propagation. Each node starts labeled with its
    own id; every round each node takes the min of its label and its
    neighbors' labels; fixpoint = every node labeled with its
    component's minimum id. Rounds needed = graph diameter (dup
    clusters are shallow — a handful of rounds), each round one join +
    one aggregation keyed on node id. The driver-side loop with a
    convergence count is the standard Spark pattern for iterative
    graph algorithms (GraphX/GraphFrames do the same under the hood).

    Returns (id, cluster_id); singleton nodes keep cluster_id = id."""
    edges = (pairs.select(F.col(a_col).alias("src"),
                          F.col(b_col).alias("dst"))
             .union(pairs.select(F.col(b_col).alias("src"),
                                 F.col(a_col).alias("dst"))))
    labels = nodes.select(F.col(id_col).alias("id"),
                          F.col(id_col).alias("cluster_id"))
    for _ in range(max_iter):
        neighbor_min = (edges.join(labels,
                                   edges.dst == labels.id)
                        .groupBy("src")
                        .agg(F.min("cluster_id").alias("nmin")))
        updated = (labels.join(neighbor_min,
                               labels.id == neighbor_min.src, "left")
                   .select(
                       "id",
                       F.least(F.col("cluster_id"),
                               F.coalesce(F.col("nmin"),
                                          F.col("cluster_id")))
                       .alias("cluster_id")))
        updated = updated.localCheckpoint(eager=True)
        changed = (updated.alias("u")
                   .join(labels.alias("l"), "id")
                   .filter(F.col("u.cluster_id") != F.col("l.cluster_id"))
                   .count())
        labels = updated
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(cluster diameter exceeds max_iter); raise max_iter — a "
        "silent early exit would split real clusters")


_HEX_DIGITS = "0123456789abcdef"
_HEX_PARITY = "0101010101010101"  # translate map: hex digit -> low bit


def simhash_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k_bits: int = 32) -> DataFrame:
    """SimHash fully map-side with ONE parity mask per word: a first
    projection turns each word into a 32-bit integer whose bit
    (31-j) is the parity of md5 hex digit j — md5 once, then
    translate (hex digit -> its low bit) + conv(base 2) instead of
    k_bits substring/IN probes. A second projection tallies bit j by
    folding shift-and-mask integer adds over the mask array: bit set
    iff +1 votes outnumber -1 votes, i.e. 2 * |odd digits| > |words|.
    (CollapseProject keeps the mask array materialized because the
    array expression is non-cheap and referenced k_bits times.)

    Identical values to simhash64 and to the previous
    explode_outer + groupBy(id) form — measured faster than both at
    sf0.1 — but with NO shuffle and no per-token row blowup: the
    per-document vote tally happens inside the row that owns the text
    (round-11; the groupBy form shuffled one 33-column partial-sum
    row per doc, ~264 B/doc at corpus scale).

    NULL text stays NULL through split/transform, every vote compare
    is NULL -> bit 0, so the doc still emits simhash 0 — the same
    value the explode_outer NULL-word row produced.

    Returns (id, simhash)."""
    masks = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                     lambda w: w != ""),
            lambda w: F.conv(F.translate(F.md5(w), _HEX_DIGITS,
                                         _HEX_PARITY), 2, 10)
            .cast("long")).alias("ms"))
    n = F.size("ms")
    bits = [
        F.when(
            F.aggregate(
                F.col("ms"), F.lit(0).cast("long"),
                # md5 is always 32 hex digits, so digit j sits at bit
                # (31 - j) of the conv'd mask regardless of k_bits
                lambda acc, m: acc + F.shiftright(m, 31 - j)
                .bitwiseAND(F.lit(1))) * 2 > n,
            F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        for j in range(k_bits)
    ]
    return masks.select(
        "id",
        sum(bits[1:], start=bits[0]).alias("simhash"))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      threshold: float = 0.5,
                      max_df: int | None = 100) -> DataFrame:
    """Asymmetric containment similarity over candidate pairs from the
    same inverted-index join as ``ngram_jaccard_pairs``.

    containment(A in B) = |A ∩ B| / |A| over distinct-shingle sets —
    the near-SUPERSET detector Jaccard misses: a short document quoted
    wholesale inside a long one has low Jaccard (the union is large)
    but containment ~1.0 in one direction. This is the signal used to
    drop quotation/aggregator pages whose content is subsumed by
    another crawl document.

    Emits one row per unordered pair with BOTH directed containments;
    a pair is kept when either direction reaches ``threshold``. All
    counts are integers over the max_df-reduced feature space (same
    stopword-shingle cutoff as the Jaccard operator, same oracle
    exactness argument).

    Scale: identical shape to ngram_jaccard_pairs — one shuffle on the
    shingle key for the inverted index, candidate join bounded by the
    document-frequency cutoff, never all-pairs.
    """
    sizes, inter = _shingle_candidates(df, text_col, id_col, k, max_df)
    return (
        inter
        .join(sizes.withColumnRenamed("id", "id_a")
              .withColumnRenamed("n_shingles", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_shingles", "size_b"), "id_b")
        .withColumn("cont_a",
                    F.col("n_common").cast("double") / F.col("size_a"))
        .withColumn("cont_b",
                    F.col("n_common").cast("double") / F.col("size_b"))
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
        .select("id_a", "id_b", "n_common",
                F.round("cont_a", 6).alias("cont_a"),
                F.round("cont_b", 6).alias("cont_b"))
    )


def duplicated_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 5,
                     min_len: int = 10) -> DataFrame:
    """Exact-substring duplicate spans (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better"
    primitive, arXiv:2107.06499): for every document, the maximal
    word ranges whose every k-gram occurs at least twice in the
    corpus (any doc, including this one), kept when the range is at
    least ``min_len`` words. Returns (id_col, span_start, span_end,
    span_words) with 0-based inclusive word positions.

    This is the SPAN-level member of the dedup family: exact_dedup /
    minhash / simhash / semantic_dedup give whole-document verdicts,
    while a crawl corpus' worst duplication is boilerplate PASSAGES
    (license headers, navigation text, quoted articles) embedded in
    otherwise-unique documents — the spans this operator extracts
    (and a cleaner removes) without dropping the documents.

    Semantics: a duplicated substring of length L >= k has all of its
    L-k+1 k-gram starts duplicated, so maximal runs of duplicated
    gram starts are exactly the maximal duplicated substrings, up to
    the standard fingerprint-granularity approximation (the paper's
    suffix-array finds per-PAIR matches; gram runs may chain
    different witnesses — documented, deliberate: it is the k-gram
    analogue every production pipeline ships). Two maximal spans CAN
    overlap by up to k-2 words (gram-start runs separated by a gap
    < k); callers measuring coverage must union them
    (substring_dedup_stats does).

    Scale shape: the grams are built map-side (gram_array zip_with —
    round-11 optimization; previously a lead() window that shuffled
    and sorted every token row by doc id before the gram shuffle),
    then one posexplode (linear in corpus tokens), ONE corpus-wide
    shuffle keyed by the gram with map-side partial counts, a
    count-filtered join back that reuses the gram hash partitioning
    (output bounded by |gram starts| — each start row matches at most
    one count row, so a stopword-heavy hot gram costs its occurrence
    count, never a pair blowup), then doc-keyed windows whose
    partitions are bounded by document length. No driver-side state,
    no all-pairs stage.
    """
    from pyspark.sql import Window

    starts = (df.select(F.col(id_col).alias("id"),
                        F.posexplode(gram_array(F.col(text_col), k))
                        .alias("pos", "gram"))
              .where(F.col("gram").isNotNull()))
    dup_grams = (starts.groupBy("gram")
                 .agg(F.count(F.lit(1)).alias("_n"))
                 .where(F.col("_n") >= 2)
                 .select("gram"))
    dup = starts.join(dup_grams, "gram").select("id", "pos")
    isl = F.col("pos") - F.row_number().over(
        Window.partitionBy("id").orderBy("pos"))
    return (dup.withColumn("_isl", isl)
            .groupBy("id", "_isl")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(k - 1)).alias("span_end"))
            .withColumn("span_words",
                        F.col("span_end") - F.col("span_start") + 1)
            .where(F.col("span_words") >= min_len)
            .select(F.col("id").alias(id_col),
                    F.col("span_start").cast("long").alias("span_start"),
                    F.col("span_end").cast("long").alias("span_end"),
                    F.col("span_words").cast("long").alias("span_words")))


def remove_duplicated_spans(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 5,
                            min_len: int = 10) -> DataFrame:
    """The transform half of the span family: every document with its
    ``duplicated_spans`` EXCISED — what Lee et al. 2021 actually do to
    the training corpus (drop the duplicated substrings, keep the
    documents). Returns one row per input doc: (id_col, n_words,
    n_kept, clean_text), where clean_text is the space-joined kept
    tokens of the NORMALIZED stream (lowercased, whitespace-collapsed
    — cleaning re-tokenizes; it does not preserve original bytes) and
    docs without qualifying spans pass through with n_kept == n_words.

    Overlapping maximal spans are interval-MERGED per doc first (the
    substring_dedup_stats union), so the coverage intervals are
    disjoint and the word-classification join matches each word at
    most once: join output is bounded by |words|, not
    |words| x |spans|. Shape on top of duplicated_spans' one
    gram-keyed shuffle: doc-keyed interval-merge windows over SPAN
    rows (thousands of times fewer than tokens), one doc-keyed
    range-classification join, one doc-keyed collect whose partitions
    are bounded by document length.
    """
    from pyspark.sql import Window

    spans = duplicated_spans(df, text_col, id_col, k, min_len)
    w = Window.partitionBy(id_col).orderBy("span_start")
    prev_max_end = F.max("span_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    cov = (spans
           .withColumn("_brk",
                       F.when(F.col("span_start")
                              > F.coalesce(prev_max_end, F.lit(-2)) + 1,
                              1).otherwise(0))
           .withColumn("_grp", F.sum("_brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
           .groupBy(id_col, "_grp")
           .agg(F.min("span_start").alias("_ca"),
                F.max("span_end").alias("_cb"))
           .select(F.col(id_col).alias("_cid"), "_ca", "_cb"))
    words = df.select(F.col(id_col).alias("id"),
                      F.posexplode(whitespace_words(F.col(text_col)))
                      .alias("pos", "w"))
    covered = (words.join(
        cov, (words["id"] == cov["_cid"])
        & (words["pos"] >= cov["_ca"]) & (words["pos"] <= cov["_cb"]))
        .select("id", "pos"))
    kept = words.join(covered, ["id", "pos"], "left_anti")
    agg = (kept.groupBy("id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "w"))),
                        lambda s: s["w"]), " ").alias("clean_text")))
    totals = (words.groupBy("id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_words")))
    return (totals.join(agg, "id", "left")
            .select(F.col("id").alias(id_col), "n_words",
                    F.coalesce("n_kept", F.lit(0).cast("long"))
                    .alias("n_kept"),
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text")))
