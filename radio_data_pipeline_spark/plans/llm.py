"""LLM-training-data pipeline queries over `documents` (SURVEY.md
§2.8 driver extensions): text statistics, language ID, token counting,
fingerprinting, exact + MinHash-LSH + n-gram-Jaccard dedup, SimHash.

Oracle-parity strategy: all hashing is md5-hex (identical output in
Spark and DuckDB), all counts are integers, and the one regex dialect
difference that matters (DuckDB regexp_replace needs the 'g' flag to
replace all) is handled in the SQL. SQL for the signature/simhash
queries is generated from the same seed/band parameters as the Spark
expressions so the two can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radio_data_pipeline_spark.functions.dedup import (
    exact_dedup,
    greedy_band_survivors,
    minhash_lsh_pairs,
    connected_components,
    minhash_signature_table,
    ngram_jaccard_pairs,
    simhash_table,
)
from radio_data_pipeline_spark.functions.similarity import cosine_similarity
from radio_data_pipeline_spark.functions.text import (
    BPE_RE,
    WHITESPACE_WORDS_SQL,
    PUNCT_RE,
    STOPWORDS,
    WORD_RE,
    bpe_ish_token_count,
    fingerprint,
    language_id,
    punct_count,
    quality_score,
    stopword_hits,
    word_count,
    word_tokens,
)
from radio_data_pipeline_spark.plans.registry import register
from radio_data_pipeline_spark.sources.parquet import (
    load_table,
    load_table_fanned,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: every query here runs a hash/regex kernel whose CPU cost
    # dwarfs the text bytes; small single-row-group files must not
    # serialize it onto one core (no-op at real scale — see parquet.py)
    return load_table_fanned(spark, sf_dir, "documents")


def _docs_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_id-RANGE fan-out for the map-only kernels that end with
    # orderBy(doc_id): the one exchange parallelizes the kernel AND
    # satisfies the trailing sort, so the kernel runs once per action
    # instead of twice (orderBy's boundary-sampling job re-ran the
    # kernel stage — operators/ordering.py). Same shuffled bytes as
    # the round-robin fan; no-op at real scale like _docs. Queries
    # whose next step is their own shuffle (band/gram/fingerprint
    # keys) keep the round-robin _docs — for them the fan key is
    # irrelevant and round-robin spreads skewed doc lengths evenly.
    return load_table_fanned(spark, sf_dir, "documents",
                             range_cols=("doc_id",))


def _sqlq(pattern: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    return pattern.replace("'", "''")


_PUNCT_SQL = _sqlq(PUNCT_RE)

_STOP_SQL = " + ".join(
    f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in STOPWORDS)


@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           length(text) AS n_chars_calc,
           len(regexp_extract_all(text, '{WORD_RE}')) AS n_words,
           len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '{_PUNCT_SQL}')) AS n_punct,
           round(CAST(coalesce(list_aggregate(
                   list_transform(regexp_extract_all(text, '{WORD_RE}'),
                                  w -> len(w)), 'sum'), 0) AS DOUBLE)
                 / greatest(len(regexp_extract_all(text, '{WORD_RE}')), 1),
                 6) AS avg_word_len
    FROM documents
    ORDER BY doc_id
    """,
    doc="Text quality statistics: char/word/BPE-ish-token/punctuation "
        "counts + mean word length, all as JVM regex built-ins.",
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.col("text")
    words = word_tokens(text)
    total_len = F.aggregate(F.transform(words, F.length), F.lit(0),
                            lambda acc, x: acc + x)
    return (
        _docs_by_id(spark, sf_dir)
        .select(
            "doc_id", "n_chars",
            F.length(text).alias("n_chars_calc"),
            F.size(words).alias("n_words"),
            bpe_ish_token_count(text).alias("n_bpe_tokens"),
            punct_count(text).alias("n_punct"),
            F.round(total_len.cast("double")
                    / F.greatest(F.size(words), F.lit(1)), 6)
             .alias("avg_word_len"),
        )
        .orderBy("doc_id")
    )


@register(
    "language_id",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN ({_STOP_SQL}) * 100.0
                     / greatest(len(regexp_extract_all(text, '{WORD_RE}')), 1)
                     >= 2.0
                THEN 'en' ELSE 'unknown' END AS predicted_lang,
           lang AS actual_lang
    FROM documents
    ORDER BY doc_id
    """,
    doc="Function-word language-ID heuristic (stopword hits per 100 "
        "words); the plumbing for a real per-language table chain.",
    tags=("text", "langid"),
)
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs_by_id(spark, sf_dir)
        .select("doc_id",
                language_id(F.col("text")).alias("predicted_lang"),
                F.col("lang").alias("actual_lang"))
        .orderBy("doc_id")
    )


@register(
    "quality_score",
    oracle=f"""
    SELECT doc_id,
           round(0.4 * least(len(regexp_extract_all(text, '{WORD_RE}')) / 100.0, 1.0)
               + 0.3 * (1.0 - least(
                   CAST(len(regexp_extract_all(text, '{_PUNCT_SQL}')) AS DOUBLE)
                   / greatest(len(regexp_extract_all(text, '{WORD_RE}')), 1), 1.0))
               + 0.3 * least(
                   10.0 * ({_STOP_SQL})
                   / greatest(len(regexp_extract_all(text, '{WORD_RE}')), 1), 1.0),
               6) AS quality
    FROM documents
    ORDER BY doc_id
    """,
    doc="Deterministic doc-quality heuristic (length / punctuation "
        "density / stopword ratio) for corpus filtering.",
    tags=("text", "quality"),
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs_by_id(spark, sf_dir)
        .select("doc_id",
                F.round(quality_score(F.col("text")), 6).alias("quality"))
        .orderBy("doc_id")
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    doc="Content fingerprint: md5 of whitespace-normalized lowercased "
        "text — the exact-dedup key. (DuckDB needs the 'g' flag to "
        "match Spark's replace-all regexp_replace.)",
    tags=("text", "dedup"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs_by_id(spark, sf_dir)
        .select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
        .orderBy("doc_id")
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           min(doc_id) AS canonical_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY fp
    ORDER BY fp
    """,
    doc="Exact dedup: hash-groupBy on the fingerprint; md5 keys are "
        "uniform so the shuffle cannot skew.",
    tags=("dedup",),
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir)).orderBy("fp")


# ------------------------------------------------------------------
# MinHash signatures / LSH candidate pairs — SQL generated from the
# same parameters as the Spark expressions
# ------------------------------------------------------------------

_K = 3
_N_HASHES = 8
_BAND_SIZE = 2

_SHINGLES_SQL = (
    "list_transform(range(1, greatest(len(words) - {km1}, 0) + 1), "
    "i -> array_to_string(words[i:i+{km1}], ' '))"
).format(km1=_K - 1)

_WORDS_CTE = (f"SELECT doc_id, {WHITESPACE_WORDS_SQL} AS words "
              "FROM documents")


def _sig_terms() -> list[str]:
    # mirrors functions/dedup.py chunked scheme: component seed =
    # 8-hex-char slice (seed%4) of md5 over the group-prefixed shingle
    terms = []
    for seed in range(_N_HASHES):
        group = seed // 4
        inner = "s" if group == 0 else f"'{group}|' || s"
        offset = (seed % 4) * 8 + 1
        terms.append(
            f"list_aggregate(list_transform(sh, "
            f"s -> substr(md5({inner}), {offset}, 8)), 'min') AS h{seed}")
    return terms


_SIG_SQL_CORE = (
    f"WITH w AS ({_WORDS_CTE}),\n"
    f"sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM w),\n"
    f"sigs AS (SELECT doc_id, {', '.join(_sig_terms())} FROM sh)"
)


@register(
    "minhash_signatures",
    oracle=f"""
    {_SIG_SQL_CORE}
    SELECT * FROM sigs ORDER BY doc_id
    """,
    doc="8-component MinHash signatures over 3-word shingles. Hash = "
        "md5 hex string; min over fixed-width hex == min over the "
        "128-bit value, so the signature is engine-portable. Pure "
        "per-row array expressions — no shuffle.",
    tags=("dedup", "minhash"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signature_table(_docs_by_id(spark, sf_dir), n_hashes=_N_HASHES,
                                   k=_K)
    return sigs.withColumnRenamed("id", "doc_id").orderBy("doc_id")


def _bands_sql() -> str:
    parts = []
    n_bands = _N_HASHES // _BAND_SIZE
    for b in range(n_bands):
        hs = " || '_' || ".join(
            f"h{b * _BAND_SIZE + j}" for j in range(_BAND_SIZE))
        parts.append(f"SELECT doc_id, {b} AS band_id, {hs} AS band_hash "
                     f"FROM sigs")
    return " UNION ALL ".join(parts)


_BUCKET_CAP = 64  # minhash_lsh_pairs bucket_cap mirrored into the SQL


def _cand_sql() -> str:
    """The banded candidate-pair subquery shared by every LSH oracle —
    one definition so the three oracles cannot drift. Mirrors the
    engine's bucket-size cap: buckets larger than _BUCKET_CAP are
    excluded from pair generation."""
    return f"""
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                  AND a.doc_id < b.doc_id
      JOIN (SELECT band_id, band_hash
            FROM bands
            GROUP BY band_id, band_hash
            HAVING count(*) <= {_BUCKET_CAP}) ok
        ON a.band_id = ok.band_id AND a.band_hash = ok.band_hash
    """


@register(
    "minhash_lsh_pairs",
    oracle=f"""
    {_SIG_SQL_CORE},
    bands AS ({_bands_sql()})
    SELECT id_a, id_b FROM ({_cand_sql()})
    ORDER BY id_a, id_b
    """,
    doc="MinHash-LSH near-duplicate candidates: 4 bands x 2 rows; the "
        "pair search is an equi-join on (band_id, band_hash) — linear "
        "in corpus size plus bucket blow-up, never all-pairs.",
    tags=("dedup", "minhash", "lsh"),
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=_N_HASHES,
                              band_size=_BAND_SIZE, k=_K,
                              bucket_cap=_BUCKET_CAP)
            .orderBy("id_a", "id_b"))


@register(
    "near_dup_survivors_greedy",
    oracle=f"""
    {_SIG_SQL_CORE},
    bands AS ({_bands_sql()}),
    dropped AS (
      SELECT DISTINCT b.doc_id
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id
                  AND a.band_hash = b.band_hash
                  AND a.doc_id < b.doc_id)
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    ORDER BY doc_id
    """,
    doc="Greedy one-pass near-dup dedup (functions/dedup.py "
        "greedy_band_survivors): a doc is dropped iff any LSH band is "
        "shared with a smaller-id doc. Window-min per bucket — linear "
        "in bucket size, so mass-duplicate clusters cost rows, not "
        "pairs, and no bucket cap is needed.",
    tags=("dedup", "minhash", "lsh"),
)
def near_dup_survivors_greedy_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    return (greedy_band_survivors(_docs(spark, sf_dir),
                                  n_hashes=_N_HASHES,
                                  band_size=_BAND_SIZE, k=_K)
            .select("doc_id").orderBy("doc_id"))


_MAX_DF = 100  # ngram_jaccard_pairs document-frequency cutoff


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH w AS ({_WORDS_CTE}),
    shl AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM w),
    sh0 AS (SELECT doc_id AS id, unnest(list_distinct(sh)) AS shingle FROM shl),
    rare AS (SELECT shingle FROM sh0 GROUP BY shingle
             HAVING count(*) <= {_MAX_DF}),
    sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, i.n_common,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.2
    ORDER BY id_a, id_b
    """,
    doc="n-gram Jaccard near-dup scoring on inverted-index candidate "
        "pairs (docs sharing >= 1 rare shingle); shingles above the "
        "document-frequency cutoff are stopword features removed from "
        "every set, bounding the candidate join. Integer set "
        "arithmetic, exact across engines.",
    tags=("dedup", "jaccard"),
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (ngram_jaccard_pairs(_docs(spark, sf_dir), k=_K, threshold=0.2,
                                max_df=_MAX_DF)
            .orderBy("id_a", "id_b"))


_SIMHASH_BITS = 32


def _simhash_sql() -> str:
    terms = []
    for j in range(_SIMHASH_BITS):
        vote = (f"list_sum(list_transform(wf, w -> CASE WHEN "
                f"strpos('13579bdf', substr(md5(w), {j + 1}, 1)) > 0 "
                f"THEN 1 ELSE -1 END))")
        terms.append(f"(CASE WHEN {vote} > 0 THEN CAST({1 << j} AS BIGINT) "
                     f"ELSE CAST(0 AS BIGINT) END)")
    return " + ".join(terms)


@register(
    "simhash_docs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x != '') AS wf
      FROM documents
    )
    SELECT doc_id, {_simhash_sql()} AS simhash
    FROM w
    ORDER BY doc_id
    """,
    doc="32-bit SimHash over words; bit j votes read from the parity "
        "of md5 hex digit j so the identical computation runs in both "
        "engines. Near-dup pairs = small Hamming distance (bucketed "
        "by bit-chunks at scale).",
    tags=("dedup", "simhash"),
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (simhash_table(_docs_by_id(spark, sf_dir), k_bits=_SIMHASH_BITS)
            .withColumnRenamed("id", "doc_id")
            .orderBy("doc_id"))


_MS_THRESHOLD = 0.1


@register(
    "dedup_multi_signal",
    oracle=f"""
    {_SIG_SQL_CORE},
    bands AS ({_bands_sql()}),
    cand AS ({_cand_sql()}),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT c.id_a, c.id_b,
           round(list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v))
                    * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cosine
    FROM cand c
    JOIN emb ea ON c.id_a = ea.vec_id
    JOIN emb eb ON c.id_b = eb.vec_id
    WHERE round(list_dot_product(ea.v, eb.v)
                / (sqrt(list_dot_product(ea.v, ea.v))
                   * sqrt(list_dot_product(eb.v, eb.v))), 6)
          >= {_MS_THRESHOLD}
    ORDER BY id_a, id_b
    """,
    doc="Multi-signal dedup, the production pattern: cheap MinHash-LSH "
        "candidate generation (linear scan + banded equi-join) followed "
        "by embedding-cosine verification ONLY on the candidates — the "
        "expensive signal touches |candidates| pairs, not N^2/2. The "
        "doc_id<->vec_id join stays on the shuffle key of the pair "
        "generation.",
    tags=("dedup", "minhash", "similarity"),
)
def dedup_multi_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=_N_HASHES,
                             band_size=_BAND_SIZE, k=_K,
                             bucket_cap=_BUCKET_CAP)
    emb = load_table(spark, sf_dir, "embeddings")
    ea = emb.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("id_b"),
                    F.col("embedding").alias("vb"))
    return (
        cand.join(ea, "id_a").join(eb, "id_b")
        .select("id_a", "id_b",
                F.round(cosine_similarity(F.col("va"), F.col("vb")), 6)
                .alias("cosine"))
        .filter(F.col("cosine") >= _MS_THRESHOLD)
        .orderBy("id_a", "id_b")
    )


def _clusters_oracle() -> str:
    core = _SIG_SQL_CORE.replace("WITH ", "WITH RECURSIVE ", 1)
    return f"""
    {core},
    bands AS ({_bands_sql()}),
    cand AS ({_cand_sql()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM cand
    ),
    reach(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id
    """


@register(
    "dedup_clusters",
    oracle=_clusters_oracle(),
    doc="Duplicate CLUSTERS, not just pairs: connected components over "
        "the MinHash-LSH candidate graph via iterative min-label "
        "propagation (functions/dedup.py connected_components) — the "
        "step that turns pairwise near-dup hits into keep-one-per-"
        "cluster decisions. Iterations = cluster diameter; each round "
        "is one node-keyed join + aggregation with localCheckpoint "
        "lineage truncation. The oracle computes the same components "
        "with a recursive CTE.",
    tags=("dedup", "graph", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n_hashes=_N_HASHES,
                              band_size=_BAND_SIZE, k=_K,
                              bucket_cap=_BUCKET_CAP)
    comps = connected_components(docs.select("doc_id"), pairs,
                                 id_col="doc_id")
    return (comps.select(F.col("id").alias("doc_id"), "cluster_id")
            .orderBy("doc_id"))


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0),
                   6) AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0))
                                 + 1.0) DESC, tf.term) AS rk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, score
    FROM scored WHERE rk <= 3
    ORDER BY doc_id, term
    """,
    doc="TF-IDF top-3 terms per document (smoothed idf = "
        "ln((N+1)/(df+1))+1): term frequencies and document "
        "frequencies are two aggregations over the exploded token "
        "stream sharing the word-keyed shuffle; the corpus size joins "
        "in as a broadcast scalar; per-doc top-k is a window rank with "
        "a deterministic term tie-break. The keyword-extraction / "
        "corpus-weighting primitive of a text pipeline.",
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id",
        F.explode(word_tokens(F.lower(F.col("text")))).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derived from tf, not from a second pass over the token
    # stream (r12): tf has exactly one row per (doc, term), so
    # count(*) per term over tf == countDistinct(doc_id) over words —
    # and because both branches now share the IDENTICAL
    # (doc_id, term) exchange subplan, Spark plans a ReusedExchange:
    # the explode + token shuffle runs ONCE per action instead of
    # twice (the old dfreq branch shuffled the whole token stream a
    # second time under a different key). The second exchange left is
    # hash(term) over the already-aggregated tf rows.
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf")
             * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", F.round(score, 6).alias("score"))
        .orderBy("doc_id", "term")
    )


@register(
    "docs_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '20' ELSE '80' END
    ORDER BY doc_id
    """,
    doc="Deterministic STRATIFIED sampling: per-language rates "
        "(down-sample the majority language to ~12.5%, keep ~50% of "
        "the rest) via an md5-prefix threshold on (lang, doc_id) — "
        "engine-portable, repartition-stable, pushed to the scan as a "
        "plain filter; the data-mixture rebalancing primitive of LLM "
        "corpus construction.",
    tags=("text", "sampling"),
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_by_id(spark, sf_dir)
    key = F.md5(F.concat(F.col("lang"), F.lit("|"),
                         F.col("doc_id").cast("string")))
    thr = F.when(F.col("lang") == "en", F.lit("20")).otherwise(F.lit("80"))
    return (docs.filter(F.substring(key, 1, 2) < thr)
            .select("doc_id", "lang", "source")
            .orderBy("doc_id"))


@register(
    "documents_hash_sample",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ORDER BY doc_id
    """,
    doc="Deterministic ~1/16 sample via an md5-prefix predicate on the "
        "key — the reproducible-sampling pattern for corpus work at "
        "scale: engine-portable (unlike TABLESAMPLE/rand seeds, the "
        "same rows come back from Spark, DuckDB, or anything with "
        "md5), stable under repartitioning, and pushed to the scan as "
        "a plain filter.",
    tags=("sampling", "filter"),
)
def documents_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_by_id(spark, sf_dir)
    return (docs
            .filter(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 1) == "0")
            .select("doc_id", "n_chars")
            .orderBy("doc_id"))
