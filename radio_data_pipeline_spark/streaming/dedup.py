"""Incremental near-duplicate ingest: continuous dedup of an arriving
document stream against the ENTIRE accumulated corpus, without ever
rebuilding or rescanning it.

This is the missing live half of the batch dedup surface
(functions/dedup.py): batch `greedy_band_survivors` answers "dedup
this corpus once"; this module answers "keep deduping as the corpus
grows" — the shape a 100 TB training-data pipeline actually runs
(crawl shards arrive forever; a doc near-duplicating ANYTHING already
ingested must be dropped, cheaply, forever).

Design — the persisted band index IS the dedup state:

- Every processed document's LSH band rows land in a parquet dataset
  partitioned by ``ingest_batch`` / ``band_id`` / ``bh_prefix`` (the
  first hex chars of the band hash). No serving process, no bloom
  sidecar to rebuild: the PARTITION LAYOUT is the index (the same
  layout-as-index idea as similarity.write_lsh_index / write_ivf_index).
- A micro-batch probes the index with a partition-pruning predicate
  built from ITS OWN bands' (band_id, bh_prefix) pairs — at most
  n_bands * |batch| directories are listed or read, so per-batch probe
  I/O scales with the BATCH, not with the accumulated corpus. The
  probe join broadcasts the batch's band table (micro-batch-sized)
  against the pruned index scan: no shuffle of index data, ever.
- ALL processed docs' bands are indexed — survivors AND dropped. A
  new doc that duplicates an already-dropped doc must still be
  dropped (its content is in the corpus' history even though the copy
  was rejected); indexing only survivors would re-admit every second
  copy of a dropped chain.

Semantics: within a micro-batch, the batch-local greedy rule (dropped
iff a band is shared with a smaller id — functions/dedup.py
greedy_band_survivors); across batches, ARRIVAL order wins (any index
hit drops the new doc regardless of id comparison). When batches
arrive in nondecreasing id order the two orders coincide and the
stream's survivor set equals the batch `greedy_band_survivors` of the
full corpus — pinned by tests/test_streaming_dedup.py.

Exactly-once: per-batch overwrite layout throughout (the
stream_to_training_shards pattern). Each batch owns
``out_path/batch=N`` and ``index_path/ingest_batch=N``; a batch
re-executed after a mid-write crash replaces its own partial output.
The probe excludes ``ingest_batch == current batch id`` so a replayed
batch never matches the half-written index rows of its own failed
attempt.
"""

from __future__ import annotations

import json
import threading as _threading
import time as _time
from collections import deque as _deque
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import band_table

# default hex chars of band_hash used as the probe-pruning partition
# key: 2 -> 256 directories per band, so a batch with B band rows
# probes at most min(256 * n_bands, B) directories however big the
# corpus is. Widening to 3 (4,096 dirs/band) is the §16 growth knob
# when the pruned scan's share of index bytes starts to matter — but
# the width is BAKED INTO the index layout: every probe and append
# against an index must use the width it was created with (pass the
# same prefix_len), or probes look in the wrong directories and
# silently admit duplicates.
_PREFIX_LEN = 2

# On-disk format version of the band-index layout. Bumped when the
# layout or row schema changes incompatibly ('p'-prefixed bh_prefix
# dirs + the src_batch replay column ARE version 1 — an index written
# before versioning predates both and must be rebuilt, not probed).
_BAND_FORMAT_VERSION = 1

# The layout parameters are immutable once the first row is filed
# (prefix_len is baked into every directory name; the hash params
# into every band_hash), so a per-process cache keyed by index path
# can never go stale — and it keeps the per-batch serving path free
# of repeated tiny metadata reads.
_BAND_META_CACHE: dict[str, dict] = {}
# (mtime_ms, length) of the _meta.json each cache entry was read
# from — the per-call revalidation key (a replaced file invalidates
# the entry on the accept path too; review r9)
_BAND_META_STAMPS: dict[str, tuple[int, int]] = {}


def _hadoop_fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _read_small_text(spark: SparkSession, fs, jpath) -> str:
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def _write_small_text(fs, jpath, text: str) -> None:
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def ensure_band_meta(spark: SparkSession, index_path: str,
                     prefix_len: int, n_hashes: int, band_size: int,
                     k: int) -> dict:
    """Validate (or, on the very first use of an empty index, persist)
    the band index's layout parameters as ``_meta.json`` under the
    index root — leading-underscore names are invisible to partition
    discovery, like the semantic index's ``_quantizer``.

    prefix_len is baked into every partition directory name and the
    hash params (n_hashes, band_size, k) into every stored band_hash:
    a probe or append with ANY mismatched value looks in the wrong
    directories / compares incomparable hashes and silently admits
    duplicates. This makes the mismatch loud instead (ADVICE r6
    medium). An index holding batches but no ``_meta.json`` predates
    versioning ('p'-less numeric dirs, rows without src_batch) and is
    refused outright — probing it would silently miss or crash on the
    missing column. Returns the validated meta dict."""
    meta = {"format_version": _BAND_FORMAT_VERSION,
            "prefix_len": int(prefix_len), "n_hashes": int(n_hashes),
            "band_size": int(band_size), "k": int(k)}
    cached = _BAND_META_CACHE.get(index_path)
    if cached is not None:
        # the cache must not outlive the index: after a
        # delete-and-rebuild at the same path (the mismatch error's
        # own remediation) a stale entry would stop _meta.json from
        # ever being written for the fresh index (r7 ADVICE) — or,
        # WORSE, silently accept a caller still passing the deleted
        # index's params (review r9: the r8 mismatch-path re-read
        # only covered the about-to-raise side). One driver-side
        # getFileStatus per call revalidates the cache against the
        # file's (mtime, length) — same RPC cost class as the old
        # exists() — so a replaced _meta.json invalidates on BOTH
        # the accept and the reject path. Residual window, named
        # honestly (review r9): a delete-and-rebuild that lands an
        # EQUAL-LENGTH _meta.json within the same millisecond tick
        # produces an identical stamp and keeps the stale entry —
        # closing it needs a content read per call, which is the
        # per-batch fixed cost this cache exists to avoid; the
        # layout-params-are-immutable contract makes the combination
        # (sub-ms rebuild + equal-length params + a caller still
        # holding the dead index's params) an accepted non-goal.
        fs, _ = _hadoop_fs(spark, index_path)
        _, mpath = _hadoop_fs(spark, f"{index_path}/_meta.json")
        try:
            st = fs.getFileStatus(mpath)
            stamp = (int(st.getModificationTime()), int(st.getLen()))
        except Exception:
            stamp = None  # missing (or unstat-able): drop the entry
        if stamp is None or stamp != _BAND_META_STAMPS.get(index_path):
            _BAND_META_CACHE.pop(index_path, None)
            _BAND_META_STAMPS.pop(index_path, None)
            cached = None
    if cached is None:
        fs, _ = _hadoop_fs(spark, index_path)
        _, mpath = _hadoop_fs(spark, f"{index_path}/_meta.json")
        if fs.exists(mpath):
            cached = json.loads(_read_small_text(spark, fs, mpath))
        elif _index_has_batches(spark, index_path):
            raise ValueError(
                f"band index at {index_path} holds ingested batches "
                "but no _meta.json — it predates the versioned layout "
                "(unprefixed bh_prefix directories, rows without "
                "src_batch) and cannot be probed safely; rebuild it "
                "with the current writer")
        else:
            _write_small_text(fs, mpath, json.dumps(meta))
            cached = meta
        _BAND_META_CACHE[index_path] = cached
        try:
            st = fs.getFileStatus(mpath)
            _BAND_META_STAMPS[index_path] = (
                int(st.getModificationTime()), int(st.getLen()))
        except Exception:
            _BAND_META_STAMPS.pop(index_path, None)
    if cached != meta:
        # before raising, re-read _meta.json from disk: a
        # delete-and-rebuild at the same path with DIFFERENT params
        # leaves a stale in-process cache entry that would spuriously
        # raise (or, worse, accept outdated params) against the live
        # index (r8 ADVICE). The exists() check above only covers the
        # missing-file case; this covers the replaced-file case. One
        # extra small read, and only on the about-to-fail path.
        fs, _ = _hadoop_fs(spark, index_path)
        _, mpath = _hadoop_fs(spark, f"{index_path}/_meta.json")
        if fs.exists(mpath):
            fresh = json.loads(_read_small_text(spark, fs, mpath))
            if fresh != cached:
                _BAND_META_CACHE[index_path] = fresh
                cached = fresh
                try:
                    st = fs.getFileStatus(mpath)
                    _BAND_META_STAMPS[index_path] = (
                        int(st.getModificationTime()),
                        int(st.getLen()))
                except Exception:
                    _BAND_META_STAMPS.pop(index_path, None)
    if cached != meta:
        raise ValueError(
            f"band-index layout mismatch at {index_path}: the index "
            f"was created with {cached} but this call passed {meta} — "
            "prefix_len and the hash parameters are baked into the "
            "on-disk layout and must match the index's own values")
    return cached


def _prefixed_bands(batch_df: DataFrame, text_col: str, id_col: str,
                    n_hashes: int, band_size: int, k: int,
                    prefix_len: int = _PREFIX_LEN) -> DataFrame:
    # the 'p' prefix makes every partition value non-numeric ON
    # PURPOSE: hive partition-type inference parses pure-hex dirs like
    # '07' or '3f' ('3' + float suffix 'f') as Java doubles, and when
    # EVERY dir in a small index parses, the column is inferred DOUBLE
    # — the string isin() probe then matches nothing (silently
    # admitting duplicates) and compaction would rewrite colliding
    # values ('3f' -> 3.0 == '03' -> 3.0) permanently. A leading
    # letter defeats numeric inference for any value.
    return (band_table(batch_df, text_col, id_col, n_hashes, band_size, k)
            .withColumn("bh_prefix",
                        F.concat(F.lit("p"),
                                 F.substring("band_hash", 1,
                                             prefix_len))))


def _ingest_dirs(spark: SparkSession, index_path: str):
    """(fs, root, ``ingest_batch=*`` child Paths) through Hadoop's
    FileSystem, so any writer-accepted scheme (file:/, hdfs://,
    s3a://) answers correctly. The one listing primitive every
    maintenance op builds its source set from — a layout or naming
    change lands in exactly one place."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(index_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return fs, jpath, []
    return fs, jpath, [st.getPath() for st in fs.listStatus(jpath)
                       if st.getPath().getName()
                       .startswith("ingest_batch=")]


def _next_generation(sources, generation: int) -> int:
    """The strictly-decreasing generation rule shared by every fold:
    ``min(requested, min(existing generations) - 1)`` — a fold never
    overwrites a generation it is reading."""
    gen_ids = [int(p.getName().split("=", 1)[1]) for p in sources]
    return min([generation] + [g - 1 for g in gen_ids if g < 0])


def _nonempty_dirs(fs, dirs, known_nonempty: "set[str] | None" = None,
                   ) -> list:
    """Subset of ``dirs`` that contain at least one parquet data
    file. A zero-row append (a micro-batch whose every doc the gate
    dropped, or an empty arriving file) commits a ``_SUCCESS``-only
    directory — partitioned writes emit no part files for zero rows —
    and a per-dir parquet read over such a directory fails schema
    inference (UNABLE_TO_INFER_SCHEMA). Every reader that enumerates
    ingest dirs explicitly (handles, compactor) filters through this;
    the dirs stay visible to LISTINGS (signals still count them, so
    maintenance folds eventually delete them). Local paths walk in
    Python with early exit (the §21 py4j-per-file tax); remote
    schemes take the first hit of the recursive listing RPC.

    ``known_nonempty``: optional mutable cache of dir NAMES already
    seen to hold data — a dir that has data never becomes empty
    while it exists (replay overwrites keep the same name), so
    serving handles pass a per-handle set and only not-yet-nonempty
    dirs are re-walked each call. Without it every handle kernel
    call re-pays one recursive walk (locally) or listFiles RPC
    (remote) PER LIVE DIR — partially re-introducing the per-batch
    listing cost the handle exists to amortize (r9 ADVICE). Only
    positive results are cached; zero-row dirs stay re-checked.

    Known limit: the cache assumes a dir NAME is never deleted and
    then recreated DATA-LESS within one handle's lifetime. Reaching
    that requires reusing a batch id against an index whose earlier
    same-id batch a fold already relabeled — which the replay
    contract forbids anyway (the src_batch exclusion would misbehave
    first); fresh-checkpoint restarts must target a fresh index or
    keep ids monotone (batch_offset), per the module docstring."""
    import os

    out = []
    for p in dirs:
        if known_nonempty is not None \
                and p.getName() in known_nonempty:
            out.append(p)
            continue
        uri = p.toUri()
        if uri.getScheme() in (None, "file"):
            found = False
            for _, _, files in os.walk(uri.getPath()):
                if any(f.endswith(".parquet") for f in files):
                    found = True
                    break
            if found:
                out.append(p)
        else:
            it = fs.listFiles(p, True)
            while it.hasNext():
                if (it.next().getPath().getName()
                        .endswith(".parquet")):
                    out.append(p)
                    break
    if known_nonempty is not None:
        known_nonempty.update(p.getName() for p in out)
    return out


def _index_has_batches(spark: SparkSession, index_path: str) -> bool:
    """True iff at least one committed ``ingest_batch=*`` directory
    holds DATA — a dir-exists check alone would send the kernels'
    path-mode root read into schema inference with zero files when
    the only committed batches were zero-row appends."""
    fs, _, dirs = _ingest_dirs(spark, index_path)
    return bool(_nonempty_dirs(fs, dirs))


class GenerationCachedHandle:
    """Shared serving-handle machinery for both persisted indexes —
    one implementation of the generation cache (review r9: the band
    and semantic handles had drifted-prone near-verbatim copies; the
    cache-refresh edge cases below were each patched twice).

    - The IMMUTABLE generations (``ingest_batch<0``) are served from
      a Spark cache, WITNESS-DEDUPED to at most two representatives
      per ``_GEN_KEYS`` group with DISTINCT src_batch: the probe's
      verdict is an EXISTS over the keys (equal band hashes for the
      band index; round(cosine,6) >= eps over bitwise-equal vectors
      for the semantic one), so representatives carry every verdict.
      TWO representatives (min_by + max_by over src_batch), not one:
      a replayed batch excludes src_batch == its own id, and with
      two distinct values a single batch's exclusion can never hide
      a witness another batch also holds. One representative is
      WRONG because seed/backfill batch ids need not be smaller than
      live ids (the benches seed at 1e6+ on purpose), so the minimum
      could BE the replayed batch while a discarded copy from
      another batch should have witnessed. When every copy shares
      one src_batch the two reps collapse to one, whose exclusion is
      exactly the semantics. Replay equality is test-pinned for both
      indexes. min_by/max_by stay HashAggregate-friendly
      (min(struct) silently falls back to SortAggregate — the r7
      measured negative).
    - Live ``ingest_batch>=0`` dirs are read fresh per call (they
      change every batch and are byte-small);
      ``_SPREAD_LIVE_READS`` subclasses spread them so their share
      of a pair fold never single-tasks.
    - A maintenance fold changes the generation set — detected by
      dir listing per call, cache refreshed in place (fold output is
      verdict-equivalent to its sources).
    - Pre-spread BEFORE persist (``_GEN_SPREAD_FACTOR`` ×
      defaultParallelism): downstream folds run on the cached
      partitioning, replacing any per-batch round-robin shuffle of
      the whole pruned scan — paid once per generation set.

    Subclasses set ``_GEN_KEYS`` (the witness-dedup group),
    ``_GEN_REP_COLS`` (the non-key columns a representative
    carries), ``_GEN_SPREAD_FACTOR``, ``_SPREAD_LIVE_READS``,
    optionally ``_GEN_SORT_COL``, and must call
    ``_init_generation_cache()`` before any refresh.

    ``_GEN_SORT_COL``: when set, the cache is RANGE-partitioned and
    sorted on that column instead of round-robin spread. Sorting
    costs one sample pass at cache build (paid once per generation
    set) and buys probe locality: the in-memory columnar batches
    each span a narrow key range, so a probe-side key filter (the
    kernel's conditional cell IN-list at large N)
    rejects a row on the sorted key's column vector alone and the
    row's heavy payload columns (the 64-dim ``v`` array) are never
    deserialized — lazy per-column access in the columnar-to-row
    path is the actual skip mechanism. Classic min/max batch-stat
    pruning does NOT apply here: Spark's SimpleMetricsCachedBatch
    stat filter handles ``In`` but not ``InSet``, the optimizer
    rewrites any >10-literal IN to InSet, and forcing a ~2000-term
    ``In`` overflows the driver stack at plan-serialization depth
    (measured) — do not re-try that route without new evidence."""

    _GEN_KEYS: tuple = ()
    _GEN_REP_COLS: tuple = ()
    _GEN_SPREAD_FACTOR: int = 1
    _SPREAD_LIVE_READS: bool = False
    _GEN_SORT_COL: "str | None" = None

    def _init_generation_cache(self) -> None:
        self._gen_df = None
        self._gen_names: set[str] = set()
        self._gen_count: int = 0
        # positive-only _nonempty_dirs cache: a dir seen with data
        # never becomes empty while it exists (r9 ADVICE — without
        # this every kernel call re-walks every live dir)
        self._nonempty_names: set[str] = set()

    def _list_ingest(self) -> tuple[list, list]:
        """(generation dirs, live batch dirs) — one driver listing.
        Data-less dirs (zero-row appends — e.g. a batch whose every
        doc an upstream gate dropped) are filtered out: they would
        break the per-dir parquet reads, and they stay visible to
        signals/compaction for eventual cleanup."""
        fs, _, dirs = _ingest_dirs(self.spark, self.path)
        dirs = _nonempty_dirs(fs, dirs, self._nonempty_names)
        gens = [p for p in dirs
                if int(p.getName().split("=", 1)[1]) < 0]
        lives = [p for p in dirs
                 if int(p.getName().split("=", 1)[1]) >= 0]
        return gens, lives

    def _refresh_generations(self) -> None:
        from pyspark import StorageLevel

        gens, _ = self._list_ingest()
        names = {p.getName() for p in gens}
        if names == self._gen_names and (self._gen_df is not None
                                         or not names):
            return
        if self._gen_df is not None:
            try:
                self._gen_df.unpersist(blocking=False)
            except Exception:
                pass
            self._gen_df = None
        # _gen_names is recorded only after the build SUCCEEDS (end
        # of this method): recording it first meant a transient
        # build failure left names current with no cache, and the
        # name-compare guards would never retry (review r9)
        if names:
            keys = list(self._GEN_KEYS)
            rep = F.struct(*self._GEN_REP_COLS)
            packed = (self.spark.read
                      .option("basePath", self.path)
                      .parquet(*[p.toString() for p in gens])
                      .groupBy(*keys)
                      .agg(F.min_by(rep, F.col("src_batch"))
                           .alias("lo"),
                           F.max_by(rep, F.col("src_batch"))
                           .alias("hi")))
            spread = (self.spark.sparkContext.defaultParallelism
                      * self._GEN_SPREAD_FACTOR)
            reps = (packed.select(
                        *keys,
                        F.explode(F.when(
                            F.col("lo.src_batch")
                            == F.col("hi.src_batch"),
                            F.array("lo")).otherwise(
                                F.array("lo", "hi")))
                        .alias("r"))
                    .select(*keys, "r.*"))
            if self._GEN_SORT_COL is not None:
                # probe-locality layout (see class docstring)
                reps = (reps.repartitionByRange(
                            spread, F.col(self._GEN_SORT_COL))
                        .sortWithinPartitions(self._GEN_SORT_COL))
            else:
                reps = reps.repartition(spread)
            self._gen_df = reps.persist(StorageLevel.MEMORY_AND_DISK)
            # eager: the serving loop pays the one-time decode here,
            # not inside its next micro-batch
            try:
                self._gen_count = self._gen_df.count()
            except BaseException:
                df, self._gen_df = self._gen_df, None
                try:
                    df.unpersist(blocking=False)
                except Exception:
                    pass
                raise
        else:
            self._gen_count = 0
        self._gen_names = names

    def index_frame(self):
        """Cached deduped generations ∪ fresh live dirs, or None for
        an empty index. The second clause of the refresh trigger
        matters: a FAILED prior refresh (build threw after _gen_names
        was recorded) leaves _gen_df None with names current —
        without it the cache would silently never rebuild and every
        verdict would run without generation witnesses (review r9)."""
        gens, lives = self._list_ingest()
        names = {p.getName() for p in gens}
        if names != self._gen_names or (names and
                                        self._gen_df is None):
            self._refresh_generations()
        parts = []
        if self._gen_df is not None:
            parts.append(self._gen_df)
        if lives:
            try:
                live = (self.spark.read
                        .option("basePath", self.path)
                        .parquet(*[p.toString() for p in lives]))
            except Exception:
                # the positive-name cache said these dirs hold data,
                # but schema inference just failed — the one way a
                # cached verdict can go stale is a live dir replay-
                # overwritten with a ZERO-ROW commit under the same
                # name (contract-unreachable, but a config change
                # across a fresh-checkpoint restart against the same
                # index could hit it — r10 ADVICE). Evict the cached
                # names, re-walk, retry once; a second failure is a
                # real read error and propagates.
                self._nonempty_names -= {p.getName() for p in lives}
                _, lives = self._list_ingest()
                if not lives:
                    live = None
                else:
                    live = (self.spark.read
                            .option("basePath", self.path)
                            .parquet(*[p.toString() for p in lives]))
            if live is not None:
                if self._SPREAD_LIVE_READS:
                    live = live.repartition(
                        self.spark.sparkContext.defaultParallelism)
                parts.append(live)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _release_generation_cache(self) -> None:
        if self._gen_df is not None:
            try:
                self._gen_df.unpersist(blocking=False)
            except Exception:
                pass
            self._gen_df = None
            self._gen_names = set()
            self._gen_count = 0


class BandIndexHandle(GenerationCachedHandle):
    """An open serving handle on a persisted band index — the band
    instance of GenerationCachedHandle, justified by measurement
    (r8 VERDICT #7 said measure first; §22: per-batch partition
    discovery alone grew 2.4 s -> 7.0 s over 20 live batch dirs,
    ~60% of the batch wall, because every kernel call re-lists the
    whole index tree).

    The handle requires the index's ``_meta.json`` to exist (open it
    after the first ingested batch); kernel calls through the handle
    still validate their layout params against it."""

    _GEN_KEYS = ("band_id", "band_hash")
    _GEN_REP_COLS = ("id", "bh_prefix", "src_batch", "ingest_batch")
    _GEN_SPREAD_FACTOR = 1
    _SPREAD_LIVE_READS = False

    def __init__(self, spark: SparkSession, index_path: str):
        fs, _ = _hadoop_fs(spark, index_path)
        _, mpath = _hadoop_fs(spark, f"{index_path}/_meta.json")
        if not fs.exists(mpath):
            raise ValueError(
                f"band index at {index_path} has no _meta.json yet — "
                "open the handle after the first batch has been "
                "ingested (the kernel persists the layout meta on "
                "first use)")
        self.spark = spark
        self.path = index_path
        self.meta = json.loads(_read_small_text(spark, fs, mpath))
        self._init_generation_cache()
        try:
            self._refresh_generations()
        except BaseException:
            self.close()  # never leak a half-built cache (review r9)
            raise

    def close(self) -> None:
        self._release_generation_cache()


def open_band_index(spark: SparkSession,
                    index_path: str) -> BandIndexHandle:
    """Open a serving handle (see BandIndexHandle)."""
    return BandIndexHandle(spark, index_path)


def dedup_batch_against_index(batch_df: DataFrame, index_path: str,
                              batch_id: int, text_col: str = "text",
                              id_col: str = "doc_id", n_hashes: int = 8,
                              band_size: int = 2, k: int = 3,
                              prefix_len: int = _PREFIX_LEN,
                              ) -> tuple[DataFrame, DataFrame]:
    """The per-batch kernel, usable outside streaming (backfill jobs
    chunk a corpus through it with increasing batch ids). Returns
    ``(survivors, bands)``: survivors are batch rows dropped-neither
    within the batch nor against the index; ``bands`` is the batch's
    prefixed band table, which the CALLER must append under
    ``index_path/ingest_batch=<batch_id>`` (append_batch_bands) for
    the next batch to see — split so a streaming wrapper can order
    the writes for its exactly-once contract.

    The index probe prunes partitions with a per-band IN-list over
    (band_id, bh_prefix) — a boolean expression over partition
    columns only, so pruning happens at PLANNING time — and
    broadcasts the batch's bands into the pruned scan. The probe
    also excludes this batch's OWN prior rows: on crash-replay the
    failed attempt's index rows are invisible, keeping the replayed
    verdicts identical. The exclusion keys on the ``src_batch`` DATA
    column (stamped at append time and carried verbatim through
    compaction), not on the ``ingest_batch`` partition value — a
    compaction run between the crash and the replay relabels the
    failed attempt's rows into a negative generation, and a
    partition-value exclusion would stop seeing them: every replayed
    doc would match its own indexed copy and the whole batch would be
    silently dropped. The own ``ingest_batch`` partition is still
    filtered out too, as a planning-time prune of the common
    (uncompacted) case."""
    spark = batch_df.sparkSession
    handle = None
    if isinstance(index_path, BandIndexHandle):
        # serving handle: cached deduped generations + fresh live
        # dirs replace the per-call whole-tree partition discovery
        # (§22: the discovery alone was ~60% of the 2k-batch wall at
        # 20 live dirs)
        handle = index_path
        index_path = handle.path
    ensure_band_meta(spark, index_path, prefix_len, n_hashes,
                     band_size, k)
    bands = _prefixed_bands(batch_df, text_col, id_col,
                            n_hashes, band_size, k, prefix_len)
    bands.persist()
    try:
        return _finish_band_batch(spark, bands, batch_df, batch_id,
                                  index_path, handle, id_col)
    except BaseException:
        # the kernel owns `bands` until it returns it: a transient
        # failure in the remaining build (the probe-prefix collect is
        # an eager driver job) must not leak the just-persisted frame
        # into the shared session — the band sibling of the semantic
        # kernel's _finish_semantic_batch guard (r10 ADVICE)
        bands.unpersist()
        raise


def _finish_band_batch(spark, bands, batch_df, batch_id, index_path,
                       handle, id_col):
    """Probe + verdict construction over the persisted band frame —
    split out so dedup_batch_against_index can guarantee ``bands``
    never leaks on a mid-build failure."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_hash")
    dropped = (bands.withColumn("bmin", F.min("id").over(w))
               .filter(F.col("bmin") < F.col("id"))
               .select("id"))

    raw = (handle.index_frame() if handle is not None
           else (spark.read.parquet(index_path)
                 if _index_has_batches(spark, index_path) else None))
    if raw is not None:
        probe = (bands.select("band_id", "bh_prefix").distinct().collect())
        by_band: dict[int, list[str]] = {}
        for r in probe:
            by_band.setdefault(r["band_id"], []).append(r["bh_prefix"])
        cond = F.lit(False)
        for b, prefixes in by_band.items():
            cond = cond | ((F.col("band_id") == b)
                           & F.col("bh_prefix").isin(prefixes))
        # ~eqNullSafe, not !=: a NULL src_batch (which no versioned
        # writer produces, but defense in depth per ADVICE r6) must
        # stay VISIBLE to the probe — plain `NULL != id` evaluates to
        # NULL and silently filters the row out, so legacy rows would
        # stop witnessing duplicates instead of matching
        idx = (raw
               .filter(F.col("ingest_batch") != batch_id)
               .filter(~F.col("src_batch").eqNullSafe(F.lit(batch_id)))
               .filter(cond))
        matched = (idx.join(F.broadcast(bands.select(
                       F.col("id").alias("new_id"),
                       "band_id", "band_hash")),
                   ["band_id", "band_hash"], "inner")
                   .select(F.col("new_id").alias("id")))
        dropped = dropped.union(matched)

    survivors = batch_df.join(
        F.broadcast(dropped.distinct()
                    .withColumnRenamed("id", id_col)),
        id_col, "left_anti")
    return survivors, bands


def spread_for_write(df: DataFrame, *key_cols,
                     factor: int = 1) -> DataFrame:
    """Explicit-count repartition that opts the exchange out of AQE
    partition coalescing — the one legitimate form of the
    byte-blindness fix (§19 add. 8, tools/audit_tasks.py): a
    micro-batch or refile is byte-LIGHT however many partition dirs
    it touches, so AQE's compressed-byte-based coalescing collapses
    the shuffle to 1-2 tasks and a single task pays every
    parquet-writer open + dir commit sequentially. Pinning the count
    at ``defaultParallelism * factor`` spreads the writer opens while
    each key still hashes to exactly one reducer (layout unchanged);
    with no ``key_cols`` it is a plain round-robin spread (probe
    reads). This helper exists so the NEXT call site can't be born
    byte-blind with a hand-rolled variant (r9 VERDICT #8) — the five
    previously-patched sites (band/semantic micro-batch appends, the
    fold write, the requantize refile, the path-mode probe spread)
    all route through it."""
    n = df.sparkSession.sparkContext.defaultParallelism * factor
    if key_cols:
        return df.repartition(n, *[F.col(c) if isinstance(c, str)
                                   else c for c in key_cols])
    return df.repartition(n)


def append_batch_bands(bands: DataFrame, index_path: str,
                       batch_id: int) -> None:
    """Commit a batch's band rows into the persisted index under its
    own ``ingest_batch=<id>`` directory (mode overwrite — replay
    replaces, never duplicates). Repartitioning on the partition keys
    keeps it to one file per (band_id, bh_prefix) directory. Rows are
    stamped with ``src_batch`` — the batch id as an immutable DATA
    column — so the kernel's own-batch replay exclusion keeps working
    after compaction moves the rows into a generation directory.

    Layout guard: the index's ``_meta.json`` must already exist (the
    kernel writes it on first use — bands handed here without a
    kernel run are out of contract), and every row's ``bh_prefix``
    width is asserted IN-PLAN against the persisted ``prefix_len``
    during the write itself (``raise_error`` wrapped around the
    column — zero extra jobs on the serving path), so a bands frame
    built with a mismatched prefix_len fails the write loudly instead
    of filing rows where no probe will ever look."""
    spark = bands.sparkSession
    cached = _BAND_META_CACHE.get(index_path)
    if cached is None:
        fs, _ = _hadoop_fs(spark, index_path)
        _, mpath = _hadoop_fs(spark, f"{index_path}/_meta.json")
        if not fs.exists(mpath):
            raise ValueError(
                f"band index at {index_path} has no _meta.json — "
                "append_batch_bands only accepts bands produced by "
                "dedup_batch_against_index, which persists the "
                "layout meta on first use")
        cached = json.loads(_read_small_text(spark, fs, mpath))
        _BAND_META_CACHE[index_path] = cached
        try:
            st = fs.getFileStatus(mpath)
            _BAND_META_STAMPS[index_path] = (
                int(st.getModificationTime()), int(st.getLen()))
        except Exception:
            _BAND_META_STAMPS.pop(index_path, None)
    want_len = int(cached["prefix_len"]) + 1  # 'p' + hex prefix
    guarded = F.when(
        F.length("bh_prefix") == want_len, F.col("bh_prefix")
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"band-index layout mismatch at {index_path}: bh_prefix "
              f"width != persisted prefix_len {cached['prefix_len']} "
              "(got '"), F.col("bh_prefix"), F.lit("')"))))
    # explicit partition count: a micro-batch's bands are byte-tiny
    # however many (band_id, bh_prefix) dirs they touch, and an
    # AQE-coalescible repartition(col) collapses the write to ONE
    # task paying every parquet-writer open + dir commit in sequence
    # (the fourth byte-blindness site, measured on the semantic
    # append — §19 add. 8). Each key still hashes to exactly one
    # reducer: layout unchanged, writer opens spread.
    (spread_for_write(bands.withColumn("src_batch", F.lit(batch_id))
                      .withColumn("bh_prefix", guarded),
                      "band_id", "bh_prefix")
     .write.mode("overwrite").partitionBy("band_id", "bh_prefix")
     .parquet(f"{index_path}/ingest_batch={batch_id}"))


_LEASE_NAME = "_maintenance.lease"
# a maintenance op (compaction, requantize) that died without
# releasing its lease stops blocking successors after this long —
# generous against the measured op durations (requantize at 1000x:
# ~8 min) while keeping a crashed-op lockout bounded
_LEASE_TTL_SECONDS = 3600.0


class MaintenanceLeaseHeld(RuntimeError):
    """Another maintenance op holds the index's lease right now.

    Raised (instead of acting on stale listings) when a maintenance
    op refuses to start. Direct callers see it loudly; the in-stream
    maintenance loops catch EXACTLY this type and skip the round —
    contention with an external maintainer is a normal, transient
    condition and must not kill a streaming ingest query whose
    commits already landed (the next batch simply re-decides)."""


# Dead-letter record of in-stream maintenance skips (r9 VERDICT #5):
# the skip-with-warning paths were previously only a RuntimeWarning —
# invisible to a production loop that needs to ALERT on persistent
# lease contention (a maintainer that never gets a turn means the
# index degrades exactly like the unmaintained control in
# BENCH_SCALING §22). foreachBatch callbacks can't return values, so
# the channel is a process-global counter: exact counts per index
# path + site, with a bounded FIFO of recent reasons (the capped
# _DEFERRED_RELEASE pattern — counters never lie, detail is bounded).
_MAINT_SKIP_LOCK = _threading.Lock()
_MAINT_SKIP_COUNTS: "dict[tuple[str, str], int]" = {}
_MAINT_SKIP_RECENT: "deque[dict]" = _deque(maxlen=100)
# persisted skip records live NEXT TO THE INDEX (underscore dir —
# invisible to Spark's parquet readers, like _quantizer and the
# lease): the in-memory counters above are process-global, so a
# SECOND driver serving the same index would otherwise see an empty
# skip history and never alert (r10 VERDICT #4). One append-only
# jsonl per writer pid avoids cross-process append races; remote
# schemes get one tiny file per skip (skips are rare by design —
# persistent contention, the alert condition, is exactly when the
# file count itself is the signal).
_MAINT_SKIP_DIRNAME = "_maintenance_skips"


def _persist_skip(index_path: str, rec: dict) -> None:
    """Best-effort append of one skip record under the index root —
    a persistence failure must never fail the batch that skipped."""
    import os
    from urllib.parse import urlparse

    try:
        u = urlparse(index_path)
        if u.scheme in ("", "file"):
            root = u.path if u.scheme == "file" else index_path
            d = os.path.join(root, _MAINT_SKIP_DIRNAME)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"skips-{os.getpid()}.jsonl"),
                      "a") as f:
                f.write(json.dumps(rec) + "\n")
        else:
            spark = SparkSession.getActiveSession()
            if spark is None:
                return
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/{_MAINT_SKIP_DIRNAME}/"
                f"skip-{os.getpid()}-{rec['time']:.6f}.json")
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            out = fs.create(p, True)
            out.write(bytearray(json.dumps(rec).encode()))
            out.close()
    except Exception:
        pass


def _read_persisted_skips(index_path: str) -> list[dict]:
    """All skip records ever persisted for this index, any process."""
    import os
    from urllib.parse import urlparse

    recs: list[dict] = []
    try:
        u = urlparse(index_path)
        if u.scheme in ("", "file"):
            root = u.path if u.scheme == "file" else index_path
            d = os.path.join(root, _MAINT_SKIP_DIRNAME)
            if not os.path.isdir(d):
                return []
            for name in sorted(os.listdir(d)):
                with open(os.path.join(d, name)) as f:
                    if name.endswith(".jsonl"):
                        recs.extend(json.loads(line)
                                    for line in f if line.strip())
                    else:
                        recs.append(json.load(f))
        else:
            spark = SparkSession.getActiveSession()
            if spark is None:
                return []
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/{_MAINT_SKIP_DIRNAME}")
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(p):
                return []
            for st in fs.listStatus(p):
                stream = fs.open(st.getPath())
                try:
                    data = bytes(
                        jvm.org.apache.commons.io.IOUtils
                        .toByteArray(stream))
                finally:
                    stream.close()
                text = data.decode()
                if st.getPath().getName().endswith(".jsonl"):
                    recs.extend(json.loads(line)
                                for line in text.splitlines()
                                if line.strip())
                else:
                    recs.append(json.loads(text))
    except Exception:
        return recs
    return recs


def record_maintenance_skip(index_path: str, site: str,
                            reason: str) -> None:
    """Count one skipped maintenance round (lease contention) at
    `site` for `index_path`. Called by every in-stream skip path
    alongside its RuntimeWarning; safe from foreachBatch threads.
    Also persisted under ``index_path/_maintenance_skips/`` so a
    different driver process serving the same index can alert on the
    full history (r10 VERDICT #4)."""
    import os

    rec = {"index_path": index_path, "site": site, "reason": reason,
           "time": _time.time(), "pid": os.getpid()}
    with _MAINT_SKIP_LOCK:
        key = (index_path, site)
        _MAINT_SKIP_COUNTS[key] = _MAINT_SKIP_COUNTS.get(key, 0) + 1
        _MAINT_SKIP_RECENT.append(rec)
    _persist_skip(index_path, rec)


def maintenance_skips(index_path: str | None = None) -> dict:
    """Countable skip report for alerting: total + per-(path, site)
    counts (optionally filtered to one index) and the bounded recent
    detail. A loop that sees `total` grow every round has persistent
    lease contention and should page, not warn.

    With ``index_path`` given, the report also carries a
    ``persisted`` section — the cross-process history read back from
    ``index_path/_maintenance_skips/`` (a SUPERSET that includes this
    process's own records, kept separate from the in-memory section
    so the two never double-count; in-memory counters survive
    ``reset_maintenance_skips`` only as the persisted copies)."""
    with _MAINT_SKIP_LOCK:
        items = [(p, s, n) for (p, s), n in _MAINT_SKIP_COUNTS.items()
                 if index_path is None or p == index_path]
        recent = [r for r in _MAINT_SKIP_RECENT
                  if index_path is None
                  or r["index_path"] == index_path]
    out = {
        "total": sum(n for _, _, n in items),
        "by_site": {f"{p}::{s}": n for p, s, n in items},
        "recent": recent,
    }
    if index_path is not None:
        recs = _read_persisted_skips(index_path)
        by_site: dict[str, int] = {}
        for r in recs:
            k = f"{r.get('index_path', index_path)}::{r.get('site')}"
            by_site[k] = by_site.get(k, 0) + 1
        out["persisted"] = {"total": len(recs), "by_site": by_site,
                            "recent": recs[-100:]}
    return out


def reset_maintenance_skips() -> None:
    """Test/ops seam: zero the counters (e.g. after an alert window)."""
    with _MAINT_SKIP_LOCK:
        _MAINT_SKIP_COUNTS.clear()
        _MAINT_SKIP_RECENT.clear()


@_contextmanager
def maintenance_lease(spark: SparkSession, index_path: str, op: str,
                      ttl_seconds: float = _LEASE_TTL_SECONDS):
    """Single-maintainer exclusion for offline index maintenance: a
    sentinel lease file under the index root, created
    fail-if-exists, deleted on exit. Both compactors and requantize
    acquire it, so two maintenance ops can no longer START
    concurrently — before this, the snapshot guards only refused to
    COMMIT over a racing writer, and the documented single-maintainer
    contract was unenforced (r6 VERDICT #7). Staleness is judged by
    the lease FILE's modification time (robust to a crash mid-write,
    no content parsing on the hot path): a lease older than
    ``ttl_seconds`` is presumed crashed and broken BY RENAME to a
    unique tombstone — rename-of-a-missing-source fails, so of two
    ops that both judged the same lease stale exactly one proceeds
    (an unconditional delete here was a TOCTOU hole: the loser's
    delete would remove the winner's FRESH lease and both would run).
    The JSON payload (op name, acquire time) is for operators
    debugging a stuck lease, not for the protocol.

    Yields a ``refresh()`` callable: long ops should call it between
    phases to touch the lease mtime, keeping a LIVE op from aging
    past the TTL (requantize scales linearly with corpus size —
    measured ~8 min at 2M rows, so a 100TB-scale run outlives any
    fixed TTL that still usefully bounds a crashed-op lockout)."""
    import time
    import uuid

    fs, _ = _hadoop_fs(spark, index_path)
    _, lpath = _hadoop_fs(spark, f"{index_path}/{_LEASE_NAME}")
    # per-acquisition identity: release deletes ONLY a lease that
    # still carries this id (see the finally clause)
    lease_id = uuid.uuid4().hex

    def _try_create() -> bool:
        try:
            out = fs.create(lpath, False)
        except Exception:
            return False
        try:
            out.write(bytearray(json.dumps(
                {"op": op, "acquired_at": time.time(),
                 "lease_id": lease_id}).encode()))
        finally:
            out.close()
        return True

    if not _try_create():
        age = None
        if fs.exists(lpath):
            age = (time.time()
                   - fs.getFileStatus(lpath).getModificationTime()
                   / 1000.0)
        if age is not None and age <= ttl_seconds:
            raise MaintenanceLeaseHeld(
                f"maintenance lease at {index_path}/{_LEASE_NAME} is "
                f"held ({age:.0f}s old, ttl {ttl_seconds:.0f}s) — "
                f"another maintenance op is running on this index; "
                f"{op} refuses to start. If the holder crashed, wait "
                "out the ttl or delete the lease file")
        # stale (or vanished between create and stat): break it by
        # RENAME — atomic win/lose, never touches a successor's
        # fresh lease
        _, tomb = _hadoop_fs(
            spark, f"{index_path}/{_LEASE_NAME}.broken.{uuid.uuid4().hex}")
        broke = False
        try:
            broke = fs.rename(lpath, tomb)
        except Exception:
            broke = False
        if broke:
            fs.delete(tomb, False)
        if not _try_create():
            raise MaintenanceLeaseHeld(
                f"maintenance lease at {index_path}/{_LEASE_NAME} "
                f"was re-acquired by a racing op while breaking a "
                f"stale lease; {op} refuses to start")

    def _refresh() -> None:
        try:
            fs.setTimes(lpath, int(time.time() * 1000), -1)
        except Exception:
            # refresh is best-effort liveness, never a failure path
            pass

    try:
        yield _refresh
    finally:
        # release ONLY our own lease — by RENAME FIRST, then verify.
        # The r8 read-then-delete form still had a microsecond race:
        # between reading its own id and fs.delete, a successor could
        # rename-break the stale lease and create a fresh one, which
        # the delete then evicted (r8 ADVICE / VERDICT #6). Rename is
        # the atomic primitive: move whatever sits at the lease path
        # to a release tombstone this op exclusively owns (unique
        # name), THEN read it race-free. Own id -> delete the
        # tombstone, done. Someone else's lease (this op outlived the
        # TTL and a successor already acquired) -> rename it straight
        # back; the restore can only fail if a third op acquired in
        # the microsecond gap, in which case the tombstoned lease is
        # surfaced loudly and left for the TTL to bound.
        import uuid as _uuid
        import warnings
        _, rtomb = _hadoop_fs(
            spark,
            f"{index_path}/{_LEASE_NAME}.released.{_uuid.uuid4().hex}")
        try:
            renamed = False
            try:
                renamed = fs.rename(lpath, rtomb)
            except Exception:
                # RawLocalFileSystem THROWS on a missing source
                # instead of returning false — fold both into the
                # same check below
                renamed = False
            if not renamed:
                if not fs.exists(lpath):
                    # nothing at the lease path: a successor broke
                    # our stale lease and has not (yet) created its
                    # own — nothing of ours left to release.
                    raise FileNotFoundError(lpath.toString())
                raise RuntimeError(
                    "rename to release tombstone failed with the "
                    "lease file present")
            try:
                payload = json.loads(
                    _read_small_text(spark, fs, rtomb))
            except Exception:
                # unreadable payload: could be our own torn residue,
                # but ALSO a successor caught MID-_try_create (file
                # created, JSON write in flight) — deleting would
                # evict a live op's lease and reopen concurrent
                # maintenance (review r9). Restore the rename and
                # leave it: worst case our own torn lease leaks for
                # one TTL, loudly.
                warnings.warn(
                    f"maintenance lease at {index_path} was "
                    f"unreadable at release of {op!r}; restoring it "
                    "untouched (a mid-write successor must not be "
                    "evicted) — if it was this op's own residue it "
                    "expires with the TTL", RuntimeWarning,
                    stacklevel=2)
                try:
                    fs.rename(rtomb, lpath)
                except Exception:
                    pass
                raise FileNotFoundError(lpath.toString())
            own = payload.get("lease_id") == lease_id
            if not own and "lease_id" not in payload:
                # legacy payload without lease_id (mixed-version
                # rollout): this VERSION always writes lease_id at
                # acquisition, so a lease_id-less payload at release
                # time cannot be ours — it is a pre-lease_id-version
                # maintainer that broke our aged-out lease and
                # acquired (r9 review, inverting the r8 reading:
                # "this op held the path" would imply the payload
                # carries our id). Deleting it would evict that LIVE
                # op and reopen concurrent maintenance; restore it
                # and let the usurpation warning below fire.
                warnings.warn(
                    f"maintenance lease at {index_path} carries a "
                    "legacy payload without lease_id — treating it "
                    "as a live legacy successor's lease, not "
                    f"{op!r}'s own", RuntimeWarning, stacklevel=2)
            if own:
                fs.delete(rtomb, False)
            else:
                restored = False
                try:
                    restored = fs.rename(rtomb, lpath)
                except Exception:
                    restored = False
                if not restored:
                    warnings.warn(
                        f"maintenance lease at {index_path}: a third "
                        "op acquired while restoring the successor's "
                        f"lease (held by {payload.get('op')!r}); its "
                        f"lease is parked at {rtomb.toString()} — "
                        "TTL bounds the fallout", RuntimeWarning,
                        stacklevel=2)
                else:
                    warnings.warn(
                        f"maintenance lease at {index_path} was "
                        f"usurped mid-op (held by "
                        f"{payload.get('op')!r} now) — this {op!r} "
                        "op outlived the TTL without refreshing; "
                        "restored the successor's lease",
                        RuntimeWarning, stacklevel=2)
        except FileNotFoundError:
            pass
        except Exception as exc:  # release is best-effort, but LOUD
            warnings.warn(
                f"maintenance lease release at {index_path} failed "
                f"({exc!r}); the lease may leak until the TTL",
                RuntimeWarning, stacklevel=2)


def _dir_snapshot(fs, path) -> list[tuple[str, int, int]]:
    """Sorted (path, length, mtime) of every file under ``path`` —
    metadata-only (no data read), the compactor's cheap change
    detector.

    For local (file:/) paths the walk runs in PYTHON, not through
    the Hadoop iterator: the py4j form costs ~6 gateway round trips
    PER FILE, and a snapshot-pair over a 7-batch 882-file source set
    was measured at ~15 s of pure driver time — the root cause of
    the r7 requantize source-dir variance (§21; total task CPU was
    flat across layouts). Remote schemes keep the Hadoop iterator
    (there the listing RPC, not py4j, is the cost). Snapshots are
    only ever compared to snapshots of the same path set taken the
    same way, so the differing path-string spelling between the two
    forms is irrelevant."""
    import os

    uri = path.toUri()
    if uri.getScheme() in (None, "file"):
        root = uri.getPath()
        out = []
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out.append((p, st.st_size,
                            int(st.st_mtime * 1000)))
        return sorted(out)
    out = []
    it = fs.listFiles(path, True)
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), int(st.getLen()),
                    int(st.getModificationTime())))
    return sorted(out)


def _footer_rows_local(dirs) -> int | None:
    """Sum parquet footer ``num_rows`` over local (file:/) dirs ON
    THE DRIVER — truly metadata-only AND job-free. Spark's
    ``count()`` over parquet scans data pages unless aggregate
    pushdown is enabled (off by default): at a 200k x 64-d index the
    maintenance signals were paying ~1.8 s of scan per NOOP call,
    where this sums 872 footers in 0.07 s (measured; the §21
    Python-walk precedent applied to row counts). Returns None when
    any dir is non-local — the caller falls back to the Spark count
    (there the listing/scan RPCs are the cost either way).

    Counts exactly what a full ``spark.read.parquet(root).count()``
    counts, including crash-window duplicates across an unfinished
    fold's sources and output — both readers see the same files.
    Hidden dirs (``_temporary`` commit staging, ``.``-prefixed) are
    pruned during the walk, matching Spark's hidden-path filter —
    without this a CONCURRENT writer's in-flight staging files
    transiently inflate the row/occupancy signals (r9 ADVICE)."""
    import os as _os

    import pyarrow.parquet as _pq

    total = 0
    for p in dirs:
        uri = p.toUri()
        if uri.getScheme() not in (None, "file"):
            return None
        for dirpath, dirnames, files in _os.walk(uri.getPath()):
            dirnames[:] = [d for d in dirnames
                           if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") \
                        and not f.startswith(("_", ".")):
                    total += _pq.ParquetFile(
                        _os.path.join(dirpath, f)).metadata.num_rows
    return total


def compact_band_index(spark: SparkSession, index_path: str,
                       generation: int = -1,
                       _post_fold_hook=None) -> int:
    """Fold every ``ingest_batch=*`` directory — live batch dirs AND
    previous compacted generations — into one NEW consolidated
    generation, bounding the file count that per-batch appends grow
    without bound (10k micro-batches x up-to-1024 prefix dirs each is
    a listing-time problem long before it is a byte problem).

    Crash-safe BY SEMANTICS, not by transaction: the compacted copy is
    written FIRST, sources are deleted after. A crash in between
    leaves band rows duplicated across old and new directories —
    harmless, because index matching is EXISTENTIAL (a doc is dropped
    iff any band matches; duplicate band rows change nothing) — so a
    re-run simply finishes the deletes. Generation ids are NEGATIVE
    (foreachBatch batch ids are nonnegative, so a generation can never
    collide with a live batch id — the kernel's own-batch replay
    exclusion keys on exact equality) and strictly DECREASE: each
    compaction writes ``min(existing generations) - 1`` (at most
    ``generation``), never overwriting a generation it is reading —
    the previous same-dir overwrite silently destroyed earlier
    generations' rows when leftover sources were folded later.
    Returns the number of source directories folded AND deleted.

    Writer-race guard: a replayed/late batch that overwrites one of
    the listed source directories AFTER the fold's scan would lose its
    rewritten rows if the compactor blindly deleted it. Each source's
    file listing (path, length, mtime) is snapshotted at fold time and
    re-checked immediately before its delete; a changed directory is
    SKIPPED — its previously-folded rows sit duplicated in the new
    generation (harmless, existential matching) and its fresh content
    survives for the next compaction. Brand-new ``ingest_batch=``
    directories that appear mid-compaction are never touched (deletes
    are restricted to the fold's own source list). Two compactions
    must still not run concurrently (each assumes generations are
    writer-free)."""
    return _compact_ingest_index(
        spark, index_path,
        data_cols=("id", "band_id", "band_hash", "bh_prefix",
                   "src_batch"),
        partition_cols=("band_id", "bh_prefix"), generation=generation,
        _post_fold_hook=_post_fold_hook)


def _compact_ingest_index(spark: SparkSession, index_path: str,
                          data_cols: tuple[str, ...],
                          partition_cols: tuple[str, ...],
                          generation: int = -1,
                          _post_fold_hook=None) -> int:
    """The generational fold of a per-batch-overwrite ingest index
    (the band index above). Correctness rests on EXISTENTIAL matching
    — a probe's verdict depends only on whether a matching row
    exists, so duplicated rows across a crash window or a skipped
    racing source are harmless — which every index routed through
    here must satisfy. See compact_band_index for the full contract
    (negative strictly-decreasing generations, snapshot-and-recheck
    delete guard, single-compactor assumption)."""
    if generation >= 0:
        raise ValueError("compaction generation must be negative — "
                         "nonnegative ids are live foreachBatch ids")
    with maintenance_lease(spark, index_path,
                           "compaction") as lease_refresh:
        return _compact_ingest_index_locked(
            spark, index_path, data_cols, partition_cols, generation,
            _post_fold_hook, lease_refresh)


def _compact_ingest_index_locked(spark, index_path, data_cols,
                                 partition_cols, generation,
                                 _post_fold_hook,
                                 lease_refresh=lambda: None) -> int:
    fs, _, sources = _ingest_dirs(spark, index_path)
    gen_ids = [int(p.getName().split("=", 1)[1]) for p in sources]
    n_gens = sum(1 for g in gen_ids if g < 0)
    if len(sources) - n_gens == 0 and n_gens <= 1:
        return 0  # nothing but (at most) one generation: compacted
    new_gen = _next_generation(sources, generation)
    snapshots = {p.toString(): _dir_snapshot(fs, p) for p in sources}
    # read only dirs that hold data: a zero-row append commits a
    # _SUCCESS-only dir that would fail schema inference; it is
    # still a SOURCE (snapshot-matched and deleted below) — folding
    # an empty dir IS deleting it
    src_paths = [p.toString() for p in _nonempty_dirs(fs, sources)]
    if src_paths:
        # distinct: crash-windows and generation-over-generation
        # folds leave duplicate rows, which matching ignores but
        # storage pays for — the compactor is the one place to
        # squeeze them out
        folded = (spark.read.option("basePath", index_path)
                  .parquet(*src_paths)
                  .select(*data_cols)
                  .distinct())
        # one file per partition directory in the generation.
        # EXPLICIT partition count: a column-only repartition is
        # AQE-coalescible, and a byte-small fold collapses to ONE
        # write task paying every parquet-writer open + dir commit
        # in sequence (~2k dirs = 3.4 s single-task, measured by the
        # task audit in the maintained serving loop — the fifth
        # byte-blindness site, same class and same fix as the
        # micro-batch appends, §19 add. 8). Each key still hashes to
        # exactly one reducer: layout unchanged, writer opens spread.
        (spread_for_write(folded, *partition_cols)
         .write.mode("overwrite").partitionBy(*partition_cols)
         .parquet(f"{index_path}/ingest_batch={new_gen}"))
    # the fold scales with index size: keep a LIVE compaction from
    # aging past the crashed-op TTL before its delete pass
    lease_refresh()
    if _post_fold_hook is not None:  # test seam: writer racing the fold
        _post_fold_hook()
    deleted = 0
    for p in sources:
        if (fs.exists(p)
                and _dir_snapshot(fs, p) == snapshots[p.toString()]):
            fs.delete(p, True)
            deleted += 1
    return deleted


class BandMaintenancePolicy:
    """Thresholds for ``maintain_band_index``. The band index has ONE
    heavy op — compaction. Bands are a pure function of the layout
    params (n_hashes/band_size/k/prefix_len pinned in ``_meta.json``),
    so there is no retrain analogue to the semantic index's
    requantize; maintenance is entirely about bounding the METADATA
    cost that per-batch appends accumulate (§22 measured per-batch
    tree discovery growing 1.3 s → 4.2 s over 12 live dirs — ~60% of
    the serving batch wall). All signals are driver-side listings —
    no Spark job (band_index_signals only counts rows when asked).

    - ``compact_after_batches``: fold when at least this many LIVE
      (nonnegative-id) ``ingest_batch`` dirs have accumulated — the
      direct §22 cost driver (each live dir is re-listed and
      re-planned per kernel call; generations are served from the
      handle's cache).
    - ``compact_over_files``: fold when the index's FOLDABLE EXCESS
      file count reaches this — live-dir files plus, when an
      interrupted fold stranded more than one generation, the
      generation files. Appends write one file per touched
      (band_id, bh_prefix) dir per batch, so excess grows ~batches ×
      touched-prefixes; this catches the many-tiny-files shape even
      when a slow trickle of batches never trips the dir-count bar.
      The folded index's own floor (one file per occupied partition
      dir) is deliberately NOT counted: measured against total
      files, a large folded layout (>16k dirs at prefix_len=3)
      permanently exceeded the bar and re-folded the whole index
      every call (review r9).
    """

    def __init__(self, compact_after_batches: int = 8,
                 compact_over_files: int = 4096):
        self.compact_after_batches = int(compact_after_batches)
        self.compact_over_files = int(compact_over_files)


def band_index_signals(spark: SparkSession, index_path: str,
                       with_rows: bool = False) -> dict:
    """The cheap observables a band-maintenance decision reads: live
    batch dir count, generation count, and total file count
    (Python-walk snapshot for local paths — the §21 py4j per-file
    tax applies here exactly as in the folds). All driver-side, no
    Spark job.

    ``with_rows``: also count indexed band rows (parquet footer
    metadata). OFF by default — unlike the semantic policy's
    occupancy trigger, no band decision reads the row count, and the
    footer scan is a per-call Spark job whose cost grows with file
    count (the very growth the maintenance loop exists to bound), so
    a policy loop must not pay it every batch for a report field."""
    fs, _, dirs = _ingest_dirs(spark, index_path)
    counts = [(int(p.getName().split("=", 1)[1]),
               len(_dir_snapshot(fs, p))) for p in dirs]
    live_files = sum(n for i, n in counts if i >= 0)
    gen_files = sum(n for i, n in counts if i < 0)
    out = {
        "live_batches": sum(1 for i, _ in counts if i >= 0),
        "generations": sum(1 for i, _ in counts if i < 0),
        "files": live_files + gen_files,
        # split so the file-count trigger can measure FOLDABLE excess
        # instead of total: a folded index's permanent floor (one
        # file per occupied partition dir — >16k at prefix_len=3)
        # must not re-trip a whole-index rewrite every batch
        "live_files": live_files,
        "gen_files": gen_files,
    }
    if with_rows:
        n_rows = _footer_rows_local(dirs) if dirs else 0
        if n_rows is None:  # non-local scheme: Spark fallback
            n_rows = spark.read.parquet(index_path).count()
        out["rows"] = int(n_rows)
    return out


def decide_band_maintenance(signals: dict,
                            policy: BandMaintenancePolicy,
                            ) -> tuple[str, dict]:
    """The pure decision function (test-pinned as a table): returns
    ``(action, params)`` with action one of 'noop' | 'compact'. The
    file-count trigger measures FOLDABLE EXCESS — live-dir files,
    plus generation files only when more than one generation exists
    (crash leftovers an interrupted fold strands) — never the folded
    index's own floor: comparing against TOTAL files re-triggered a
    whole-index rewrite on every serving batch once the folded
    layout alone exceeded the bar (>16k partition dirs at
    prefix_len=3 vs the 4096 default — review r9), the exact
    O(index)-per-batch churn maintenance exists to bound. Signals
    from builds predating the live/gen split fall back to the old
    total-files semantics."""
    foldable = (signals["live_batches"] >= 1
                or signals["generations"] > 1)
    if signals["live_batches"] >= policy.compact_after_batches:
        return "compact", {}
    if "live_files" in signals:
        excess = signals["live_files"] + (
            signals["gen_files"] if signals["generations"] > 1 else 0)
        if foldable and excess >= policy.compact_over_files:
            return "compact", {}
    elif foldable and signals["files"] >= policy.compact_over_files:
        return "compact", {}
    return "noop", {}


def maintain_band_index(spark: SparkSession, index_path: str,
                        policy: BandMaintenancePolicy | None = None,
                        dry_run: bool = False) -> dict:
    """Read the cheap signals, decide, and (unless ``dry_run``) run
    the chosen maintenance op: each
    heavy op takes the maintenance lease itself, so concurrent
    maintainers exclude each other exactly as direct callers do, and
    the decide-then-act gap is closed by compaction's own
    snapshot-and-recheck guard (a raced source is skipped, never
    deleted stale). An open BandIndexHandle composes transparently:
    the fold changes the generation set, which the handle detects by
    dir listing on its next call and refreshes in place.

    Returns ``{"action", "params", "signals", "result"}`` where
    result is compaction's folded-dir count, or None for
    noop/dry_run."""
    policy = policy or BandMaintenancePolicy()
    signals = band_index_signals(spark, index_path)
    action, params = decide_band_maintenance(signals, policy)
    report = {"action": action, "params": params,
              "signals": signals, "result": None}
    if dry_run or action == "noop":
        return report
    report["result"] = compact_band_index(spark, index_path)
    return report


def stream_dedup_ingest(stream_df: DataFrame, index_path: str,
                        out_path: str, checkpoint: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_hashes: int = 8, band_size: int = 2,
                        k: int = 3, prefix_len: int = _PREFIX_LEN,
                        query_name: str = "dedup_ingest",
                        handle: BandIndexHandle | None = None,
                        maintenance_policy: "BandMaintenancePolicy | None" = None):
    """Streaming near-dup gate: survivors of each micro-batch land
    under ``out_path/batch=N``, every processed doc's bands land in
    the band index. The survivor write and the band append run
    CONCURRENTLY — both are per-batch-dir overwrites, and the
    kernel's own-batch probe exclusion makes every crash
    interleaving replay to the identical result. Requires a
    checkpoint for the same reason stream_to_training_shards does:
    the per-batch overwrite layout is only exactly-once under a
    checkpointed batch-id sequence. Returns the StreamingQuery
    (caller awaits).

    ``handle``: an open BandIndexHandle on ``index_path`` — the
    serving configuration (generation cache, no per-batch tree
    discovery). The caller owns its lifetime: keep it open for the
    query's duration, close it after.

    ``maintenance_policy``: run ``maintain_band_index`` inside
    ``foreachBatch`` AFTER each batch's commits — the one-call
    serve+maintain deployment loop. Safe by construction:
    micro-batches are sequential, so in-stream maintenance never
    runs concurrently with ingest; the lease still excludes any
    EXTERNAL maintainer; an open handle picks a fold up by dir
    listing on the next batch; and a crash between commit and
    maintenance merely replays the (identical) batch and re-decides
    — compaction is crash-safe by semantics and decisions are
    stateless reads."""
    if checkpoint is None:
        raise ValueError(
            "stream_dedup_ingest requires a checkpoint location; the "
            "per-batch overwrite layout is only exactly-once under a "
            "checkpointed batch-id sequence")
    if handle is not None and handle.path != index_path:
        raise ValueError(
            f"handle is open on {handle.path}, not {index_path}")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        batch_df.persist()
        try:
            survivors, bands = dedup_batch_against_index(
                batch_df, handle if handle is not None else index_path,
                batch_id, text_col=text_col,
                id_col=id_col, n_hashes=n_hashes, band_size=band_size,
                k=k, prefix_len=prefix_len)
            try:
                def _surv() -> None:
                    (survivors.write.mode("overwrite")
                     .parquet(f"{out_path}/batch={batch_id}"))

                def _idx() -> None:
                    append_batch_bands(bands, index_path, batch_id)

                # inheritable_thread_target propagates the
                # streaming query's job group / local properties to
                # the pool threads — without it query.stop()'s
                # group-based cancellation cannot reach in-flight
                # commit jobs and UI attribution is lost (review r9)
                from pyspark import inheritable_thread_target

                with ThreadPoolExecutor(max_workers=2) as ex:
                    fut_s = ex.submit(inheritable_thread_target(_surv))
                    fut_i = ex.submit(inheritable_thread_target(_idx))
                    fut_s.result()
                    fut_i.result()
            finally:
                bands.unpersist()
        finally:
            batch_df.unpersist()
        if maintenance_policy is not None:
            import warnings as _warnings
            try:
                maintain_band_index(batch_df.sparkSession, index_path,
                                    maintenance_policy)
            except MaintenanceLeaseHeld as e:
                # transient contention with an external maintainer:
                # skipping the round is completely safe (the next
                # batch re-decides) — killing the whole ingest query
                # over it is not (review r9). Countable for alerting
                # via maintenance_skips() (r9 VERDICT #5).
                record_maintenance_skip(index_path,
                                        "band_ingest", str(e))
                _warnings.warn(
                    f"in-stream maintenance skipped this round: {e}",
                    RuntimeWarning, stacklevel=2)

    return (stream_df.writeStream.foreachBatch(write_batch)
            .queryName(query_name).trigger(availableNow=True)
            .option("checkpointLocation", checkpoint)
            .start())
