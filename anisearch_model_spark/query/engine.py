"""BM25 query engine over the bucketed posting-block index.

Maps the reference query lifecycle (``src/api.py:352-466``: encode → per
column cosine → top-k merge → dedup → paginate) onto one driver plus,
for large requests, the cluster:

  query tokenize (shared contract, driver-side — a query is one string)
  → dictionary lookup for df/idf (driver-side pyarrow read of the
    covering dictionary files, ``IndexStore.term_dfs``)
  → the query terms' posting blocks, ``term IN`` and ``field`` pruned
  → one kernel per doc-range bucket (query/bucket.py): block decode,
    per-term partial BM25, per-doc fold in ASCENDING TERM ORDER
    (bit-identical float64 summation vs the oracle), tombstone mask,
    local top-k
  → global top-k merge: score DESC, doc_id ASC, dense rank
  → metadata fetch (driver-side pyarrow read, ``fetch_doc_rows``).

Local or cluster.  A request whose terms' summed dictionary df is at
most ``LOCAL_MAX_POSTINGS`` (500k, the measured crossover of the two
paths rounded down) reads its blocks on the driver
(``IndexStore.local_blocks``), runs the bucket kernels there and
returns the pandas result as a ``LocalFrame``: a DataFrame whose
``collect`` and ``schema`` answer on the driver (0 Spark jobs, 0 py4j
commands) and whose JVM side is built only when another DataFrame
operation needs it.  The driver then holds at most that many
postings' blocks (its peak RSS grew by 6-27 MB near the bound).  Over
the bound the same kernels run in ``applyInPandas`` per bucket and the
merge is ``ORDER BY score DESC, doc_id ASC LIMIT k``
(TakeOrderedAndProject).  A driver-side read that fails with
``OSError`` or an Arrow error answers "don't know": the request takes
the cluster path and the store counts the fallback
(``IndexStore.path_counts``).  The dictionary and metadata fast paths
keep the same contract.  Prefix and fuzzy expansion still scan the
dictionary on the cluster.

``topk_bmw`` is the block-max pruned scorer: it skips block-aligned doc
segments whose BM25 upper bound (from per-block max_tf/min_dl) cannot
reach the running per-bucket top-k threshold — the WAND-style
optimization of SURVEY.md §4.3.  It and ``topk_exhaustive`` return
identical results on either path; tests assert it.
"""

from __future__ import annotations

import functools
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from anisearch_model_spark.config import BM25Params, MAX_QUERY_CHARS
from anisearch_model_spark.functions.normalize import bm25_idf, tokenize_series
from anisearch_model_spark.functions.windows import constant_partition
from anisearch_model_spark.index.store import load_stats
from anisearch_model_spark.query.bucket import (
    BLOCK_COLS, MATCH_SCHEMA, RANKED_SCHEMA, bmw_bucket, fold_bucket,
    ranked, term_blocks)

# Most postings (the query terms' summed dictionary df) a request scores
# on the driver; larger requests score on the cluster.  It sits below the
# lowest measured crossover of the two paths: each path forced in
# interleaved pairs on a 500k-turn, 16-bucket index, local[4] (4-core
# host), the driver was faster for every request kind up to ~590k
# postings for phrase, ~950k for boolean and ~1M for plain requests.  At
# ~480k postings the driver's peak RSS grew by 6 MB (plain) and 27 MB
# (phrase).  More executor cores move the crossover down.
LOCAL_MAX_POSTINGS = 500_000

# the block columns BMW reads: BLOCK_COLS plus the metadata of its bounds
BMW_COLS = BLOCK_COLS + ("last_doc_id", "max_tf", "min_dl")


@functools.lru_cache(maxsize=64)
def _struct(schema: str) -> StructType:
    return StructType.fromDDL(schema)


class LocalFrame(ClassicDataFrame):
    """A driver-built result: a DataFrame to every caller, whose JVM side
    is built only when an operation needs one.

    ``collect()`` and ``schema`` answer from the pandas frame.  The rows
    go through Arrow with the struct's types (the conversion Spark
    Connect's ``collect`` uses), column by position as
    ``createDataFrame`` assigns them, so values and Python types equal
    those of a JVM ``collect``.  The first read of ``_jdf`` — by any
    other operation (``filter``, ``join``, ``count``, ``toPandas``, …) —
    builds the JVM frame with ``spark.createDataFrame`` and caches it."""

    def __new__(cls, *args, **kwargs):
        # pyspark.sql.DataFrame.__new__ would construct the classic class
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, pdf: pd.DataFrame,
                 struct: StructType):
        # every attribute the classic __init__ sets, except _jdf
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self.schema = struct  # fills the classic cached_property
        self._pdf = pdf

    @functools.cached_property
    def _jdf(self):
        spark, pdf, struct = self._session, self._pdf, self.schema
        if len(pdf):
            return spark.createDataFrame(pdf, struct)._jdf
        if not all(f.nullable for f in struct.fields):
            # a struct from a JVM plan (a candidate frame's) may refuse
            # the null row below
            return spark.createDataFrame([], struct)._jdf
        # a 0-row pandas frame would still run a Spark job on collect
        return spark.createDataFrame(
            pd.DataFrame({n: [None] for n in struct.fieldNames()}),
            struct).limit(0)._jdf

    def collect(self) -> list:
        if not len(self._pdf):
            return []
        cols = [pa.Array.from_pandas(self._pdf.iloc[:, i], safe=False,
                                     type=to_arrow_type(f.dataType))
                for i, f in enumerate(self.schema.fields)]
        return ArrowTableToRowsConversion.convert(
            pa.Table.from_arrays(cols, names=self.schema.fieldNames()),
            self.schema)


def local_frame(spark: SparkSession, pdf: "pd.DataFrame | None",
                schema: "str | StructType") -> DataFrame:
    """A driver-built result (``None`` when empty) as a ``LocalFrame``:
    its ``collect`` sends no JVM command and runs no Spark job.  The
    schema is a DDL string (parsed once per process) or a struct."""
    struct = schema if isinstance(schema, StructType) else _struct(schema)
    if pdf is None:
        pdf = pd.DataFrame({n: [] for n in struct.fieldNames()})
    return LocalFrame(spark, pdf, struct)


def rank_top(scored: DataFrame, k: int) -> DataFrame:
    """Cluster-side global top-k of (doc_id, score) rows → (rank, doc_id,
    score): an ordered limit (TakeOrderedAndProject) plus a row_number
    over the ≤ k survivors; the twin of ``bucket.ranked``."""
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.partitionBy(constant_partition("doc_id")).orderBy(
        F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score")


class IndexStore:
    """Handle to a persisted index directory (see index/store.py layout)."""

    # default LRU bound: 64k (field, term) entries ≈ a few MB of driver
    # memory; a long-lived query service over a Heaps'-law vocabulary
    # would otherwise grow the cache with every distinct queried term
    DF_CACHE_MAX = 65536

    def __init__(self, spark: SparkSession, index_dir: str,
                 df_cache_max: int | None = None):
        self.spark = spark
        self.index_dir = index_dir
        # (field, term) → df, or None for a known-absent term (negative
        # cache); LRU-bounded — hot terms stay, cold ones age out
        from collections import OrderedDict

        self._df_cache: OrderedDict[tuple[str | None, str], int | None] = OrderedDict()
        self._df_cache_max = df_cache_max or self.DF_CACHE_MAX
        self._manifest_cache: dict | None = None
        self._manifest_mtime: float | None = None
        self._ranges: list[tuple[int, int, int]] | None = None  # manifest doc ranges
        # table → (bucket, dir) of the snapshot's materialized buckets
        self._snapshot_paths: dict[str, list[tuple[int, str]]] = {}
        # bucket dir → its pyarrow dataset (file list, footers), per
        # snapshot: a committed bucket dir never changes
        self._datasets: dict[str, object] = {}
        self._tomb: np.ndarray | None = None  # sorted tombstoned doc ids
        self._tomb_mtime: float | None = None
        # dictionary file → (min_term, max_term) from parquet footers,
        # the driver-side term index behind the local lookup fast path
        self._dict_ranges: list[tuple[str | None, str | None, str]] | None = None
        self._dict_ranges_mtime: float | None = None
        self._stats: dict | None = None
        self._stats_mtime: float | None = None
        # dictionary dir mtime the df LRU was filled under
        self._df_mtime: float | None = None
        # requests scored on the driver / on the cluster, and failed
        # driver-side reads (blocks, dictionary, metadata) that fell back
        self.path_counts = {"local": 0, "cluster": 0, "fallbacks": 0}
        # format gate at OPEN time: the first stats read (load_stats)
        # refuses a missing, older or unknown version, or a non-varint
        # codec, before any block is read
        self.stats
        # snapshot integrity at OPEN time: every manifest-listed bucket
        # with docs must have its doc_map directory.  A missing one means
        # an interrupted maintenance run left the index mid-heal (e.g. a
        # legacy rename-aside crash) — without this check the snapshot
        # reader would silently DROP that bucket's docs from every query.
        # (Recovery is NOT run here: a reader must never mutate the index
        # — racing a live compaction's adopt phase would destroy its
        # uncommitted snapshot.)
        missing = [
            b for b, (_lo, cnt) in self._manifest().get("buckets", {}).items()
            if int(cnt) > 0 and not os.path.isdir(
                os.path.join(index_dir, "doc_map", f"bucket={b}"))
        ]
        if missing:
            raise ValueError(
                f"index at {index_dir} is missing doc_map bucket dirs "
                f"{sorted(missing)[:5]} that the manifest lists — an "
                f"interrupted compaction/purge left it mid-heal; run "
                f"index.compact.recover_compaction({index_dir!r}) (or any "
                f"compact) from the maintenance process, then reopen"
            )

    def clear_caches(self) -> None:
        """Drop every driver-side cache (df LRU, manifest, snapshot path
        lists, tombstones, dictionary file ranges) — the engine analog of
        the reference service's idle memory clear (``src/api.py:112-156``,
        which unloads models and embedding matrices after 5 idle minutes).
        Everything reloads lazily on the next query; results are
        unaffected (the caches are mtime-validated anyway)."""
        self._df_cache.clear()
        self._df_mtime = None
        self._manifest_cache = None
        self._manifest_mtime = None
        self._snapshot_paths.clear()
        self._datasets.clear()
        self._tomb = None
        self._tomb_mtime = None
        self._dict_ranges = None
        self._dict_ranges_mtime = None

    @property
    def stats(self) -> dict:
        """stats.json (corpus N, avgdl, per-field stats), re-read when its
        mtime changes: every commit (append, purge, compact) replaces it
        atomically, and a long-lived reader must score with the N and
        avgdl of the snapshot it scans, like the manifest below."""
        mtime = os.path.getmtime(os.path.join(self.index_dir, "stats.json"))
        if self._stats is None or mtime != self._stats_mtime:
            self._stats = load_stats(self.index_dir)
            self._stats_mtime = mtime
        return self._stats

    def n_entities(self) -> int:
        """Number of conversations in the corpus (BM25F's entity-level N,
        query/bm25f.py): the ``n_convs`` every stats writer stamps into
        stats.json, re-read when it changes (deletes intentionally don't
        shift corpus stats until purge — the same contract as
        n_docs/avgdl)."""
        return int(self.stats["n_convs"])

    def term_dfs(self, terms: list[str],
                 field: str | None = None) -> dict[str, int]:
        """term → document frequency for the given terms (optionally
        within one field — the dictionary is per (term, field); unscoped
        df is the sum over fields, since fields partition the doc set).

        Cache misses are served driver-side when possible
        (``_term_dfs_local``: footer-range file pruning + pyarrow read —
        zero Spark jobs, Lucene's in-process term dictionary), else by a
        FILTERED dictionary scan (``term IN (...)`` reaches the Parquet
        reader as a pushed filter; the dictionary is written term-sorted
        within files so row-group min/max stats prune most of it).  Never
        loads the full vocabulary to the driver: against 100 TB of noisy
        web text Heaps' law puts the vocab at 10⁸–10⁹ terms — an
        unconditional ``toPandas()`` of it (round-1 shape) is a driver
        OOM, while a per-query lookup reads ≤ |query terms| covering
        files/row groups on either path.  Hot terms stay cached across
        queries, and absent terms are negative-cached so repeated misses
        cost nothing.  The cache is dropped when ``dictionary/``'s mtime
        changes (an append adds a delta file, a re-derive rewrites it).

        Contract: a (term, field)'s df is the SUM over every dictionary
        row for it — the base files of the last full re-derive plus one
        delta file per append since (index/store.py layout).  Every
        dictionary reader aggregates this way (both paths here,
        ``expand_prefixes``, ``expand_fuzzy``, spell suggestions and
        ``finalize_metadata``'s totals), so an append never rewrites the
        base files.
        """
        try:
            mtime = os.path.getmtime(os.path.join(self.index_dir, "dictionary"))
        except OSError:  # mid-overwrite: a full re-derive recreates it
            mtime = None
        if mtime is None or mtime != self._df_mtime:
            self._df_cache.clear()
            self._df_mtime = mtime
        missing = [t for t in terms if (field, t) not in self._df_cache]
        if missing:
            found = self._term_dfs_local(missing, field)
            if found is None:
                d = self.dictionary.filter(F.col("term").isin(missing))
                if field is not None:
                    d = d.filter(F.col("field") == field)
                rows = d.groupBy("term").agg(F.sum("df").alias("df")).collect()
                found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[(field, t)] = found.get(t)
        out = {}
        for t in terms:
            key = (field, t)
            self._df_cache.move_to_end(key)  # LRU touch (key always present)
            if self._df_cache[key] is not None:
                out[t] = self._df_cache[key]
        while len(self._df_cache) > self._df_cache_max:
            self._df_cache.popitem(last=False)
        return out

    # exact-term lookups above this count fall back to the cluster scan;
    # candidate files scale with |terms| (≤ ~2 covering files per term),
    # so the cap bounds driver file-handle work, not correctness
    LOCAL_DICT_MAX_TERMS = 4096

    def _dict_file_ranges(self) -> list[tuple[str | None, str | None, str]]:
        """(min_term, max_term, path) per dictionary data file, from the
        parquet footer statistics — the dictionary is term-range
        partitioned and term-sorted within files (index/store.py), so
        these ranges are Lucene's in-RAM term index: an exact-term lookup
        touches only the 1-2 files whose range covers it.  Cached until
        the directory mtime changes (any rewrite replaces files).  A file
        without usable stats gets (None, None) = always a candidate —
        pruning is an optimization, never a correctness gate."""
        droot = os.path.join(self.index_dir, "dictionary")
        mtime = os.path.getmtime(droot)
        if self._dict_ranges is None or mtime != self._dict_ranges_mtime:
            import pyarrow.parquet as pq

            ranges: list[tuple[str | None, str | None, str]] = []
            for fn in sorted(os.listdir(droot)):
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.join(droot, fn)
                md = pq.ParquetFile(path).metadata
                names = [md.schema.column(i).name
                         for i in range(md.num_columns)]
                ci = names.index("term")
                lo: str | None = None
                hi: str | None = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        lo, hi = None, None
                        break
                    # parquet stores a COVERING range (truncated min ≤
                    # true min, adjusted max ≥ true max), so pruning on
                    # it only ever keeps extra files, never drops one
                    lo = st.min if lo is None or st.min < lo else lo
                    hi = st.max if hi is None or st.max > hi else hi
                ranges.append((lo, hi, path))
            self._dict_ranges = ranges
            self._dict_ranges_mtime = mtime
        return self._dict_ranges

    def _driver_side(self, read, *args):
        """The one fallback contract of the driver-side fast paths (block
        reads, dictionary lookups, metadata fetches): ``read(*args)``, or
        None — "don't know", the caller takes the cluster path — when it
        fails with ``OSError`` or an Arrow error (a bucket directory a
        concurrent compaction deleted, a file that vanished or cannot be
        parsed).  Each such fallback is counted in ``path_counts``; a
        fast path can never return a wrong or empty answer instead."""
        try:
            return read(*args)
        except (OSError, pa.ArrowException):
            self.path_counts["fallbacks"] += 1
            return None

    def _term_dfs_local(self, terms: list[str],
                        field: str | None) -> dict[str, int] | None:
        """Driver-side exact-term dictionary lookup (the term_dfs fast
        path): prune to the files whose footer range covers a queried
        term and read them with pyarrow — row groups pruned by the same
        statistics, the residual ``term IN`` filter applied exactly.  A
        per-query lookup of ≤ |query terms| rows paid a whole Spark job
        of scheduling latency (~0.2-0.4 s measured) for a read that
        touches the same row groups this does in ~5 ms; same move as the
        stored-fields fetch (fetch_doc_rows).  Returns None — caller
        falls back to the cluster scan — for an oversized term set or a
        failed read (``_driver_side``)."""
        if len(terms) > self.LOCAL_DICT_MAX_TERMS:
            return None
        return self._driver_side(self._read_dfs, terms, field)

    def _read_dfs(self, terms: list[str],
                  field: str | None) -> dict[str, int]:
        import pyarrow.dataset as pads

        ranges = self._dict_file_ranges()
        cand = [p for lo, hi, p in ranges
                if lo is None or any(lo <= t <= hi for t in terms)]
        if not cand:
            return {}
        flt = pads.field("term").isin(terms)
        if field is not None:
            flt = flt & (pads.field("field") == field)
        pdf = pads.dataset(cand, format="parquet").to_table(
            columns=["term", "df"], filter=flt).to_pandas()
        return {t: int(v) for t, v in pdf.groupby("term")["df"].sum().items()}

    def local_blocks(self, terms, n_postings: int, field: str | None,
                     columns) -> "dict[int, pd.DataFrame] | None":
        """The query terms' blocks as ``{bucket: frame}`` when the request
        scores on the driver, else None (the cluster path).  It does
        when ``n_postings`` — the terms' summed dictionary df — is at
        most ``LOCAL_MAX_POSTINGS`` and the read succeeds
        (``_driver_side``); ``path_counts`` records which path the
        request took."""
        got = None
        if n_postings <= LOCAL_MAX_POSTINGS:
            got = self._driver_side(self._read_blocks, terms, field, columns)
        self.path_counts["cluster" if got is None else "local"] += 1
        return got

    def _read_blocks(self, terms, field: str | None,
                     columns) -> dict[int, pd.DataFrame]:
        """Read ``columns`` of the blocks of ``terms`` (within ``field``)
        from every materialized bucket of the manifest snapshot, with
        pyarrow: ``term IN`` and ``field ==`` are dataset filters (row
        groups pruned by their term statistics), and the ``field=``
        directory is decoded by Hive partitioning as Spark decodes it
        (``%2A`` → ``*``, Hive's default partition → null).  Buckets
        without a matching block are left out, as a ``groupBy`` would."""
        import pyarrow.dataset as pads

        flt = pads.field("term").isin(sorted(set(terms)))
        if field is not None:
            flt = flt & (pads.field("field") == field)
        out = {}
        for b, path in self._bucket_dirs("postings"):
            tbl = self.bucket_dataset(path).to_table(
                columns=list(columns), filter=flt)
            if tbl.num_rows:
                out[b] = tbl.to_pandas()
        return out

    def bucket_dataset(self, path: str):
        """The pyarrow dataset of one committed bucket directory, its
        ``field=`` subdirectories Hive-partitioned; cached until the
        manifest changes (``_manifest`` clears it)."""
        ds = self._datasets.get(path)
        if ds is None:
            import pyarrow.dataset as pads

            ds = self._datasets[path] = pads.dataset(
                path, format="parquet", partitioning=pads.partitioning(
                    pa.schema([("field", pa.string())]), flavor="hive"))
        return ds

    def _manifest(self) -> dict:
        """The current committed manifest (the index SNAPSHOT).  Re-read
        when its mtime changes: an incremental append, purge, or
        compaction in the same process atomically replaces the manifest,
        and both the bucket-range pruner and the snapshot readers below
        must follow it — stale ranges would silently DROP hits, and a
        directory listing not scoped to the manifest would read staged
        (uncommitted) or superseded bucket directories mid-swap."""
        mpath = os.path.join(self.index_dir, "manifest.json")
        mtime = os.path.getmtime(mpath)
        if self._manifest_cache is None or mtime != self._manifest_mtime:
            with open(mpath, encoding="utf-8") as f:
                self._manifest_cache = json.load(f)
            self._ranges = sorted(
                (int(first), int(first) + int(count), int(b))
                for b, (first, count) in self._manifest_cache["buckets"].items()
            )
            self._snapshot_paths.clear()  # path lists are per-snapshot
            self._datasets.clear()
            self._manifest_mtime = mtime
        return self._manifest_cache

    def buckets_for(self, doc_ids: list[int]) -> list[int]:
        """Bucket ids whose doc-range covers any of ``doc_ids`` (manifest
        ranges, driver-side) — lets a metadata probe prune the doc_map
        scan to the few bucket partitions actually holding hits."""
        self._manifest()
        import bisect

        starts = [r[0] for r in self._ranges]
        out = set()
        for d in doc_ids:
            i = bisect.bisect_right(starts, int(d)) - 1
            if i >= 0 and self._ranges[i][0] <= int(d) < self._ranges[i][1]:
                out.add(self._ranges[i][2])
        return sorted(out)

    def field_stats(self, field: str | None) -> tuple[int, float]:
        """(n_docs, avgdl) of the whole corpus or one field's sub-corpus."""
        if field is None:
            return int(self.stats["n_docs"]), float(self.stats["avgdl"])
        fs = self.stats.get("fields") or {}
        if field not in fs:
            raise ValueError(
                f"index at {self.index_dir} is not field-qualified for "
                f"{field!r} (available: {sorted(fs)})"
            )
        return int(fs[field]["n_docs"]), float(fs[field]["avgdl"])

    @property
    def tombstones(self) -> np.ndarray:
        """Sorted doc ids deleted since the last purge (live-docs filter
        for both scorers).  Reloaded when the tombstone dir's mtime
        changes, so deletes issued in the same process take effect on
        the next query without reopening the store."""
        path = os.path.join(self.index_dir, "tombstones")
        mtime = os.path.getmtime(path) if os.path.isdir(path) else None
        if self._tomb is None or mtime != self._tomb_mtime:
            from anisearch_model_spark.index.tombstones import load_tombstones

            self._tomb = load_tombstones(self.index_dir)
            self._tomb_mtime = mtime
        return self._tomb

    # explicit schemas on every reader: an empty index (0-doc corpus)
    # writes directories with no data files, and schema inference would
    # throw UNABLE_TO_INFER_SCHEMA instead of returning empty frames

    def _snapshot_read(self, schema, table: str) -> DataFrame:
        """Read a bucketed table through the manifest SNAPSHOT: only the
        ``bucket=N`` directories the committed manifest lists, passed as
        explicit paths (``basePath`` keeps partition-column discovery).

        This is what makes compaction/purge safe under concurrent
        readers: those jobs adopt their rewritten buckets under FRESH ids
        (invisible until the atomic manifest commit) and delete the
        superseded directories only after it, so a reader either sees the
        old snapshot or the new one — never a half-swap, never a staged
        and a superseded copy of the same docs at once (Iceberg's
        rewrite_data_files + snapshot-commit semantics on plain Parquet).
        A bucket listed in the manifest but never materialized (e.g. its
        docs were all stopwords → zero postings) is skipped; such
        directories are never deleted by the engine, so the existence
        check cannot race the cleanup — which also makes the path list a
        pure function of the snapshot, cached until the manifest changes
        (O(|buckets|) stat calls per SNAPSHOT, not per query)."""
        root = os.path.join(self.index_dir, table)
        paths = [p for _b, p in self._bucket_dirs(table)]
        if not paths:  # empty index → empty frame with the right schema
            return self.spark.read.schema(schema).parquet(root)
        return (
            self.spark.read.schema(schema)
            .option("basePath", root)
            .parquet(*paths)
        )

    def _bucket_dirs(self, table: str) -> list[tuple[int, str]]:
        """(bucket, directory) of ``table``'s materialized buckets in the
        manifest snapshot, cached until the manifest changes."""
        manifest = self._manifest()  # refresh first: clears stale caches
        dirs = self._snapshot_paths.get(table)
        if dirs is None:
            root = os.path.join(self.index_dir, table)
            dirs = [(b, os.path.join(root, f"bucket={b}"))
                    for b in sorted(int(x) for x in manifest.get("buckets", {}))]
            dirs = self._snapshot_paths[table] = [
                (b, p) for b, p in dirs if os.path.isdir(p)]
        return dirs

    @property
    def postings(self) -> DataFrame:
        from anisearch_model_spark.index.build import POSTINGS_SCHEMA

        return self._snapshot_read(POSTINGS_SCHEMA, "postings")

    @property
    def dictionary(self) -> DataFrame:
        from anisearch_model_spark.index.build import DICTIONARY_SCHEMA

        return self.spark.read.schema(DICTIONARY_SCHEMA).parquet(
            os.path.join(self.index_dir, "dictionary")
        )

    @property
    def doc_map(self) -> DataFrame:
        from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA

        return self._snapshot_read(BUCKETED_SCHEMA, "doc_map")


def parse_query(query_text: str) -> list[str]:
    """Shared-contract tokenize; sorted unique terms (= oracle.query_terms).

    Enforces the reference's 2000-char admission limit (src/api.py:239-241).
    """
    if query_text is None or len(query_text) > MAX_QUERY_CHARS:
        raise ValueError(f"query must be a string of <= {MAX_QUERY_CHARS} chars")
    toks = tokenize_series(pd.Series([query_text])).iloc[0]
    return sorted(set(toks))


# prefix (``term*``) queries expand against the dictionary, capped per
# prefix at the highest-df terms — the bounded rewrite every production
# engine uses (Lucene's default maxExpansions is 50 too): an unbounded
# expansion of a short prefix over a Heaps'-law web vocabulary could pull
# 10⁶ terms into one disjunction
MAX_EXPANSIONS = 50


def parse_query_terms(
    query_text: str,
) -> tuple[list[str], list[str], list[tuple[str, int]]]:
    """Shared-contract parse with wildcard/fuzzy support → (literal
    terms, prefix stems, fuzzy (stem, max_edits) pairs).

    A whitespace-delimited token ending in ``*`` is a PREFIX pattern; one
    ending in ``~`` or ``~N`` (N in 1..2; bare ``~`` means 2 — Lucene's
    default fuzziness) is a FUZZY pattern; ``~0`` is just the exact
    term.  Stems run through the same normalization as any term
    (lowercase / contractions / accent fold / punctuation strip) but are
    NOT stopword-filtered — ``the*`` legitimately targets ``theory``,
    which the stopword-eliding index does contain.  A stem that
    normalizes to several tokens (``data-pro*``) contributes its leading
    tokens as literals and its last as the pattern.  A bare marker or a
    stem that normalizes away is dropped.  Queries without markers take
    the exact ``parse_query`` path (mid-token markers are punctuation:
    stripped)."""
    import re as _re

    if not any(c in (query_text or "") for c in "*~"):
        return parse_query(query_text), [], []
    if len(query_text) > MAX_QUERY_CHARS:
        raise ValueError(f"query must be a string of <= {MAX_QUERY_CHARS} chars")
    from anisearch_model_spark.functions.normalize import (
        _TOKEN_RE,
        normalize_series,
    )

    def stem_tokens(stem: str) -> list[str]:
        return (
            normalize_series(pd.Series([stem])).str.findall(_TOKEN_RE).iloc[0]
        )

    literal_words: list[str] = []
    prefixes: list[str] = []
    fuzzy: dict[str, int] = {}
    for w in query_text.split():
        fm = _re.match(r"^(.+)~([0-2]?)$", w)
        if fm:
            edits = int(fm.group(2)) if fm.group(2) else 2
            toks = stem_tokens(fm.group(1))
            if not toks:
                continue
            literal_words.extend(toks[:-1])
            if edits == 0:
                literal_words.append(toks[-1])
            else:
                # repeated stem: the widest requested distance wins
                fuzzy[toks[-1]] = max(edits, fuzzy.get(toks[-1], 0))
        elif w.endswith("*") and len(w) > 1:
            toks = stem_tokens(w[:-1])
            if not toks:
                continue
            literal_words.extend(toks[:-1])
            prefixes.append(toks[-1])
        else:
            literal_words.append(w)
    lits = parse_query(" ".join(literal_words)) if literal_words else []
    return lits, sorted(set(prefixes)), sorted(fuzzy.items())


def expand_fuzzy(index: IndexStore, stems: list[tuple[str, int]],
                 field: str | None = None,
                 max_expansions: int = MAX_EXPANSIONS) -> dict[str, int]:
    """Fuzzy stems ``(stem, max_edits)`` → {term: df}: dictionary terms
    within Levenshtein distance ``max_edits`` of the stem (the exact term
    itself included at distance 0), capped like prefixes at the
    highest-df ``max_expansions`` terms per stem.

    The distance runs JVM-side (``F.levenshtein``, whole-stage codegen)
    over the distributed dictionary scan — never a vocabulary collect —
    with a cheap length-difference prefilter cutting most of the DP
    work.  A dedicated n-gram/automaton term index (Lucene's FST walk)
    would prune further; at ≤ a few 10⁸ dictionary rows per executor
    this linear scan is one codegen stage and stays sub-second."""
    out: dict[str, int] = {}
    for stem, max_edits in stems:
        d = index.dictionary.filter(
            (F.abs(F.length(F.col("term")) - len(stem)) <= max_edits)
            & (F.levenshtein(F.col("term"), F.lit(stem)) <= max_edits)
        )
        if field is not None:
            d = d.filter(F.col("field") == field)
        rows = (
            d.groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        for r in rows:
            out[r["term"]] = int(r["df"])
    return out


def expand_prefixes(index: IndexStore, prefixes: list[str],
                    field: str | None = None,
                    max_expansions: int = MAX_EXPANSIONS) -> dict[str, int]:
    """Prefix stems → {term: df} from the dictionary, each prefix capped
    at ``max_expansions`` terms by (df DESC, term ASC).

    The scan pushes ``StringStartsWith`` to the Parquet reader, and the
    dictionary files are written term-sorted, so row-group min/max stats
    prune the read to the prefix's range; the collect is bounded at
    ``max_expansions`` rows per prefix regardless of vocabulary size."""
    out: dict[str, int] = {}
    for p in prefixes:
        d = index.dictionary.filter(F.col("term").startswith(p))
        if field is not None:
            d = d.filter(F.col("field") == field)
        rows = (
            d.groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        for r in rows:
            out[r["term"]] = int(r["df"])
    return out


def match_count(index: IndexStore, query_text: str,
                field: str | None = None) -> int:
    """Total-hit count: how many live docs match ≥1 query term — the
    Lucene TotalHitCountCollector surface.  One distributed count over
    the per-bucket match set (no ranking, no top-k); tombstones excluded
    by the same mask as the scorers."""
    return score_matches(index, query_text, field=field).count()


def suggest_terms(index: IndexStore, prefix: str, n: int = 10,
                  field: str | None = None) -> list[tuple[str, int]]:
    """Type-ahead term suggestion: the ``n`` highest-df dictionary terms
    under ``prefix`` as ordered (term, df) pairs — the Lucene terms-enum
    / suggester surface, served from the same bounded pushed-prefix
    dictionary scan as ``expand_prefixes`` (never a vocabulary scan).
    """
    if not prefix or not prefix.strip():
        raise ValueError("suggestion prefix must be non-empty")
    got = expand_prefixes(index, [prefix.strip().lower()], field=field,
                          max_expansions=n)
    return sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))[:n]


def resolve_query_dfs(index: IndexStore, query_text: str,
                      field: str | None = None,
                      max_expansions: int = MAX_EXPANSIONS) -> dict[str, int]:
    """term → df for a query's corpus-present terms; ``*``-prefixes and
    ``~``-fuzzy stems expand per ``expand_prefixes``/``expand_fuzzy``.
    An unknown ``field`` raises before any lookup."""
    lits, prefixes, fuzzy = parse_query_terms(query_text)
    index.field_stats(field)
    dfs = dict(index.term_dfs(lits, field=field)) if lits else {}
    if prefixes:
        dfs.update(expand_prefixes(index, prefixes, field=field,
                                   max_expansions=max_expansions))
    if fuzzy:
        dfs.update(expand_fuzzy(index, fuzzy, field=field,
                                max_expansions=max_expansions))
    return dfs


def idf_of(index: IndexStore, dfs: dict[str, int],
           field: str | None = None) -> dict[str, float]:
    """term → BM25 idf of each term's df within ``field``'s sub-corpus."""
    n, _ = index.field_stats(field)
    return {t: float(bm25_idf(np.array([df]), n)[0]) for t, df in dfs.items()}


def resolve_query_idf(index: IndexStore, query_text: str,
                      field: str | None = None,
                      max_expansions: int = MAX_EXPANSIONS) -> dict[str, float]:
    """term → idf for a query; expanded terms score as an ordinary
    disjunction, each with its own true idf (per-term scoring — matching
    what the SQL oracle can mirror with a LIKE / levenshtein filter)."""
    return idf_of(index, resolve_query_dfs(index, query_text, field,
                                           max_expansions), field)


def _query_idf(index: IndexStore, query_text: str, field: str | None,
               boosts: dict[str, float] | None) -> tuple[dict[str, float], int]:
    """(term → boosted idf, summed df of those terms — the posting count
    the driver bound is checked against)."""
    dfs = resolve_query_dfs(index, query_text, field=field)
    idf = idf_of(index, dfs, field)
    if boosts:
        # boost scales a term's WHOLE contribution; BMW's per-block upper
        # bounds derive from this map, so pruning stays exact under it
        idf = {t: v * float(boosts.get(t, 1.0)) for t, v in idf.items()}
    return idf, sum(dfs.values())


def _tombstones(index: IndexStore) -> "np.ndarray | None":
    """The sorted tombstone array, None when there are none."""
    tomb = index.tombstones
    return tomb if len(tomb) else None


def _broadcast(spark: SparkSession, value):
    """``value`` as a broadcast for the executors' kernels (None stays
    None)."""
    return None if value is None else spark.sparkContext.broadcast(value)


def _value(bvar):
    return None if bvar is None else bvar.value


def _fold_cluster(index: IndexStore, idf: dict[str, float],
                  field: str | None, params: BM25Params) -> DataFrame:
    """``fold_bucket`` per bucket on the executors: the full live match
    set as (doc_id, score) rows."""
    _, avgdl = index.field_stats(field)
    k1, b = params.k1, params.b
    bidf = _broadcast(index.spark, idf)
    btomb = _broadcast(index.spark, _tombstones(index))
    return term_blocks(index, idf, field).groupBy("bucket").applyInPandas(
        lambda pdf: fold_bucket(pdf, bidf.value, avgdl, k1, b, _value(btomb)),
        schema=MATCH_SCHEMA)


def score_matches(index: IndexStore, query_text: str,
                  params: BM25Params | None = None,
                  field: str | None = None,
                  boosts: dict[str, float] | None = None) -> DataFrame:
    """Exhaustive (doc_id, score) for EVERY live doc matching ≥1 query
    term — the full match set, no top-k cut.

    This is the candidate-generation primitive under the exact-semantics
    consumers that must see the whole match set before any truncation:
    match counting, facet counting (``query/facets.py``) and weighted
    rank fusion (``query/multifield.py::search_fields_fused``).  It
    always runs on the cluster — its consumers join it there.  Cost
    scales with query-term posting volume, never corpus size: the
    postings scan term-IN-prunes (and field-partition-prunes).

    ``boosts`` (Lucene query-time boost, ``term^2`` semantics) scales a
    term's whole contribution by multiplying its idf before the kernel —
    exactly equivalent to ``boost · idf · tf-saturation`` and therefore
    zero extra plan cost; unlisted terms boost 1.0.

    Buckets are disjoint doc ranges, so a doc's whole score is computable
    inside its bucket: one ``applyInPandas`` kernel per bucket
    (``bucket.fold_bucket``) folds the term-pruned blocks in ascending
    term order and masks tombstones.  The only shuffle moves compressed
    blocks to their bucket group."""
    idf, _ = _query_idf(index, query_text, field, boosts)
    if not idf:
        return local_frame(index.spark, None, MATCH_SCHEMA)
    return _fold_cluster(index, idf, field, params or BM25Params())


def topk_exhaustive(index: IndexStore, query_text: str, k: int = 10,
                    params: BM25Params | None = None,
                    field: str | None = None,
                    boosts: dict[str, float] | None = None) -> DataFrame:
    """Exact top-k, bit-identical to the oracle: (rank, doc_id, score).

    ``field`` restricts scoring to one field's sub-corpus (per-field
    df/n/avgdl; the postings scan prunes on the field partition).  Under
    the driver bound the ``fold_bucket`` kernels run on the driver
    (module docstring); otherwise on the cluster (``score_matches``)."""
    return as_frame(index.spark, _topk_exhaustive(
        index, query_text, k, params, field=field, boosts=boosts))


def _topk_exhaustive(index: IndexStore, query_text: str, k: int,
                     params: BM25Params | None = None,
                     field: str | None = None,
                     boosts: dict[str, float] | None = None
                     ) -> "pd.DataFrame | DataFrame":
    params = params or BM25Params()
    idf, n_postings = _query_idf(index, query_text, field, boosts)
    if not idf:
        return ranked([], k)
    local = index.local_blocks(idf, n_postings, field, BLOCK_COLS)
    if local is None:
        return rank_top(_fold_cluster(index, idf, field, params), k)
    _, avgdl = index.field_stats(field)
    tomb = _tombstones(index)
    return ranked([fold_bucket(pdf, idf, avgdl, params.k1, params.b, tomb)
                   for pdf in local.values()], k)


def topk_bmw(index: IndexStore, query_text: str, k: int = 10,
             params: BM25Params | None = None, decode_counter=None,
             field: str | None = None,
             boosts: dict[str, float] | None = None,
             allow: "np.ndarray | None" = None) -> DataFrame:
    """Block-max pruned top-k. Identical output to ``topk_exhaustive``.

    Per bucket (doc-range shard), ``bucket.bmw_bucket``: compute
    per-block BM25 upper bounds from block METADATA only, walk the doc
    range in block-aligned segments in descending summed-bound order,
    and DECODE a posting block only when a surviving segment needs it —
    the whole point of block-max WAND is to skip the decode, not just
    the float accumulation.  Surviving docs are scored exactly with
    ascending-term accumulation.  Local top-k per bucket then a global
    merge — mirrors the reference's per-column top-k → global merge
    (src/api.py:316-349).  Under the driver bound the kernels run on the
    driver (module docstring); otherwise in ``applyInPandas``.

    ``decode_counter``: optional Spark accumulator incremented by the
    number of blocks actually decoded (test/bench observability) — on
    the driver or in the executors, whichever ran the kernels.

    ``allow``: optional sorted int64 array of ADMISSIBLE doc ids — the
    selective branch of metadata-filtered search (query/filtered.py).
    Like the tombstone mask it applies during segment admission (a
    filtered-out doc must never occupy a heap slot a live candidate
    needed); unlike tombstones it is inclusive.  The block/segment upper
    bounds ignore it — they stay valid upper bounds, pruning just gets
    less tight.  Scores keep FULL-corpus stats (Lucene filter-clause
    contract: a filter restricts candidates, never rescales scores).
    """
    return as_frame(index.spark, _topk_bmw(
        index, query_text, k, params, decode_counter, field, boosts, allow))


def _topk_bmw(index: IndexStore, query_text: str, k: int,
              params: BM25Params | None = None, decode_counter=None,
              field: str | None = None,
              boosts: dict[str, float] | None = None,
              allow: "np.ndarray | None" = None
              ) -> "pd.DataFrame | DataFrame":
    params = params or BM25Params()
    spark = index.spark
    idf, n_postings = _query_idf(index, query_text, field, boosts)
    if not idf:
        return ranked([], k)
    if allow is not None:
        allow = np.unique(np.asarray(allow, "int64"))
    _, avgdl = index.field_stats(field)
    k1, b = params.k1, params.b
    # deleted docs must be excluded DURING scoring (a dead doc in a local
    # top-k slot would push a live doc out, not just vanish at the end)
    tomb = _tombstones(index)
    local = index.local_blocks(idf, n_postings, field, BMW_COLS)
    if local is not None:
        frames, n_decoded = [], 0
        for pdf in local.values():
            top, n = bmw_bucket(pdf, idf, avgdl, k1, b, k, tomb, allow)
            frames.append(top)
            n_decoded += n
        if decode_counter is not None:
            decode_counter.add(n_decoded)
        return ranked(frames, k)

    bidf = _broadcast(spark, idf)
    btomb = _broadcast(spark, tomb)
    ballow = _broadcast(spark, allow)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        top, n = bmw_bucket(pdf, bidf.value, avgdl, k1, b, k,
                            _value(btomb), _value(ballow))
        if decode_counter is not None:
            decode_counter.add(n)
        return top

    blocks = term_blocks(index, idf, field, cols=("bucket",) + BMW_COLS)
    return rank_top(blocks.groupBy("bucket").applyInPandas(
        score_bucket, schema=MATCH_SCHEMA), k)


# bounds for the driver-side stored-fields fetch: past these the probe
# falls back to the pruned Spark scan (same results, cluster-side IO)
_LOCAL_FETCH_MAX_IDS = 10_000
_LOCAL_FETCH_MAX_BUCKETS = 64


def fetch_doc_rows(index: IndexStore, ids: list[int],
                   meta_cols: list[str]) -> "pd.DataFrame | None":
    """Bounded driver-side stored-fields fetch (Lucene's stored-fields
    read): resolve ``ids`` to their bucket directories via the manifest
    and read ONLY those parquet files with pyarrow, pruning row groups by
    the doc_id statistics (the doc_map is written doc_id-sorted within
    each bucket) and projecting only ``meta_cols``.  No Spark job: for a
    ≤ pages·k probe the cluster round-trip WAS the latency — the read
    itself touches the same row groups a pruned scan task would.

    Returns None — the caller falls back to the pruned cluster scan —
    when a candidate bucket's directory is missing or a read fails: a
    silently skipped bucket would drop its rows' metadata (the
    ``IndexStore._driver_side`` contract, counted like the others)."""
    return index._driver_side(_read_doc_rows, index, ids, meta_cols)


def _read_doc_rows(index: IndexStore, ids: list[int],
                   meta_cols: list[str]) -> pd.DataFrame:
    import pyarrow.dataset as pads

    root = os.path.join(index.index_dir, "doc_map")
    cols = [c for c in meta_cols if c != "bucket"]
    frames = []
    idset = sorted(int(i) for i in ids)
    for b in index.buckets_for(idset):
        p = os.path.join(root, f"bucket={b}")
        if not os.path.isdir(p):
            raise FileNotFoundError(p)
        tbl = index.bucket_dataset(p).to_table(
            columns=cols, filter=pads.field("doc_id").isin(idset))
        frames.append(tbl.to_pandas())
    if not frames:
        return pd.DataFrame(columns=cols)
    return pd.concat(frames, ignore_index=True)


def probe_doc_map(index: IndexStore, top: DataFrame, meta_cols: list[str],
                  meta_filter=None) -> tuple[DataFrame, DataFrame]:
    """Turn a (tiny, ≤ pages·k) ranked candidate frame into a PRUNED
    doc_map probe: collect the candidates, map their doc_ids to bucket
    partitions via the manifest (driver-side range lookup), and fetch the
    matching doc_map rows.

    Fast path (r6): for an unfiltered probe within the local-fetch
    bounds, the rows are read driver-side with pyarrow from exactly the
    candidate buckets' files (``fetch_doc_rows``) — zero Spark jobs for
    the metadata half of a query.  Otherwise the probe is the pruned
    cluster scan (PartitionFilter on bucket + pushed doc_id IN), which a
    ``meta_filter`` or an oversized id set requires; without EITHER form
    of pruning every query's metadata join would scan the whole doc_map.
    Returns (local candidate frame, metadata frame — local on the fast
    path, pruned scan otherwise)."""
    rows = top.collect()
    spark = index.spark
    top_local = local_frame(spark, pd.DataFrame(rows, columns=top.columns),
                            top.schema)
    ids = [int(r["doc_id"]) for r in rows]
    if meta_filter is None and "bucket" not in meta_cols and \
            len(ids) <= _LOCAL_FETCH_MAX_IDS and \
            len(index.buckets_for(ids)) <= _LOCAL_FETCH_MAX_BUCKETS:
        pdf = (fetch_doc_rows(index, ids, meta_cols) if ids
               else pd.DataFrame({c: [] for c in meta_cols}))
        if pdf is not None:
            meta = local_frame(spark, pdf[list(meta_cols)],
                               index.doc_map.select(*meta_cols).schema)
            return top_local, meta
    return top_local, _doc_map_scan(index, ids, meta_cols, meta_filter)


def _doc_map_scan(index: IndexStore, ids: list[int], meta_cols: list[str],
                  meta_filter=None) -> DataFrame:
    """The cluster-side metadata probe: the doc_map scan pruned to the
    candidates' bucket partitions with ``doc_id IN`` pushed down."""
    meta = index.doc_map
    if meta_filter is not None:
        meta = meta.filter(meta_filter)
    if ids:
        meta = meta.filter(
            F.col("bucket").isin(index.buckets_for(ids))
        ).filter(F.col("doc_id").isin(ids))
    else:
        meta = meta.filter(F.lit(False))
    return meta.select(*meta_cols)


def search(index: IndexStore, query_text: str, k: int = 10,
           params: BM25Params | None = None, pruned: bool = True,
           with_metadata: bool = True, page: int = 1,
           role: str | None = None,
           boosts: dict[str, float] | None = None) -> DataFrame:
    """Top-k + doc metadata join (replaces reference's df.iloc positional
    probe, src/api.py:427-455 — explicit equi-join on doc_id instead).

    ``pruned`` defaults to the block-max scorer: it is tested bit-identical
    to the exhaustive path and decodes only the blocks that can still beat
    the running threshold (~5% measured) — at scale a Zipf-hot term makes
    exhaustive decode the whole posting list for no reason.  Pass
    ``pruned=False`` for the exhaustive oracle/debug comparator.

    ``page`` keeps the reference's pagination contract (candidate pool
    scales with the page, ranking recomputed per page; src/api.py:424).
    ``role`` scopes the query to one field of a field-qualified index
    (reference single-column search analog, src/api.py:416-421) — the
    postings scan prunes to that field's partitions.
    ``boosts`` ({term: weight}, Lucene ``term^2``) multiplies a term's
    whole contribution in BOTH scorers (idf pre-scaling keeps BMW's
    block bounds exact)."""
    top = (_topk_bmw if pruned else _topk_exhaustive)(
        index, query_text, k * page, params, field=role, boosts=boosts)
    return page_of(index, top, k, page, with_metadata)


def as_frame(spark: SparkSession,
             top: "pd.DataFrame | DataFrame") -> DataFrame:
    """A scorer's ranked (rank, doc_id, score) result as a DataFrame: a
    cluster plan as it is, a driver-built pandas frame through
    ``local_frame``."""
    if isinstance(top, pd.DataFrame):
        return local_frame(spark, top, RANKED_SCHEMA)
    return top


def page_of(index: IndexStore, top: "pd.DataFrame | DataFrame", k: int,
            page: int, with_metadata: bool = True) -> DataFrame:
    """Ranks ((page-1)·k, page·k] of a ranked result — a pandas frame
    from the driver path or a cluster plan — with the doc metadata
    attached (``attach_metadata``) unless ``with_metadata`` is False:
    the tail of every term, phrase and boolean search, which score
    ``k · page`` candidates (the reference's pagination contract)."""
    if page > 1:
        lo, hi = (page - 1) * k, page * k
        top = (top[(top["rank"] > lo) & (top["rank"] <= hi)]
               if isinstance(top, pd.DataFrame)
               else top.filter((F.col("rank") > lo) & (F.col("rank") <= hi)))
    if not with_metadata:
        return as_frame(index.spark, top)
    return attach_metadata(index, top)


def attach_metadata(index: IndexStore,
                    top: "pd.DataFrame | DataFrame") -> DataFrame:
    """A ranked ``(rank, doc_id, score)`` frame (≤ pages·k rows, pandas
    or a cluster plan) → the search result ``(rank, doc_id, conv_id,
    turn_idx, role, score)`` in rank order; the tail every
    term/phrase/boolean search shares.

    Fast path: the ranked side is collected (a pandas one is already
    local) and the metadata side is a bounded driver-side stored-fields
    read (``fetch_doc_rows``) — the attach is a pandas merge, zero extra
    Spark jobs (the tiny local-vs-local broadcast join cost ~0.4 s of
    pure scheduling per query).  Past the local-fetch bounds, or when the driver-side read
    falls back, it is the pruned doc_map scan (``_doc_map_scan``) joined
    to the broadcast ranked side."""
    out_schema = ("rank long, doc_id long, conv_id string, turn_idx int, "
                  "role string, score double")
    out_cols = ["rank", "doc_id", "conv_id", "turn_idx", "role", "score"]
    spark = index.spark
    if not isinstance(top, pd.DataFrame):
        top = pd.DataFrame([r.asDict() for r in top.collect()],
                           columns=["rank", "doc_id", "score"])
    if top.empty:
        return local_frame(spark, None, out_schema)
    ids = [int(i) for i in top["doc_id"]]
    meta_cols = ["doc_id", "conv_id", "turn_idx", "role"]
    if len(ids) <= _LOCAL_FETCH_MAX_IDS and \
            len(index.buckets_for(ids)) <= _LOCAL_FETCH_MAX_BUCKETS:
        meta_pdf = fetch_doc_rows(index, ids, meta_cols)
        if meta_pdf is not None:
            merged = top.merge(meta_pdf, on="doc_id", how="inner").sort_values(
                "rank", kind="mergesort")
            return local_frame(spark, merged[out_cols], out_schema)
    top_local = local_frame(spark, top, RANKED_SCHEMA)
    meta = _doc_map_scan(index, ids, meta_cols)
    return (
        meta.join(F.broadcast(top_local), "doc_id", "inner")
        .select(*out_cols)
        .orderBy("rank")
    )
