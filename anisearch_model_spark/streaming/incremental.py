"""Incremental index append via Structured Streaming (Trigger.AvailableNow).

The reference's index is rebuilt from scratch per run (``src/sbert.py``);
here newly-arrived transcript files are folded into an EXISTING index
without touching completed buckets:

  readStream over the transcript directory → foreachBatch:
    1. collect the micro-batch ONCE, bounded: ``limit(bound + 1)
       .toArrow()`` (1 Spark job; the micro-batch is a LogicalRDD with no
       input files to read directly).  ``bound`` is the session's
       ``spark.sql.execution.arrow.maxRecordsPerBatch``, the unit one
       executor kernel holds;
    2. assign doc_ids CONTIGUOUSLY AFTER the manifest's id-span end, by
       (conv_id, turn_idx) rank (the span end, not the live doc count,
       because a purge lowers the count without renumbering — existing
       doc_ids never change, so already-built posting blocks stay
       valid), and write the docs into NEW buckets: their doc_map rows
       first, then their blocks with positions, so phrase search sees
       the new docs at the same manifest commit as BM25.  Two paths, one
       kernel (index/positions.tokenize_encode):
         * driver path — a batch of ≤ ``bound`` rows that the span rule
           puts in ONE bucket and whose keys are all non-null: sorted in
           Spark's binary key order, written with pyarrow (doc_map file
           with ``ts`` as INT96 like Spark's, one blocks file per
           ``field=`` dir escaped like Spark's partition paths), 0 more
           Spark jobs.  Memory bound: the driver holds at most one Arrow
           batch of transcript rows plus their occurrence frame — the
           same unit one executor kernel holds;
         * cluster path — everything else, unchanged: ``bucketed_corpus``
           and ``index/build.write_buckets``, with the row count from
           ``batch_df.count()`` when the batch is over the bound.  A
           driver-path write that fails before the manifest commit is
           removed and the cluster path writes the batch instead; each
           such fallback is counted (``incremental_append``'s result);
    3. commit in O(batch), driver-side, 0 Spark jobs (``_commit_append``):
       the manifest, then one dictionary DELTA file of the new blocks'
       (term, field) → (df, cf), then stats.json by exact integer
       arithmetic on the old totals.  Readers sum df/cf over every
       dictionary row, so the delta is all a lookup needs; the next full
       re-derive (purge, compact, merge, build) folds it back in.  The
       result equals a ``finalize_metadata`` re-derive exactly.

Replay safety.  The streaming checkpointLocation makes completed batches
replay-safe; a batch that crashed is replayed with the same epoch id:

  * crash before the manifest commit: a REPAIR pass at batch start
    deletes doc_map and postings bucket directories (and delta files)
    beyond the manifest's max bucket — exactly the orphans such a crash
    leaves — and the replay rewrites the batch from scratch.  On a table
    format with snapshots (Iceberg) this is a rollback; on plain parquet
    it is a directory delete;
  * crash after it: the manifest commit also records the batch —
    ``appends[<checkpoint path>] = {epoch, buckets}``, Delta Lake's
    ``txn`` (appId, version) action — so the replay of that epoch writes
    no data and only re-runs ``_commit_append`` when stats.json still
    predates the commit (its ``num_buckets`` lacks the new buckets).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
from anisearch_model_spark.index.build import write_buckets
from anisearch_model_spark.index.docmap import (
    _INPUT_COLS, DOC_MAP_SCHEMA, bucketed_corpus)
from anisearch_model_spark.index.store import (
    DELTA_PREFIX, dictionary_deltas, load_stats, token_total, write_stats)


def _repair_orphan_buckets(index_dir: str, max_bucket: int) -> int:
    """Delete doc_map and postings bucket dirs, and dictionary delta
    files, beyond the manifest's max bucket — the orphans of a crash
    between the first data write and the manifest commit.  Postings go
    too: a dynamic overwrite replaces only the ``field=`` partitions the
    next batch produces, so an orphan ``field=`` dir would otherwise
    survive into the next committed bucket.  Idempotent; returns the
    number of directories removed."""
    removed = 0
    for table in ("doc_map", "postings"):
        root = os.path.join(index_dir, table)
        if not os.path.isdir(root):
            continue
        for entry in os.listdir(root):
            if entry.startswith("bucket="):
                try:
                    b = int(entry.split("=", 1)[1])
                except ValueError:
                    continue
                if b > max_bucket:
                    shutil.rmtree(os.path.join(root, entry))
                    removed += 1
    for fn in dictionary_deltas(index_dir):
        if int(fn[len(DELTA_PREFIX):-len(".parquet")]) > max_bucket:
            os.remove(os.path.join(index_dir, "dictionary", fn))
    return removed


def _bucket_table(index_dir: str, table: str, buckets: list[int],
                  columns: list[str], flt=None):
    """pyarrow read of ``columns`` from ``table``'s ``bucket=N`` dirs
    (the ``field`` hive partition of postings read as a string), or None
    when none of the dirs exists."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    part = pads.partitioning(pa.schema([("field", pa.string())]),
                             flavor="hive")
    dirs = [p for p in (os.path.join(index_dir, table, f"bucket={b}")
                        for b in buckets) if os.path.isdir(p)]
    if not dirs:
        return None
    return pads.dataset([pads.dataset(p, format="parquet", partitioning=part)
                         for p in dirs]).to_table(columns=columns, filter=flt)


def _commit_append(index_dir: str, stats: dict, old: list[int],
                   new: list[int], n_new: int, params: BM25Params) -> None:
    """Commit an appended batch's dictionary delta and stats.json from
    what the batch wrote alone — driver-side pyarrow, 0 Spark jobs, no
    read of a pre-existing bucket's postings.

    The delta holds the new buckets' blocks grouped by (term, field)
    into (df = Σ n, cf = Σ cf), term-sorted like the base files, written
    to a temp name and renamed into ``dictionary/delta-b<first new
    bucket>.parquet``.  Stats: the old token totals, overall and per
    field, are recovered exactly as ``round(avgdl × n_docs)``
    (``token_total``) and raised by the delta's cf; per-field doc counts
    by the new doc_map rows; ``n_convs`` by the batch's conv ids that no
    old bucket's doc_map holds (a ``conv_id`` isin probe).

    Memory bound: one row per new block (4 narrow columns), the new
    doc_map rows' conv_id (+ field) column, and the old doc_map rows of
    the batch's conversations."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    field_col = stats.get("field_col")
    blocks = _bucket_table(index_dir, "postings", new,
                           ["term", "field", "n", "cf"])
    field_cf: dict = {}
    if blocks is not None and blocks.num_rows:
        delta = blocks.group_by(["term", "field"]).aggregate(
            [("n", "sum"), ("cf", "sum")])
        delta = pa.table({
            "term": delta["term"], "field": delta["field"],
            "df": delta["n_sum"].cast(pa.int64()),
            "cf": delta["cf_sum"].cast(pa.int64()),
        }).sort_by([("term", "ascending"), ("field", "ascending")])
        droot = os.path.join(index_dir, "dictionary")
        name = f"{DELTA_PREFIX}{min(new)}"
        # the temp name is hidden from both dictionary readers: Spark
        # skips '_'-prefixed files, the driver lookup lists *.parquet
        tmp = os.path.join(droot, f"_{name}.tmp")
        pq.write_table(delta, tmp)
        os.replace(tmp, os.path.join(droot, name + ".parquet"))
        by_field = delta.group_by("field").aggregate([("cf", "sum")])
        field_cf = dict(zip(by_field["field"].to_pylist(),
                            by_field["cf_sum"].to_pylist()))

    docs = _bucket_table(index_dir, "doc_map", new,
                         ["conv_id"] + ([field_col] if field_col else []))
    convs = pc.unique(docs["conv_id"])
    seen = _bucket_table(index_dir, "doc_map", old, ["conv_id"],
                         pads.field("conv_id").isin(convs))
    n_seen = len(pc.unique(seen["conv_id"])) if seen is not None else 0

    n_docs = int(stats["n_docs"])
    old_fields = stats.get("fields") or {}
    field_docs: dict = {f: int(v["n_docs"]) for f, v in old_fields.items()}
    field_tokens = {f: token_total(v["avgdl"], v["n_docs"])
                    for f, v in old_fields.items()}
    if field_col:
        counts = docs[field_col].value_counts()
        for f, c in zip(counts.field("values").to_pylist(),
                        counts.field("counts").to_pylist()):
            if f is not None:
                field_docs[f] = field_docs.get(f, 0) + int(c)
        for f, c in field_cf.items():
            field_tokens[f] = field_tokens.get(f, 0) + int(c)
    write_stats(
        index_dir, n_docs + n_new,
        int(stats["n_convs"]) + len(convs) - n_seen,
        token_total(stats["avgdl"], n_docs) + sum(field_cf.values()),
        field_docs, field_tokens, params, len(old) + len(new), field_col)


# Spark's partition-path escape set (ExternalCatalogUtils.escapePathName):
# ASCII controls plus these characters become %XX in a ``field=`` dir
_PATH_ESCAPE = frozenset([chr(c) for c in range(1, 0x20)]
                         + list('"#%\'*/:=?\\\x7f{[]^'))


def _field_dir(value: str) -> str:
    """The ``field=`` directory Spark's ``partitionBy`` gives a field
    value (``*`` → ``%2A``; a null or empty value is Hive's default
    partition, read back as null)."""
    if not isinstance(value, str) or not value:
        return "field=__HIVE_DEFAULT_PARTITION__"
    return "field=" + "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE else c for c in value)


def _driver_bound(spark: SparkSession) -> int:
    """Most transcript rows the driver path takes: the session's Arrow
    batch size, the unit one executor kernel holds."""
    return max(int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000")), 0)


def _write_file(table, directory: str, plain: tuple[str, ...]) -> None:
    """One parquet file in a new partition directory, encoded as Spark
    encodes it: snappy, INT96 timestamps, no Arrow schema blob, and
    dictionary pages except for the ``plain`` columns, whose values are
    (nearly) unique per row — Spark's writer falls back to PLAIN there."""
    import pyarrow.parquet as pq

    os.makedirs(directory)
    pq.write_table(
        table.replace_schema_metadata(None),
        os.path.join(directory, "part-00000-local.snappy.parquet"),
        use_dictionary=[n for n in table.column_names if n not in plain],
        store_schema=False, use_deprecated_int96_timestamps=True)


def _write_bucket_local(batch, index_dir: str, bucket: int, id_base: int,
                        field_col: str | None) -> None:
    """Write one appended bucket from the collected micro-batch
    (``batch``: a pyarrow table of ``_INPUT_COLS``, no null key) with
    pyarrow: the doc_map file, then one blocks file per field from the
    shared kernel (positions.tokenize_encode).  doc_ids are ``id_base``
    + the rank under Spark's (conv_id, turn_idx) binary order, as
    ``bucketed_corpus`` gives a one-bucket batch; ``ts`` is stored as
    INT96 like Spark's own doc_map files."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from anisearch_model_spark.index.build import BLOCK_SCHEMA
    from anisearch_model_spark.index.positions import tokenize_encode

    docs = batch.sort_by([("conv_id", "ascending"),
                          ("turn_idx", "ascending")])
    docs = docs.append_column("doc_id", pa.array(
        np.arange(id_base, id_base + docs.num_rows, dtype=np.int64)))
    doc_schema = to_arrow_schema(StructType.fromDDL(DOC_MAP_SCHEMA))
    docs = docs.select(doc_schema.names).cast(doc_schema)
    _write_file(docs, os.path.join(index_dir, "doc_map", f"bucket={bucket}"),
                plain=("doc_id", "text"))

    pdf = docs.select(["doc_id", "text"] + ([field_col] if field_col else [])
                      ).to_pandas()
    pdf["bucket"] = np.int32(bucket)
    blocks = tokenize_encode([pdf], field_col)
    block_schema = to_arrow_schema(StructType.fromDDL(BLOCK_SCHEMA))
    cols = [f for f in block_schema if f.name not in ("bucket", "field")]
    pdir = os.path.join(index_dir, "postings", f"bucket={bucket}")
    for fld, grp in blocks.groupby("field", sort=True, dropna=False):
        _write_file(pa.Table.from_pandas(grp, schema=pa.schema(cols),
                                         preserve_index=False),
                    os.path.join(pdir, _field_dir(fld)),
                    plain=("term",))


def _finish_recorded_commit(index_dir: str, stats: dict, buckets: dict,
                            new: list[int], params: BM25Params) -> None:
    """Replay of a batch whose manifest commit landed: write no data,
    re-run ``_commit_append`` only when stats.json still predates that
    commit (its ``num_buckets`` counts the manifest without ``new``).
    A later purge or compaction that merged ``new`` away re-derived the
    stats itself, so there is nothing left to finish."""
    listed = {int(b) for b in buckets}
    if not set(new) <= listed or \
            int(stats.get("num_buckets", -1)) != len(listed) - len(new):
        return
    n_new = sum(int(buckets[str(b)][1]) for b in new)
    _commit_append(index_dir, stats, sorted(listed - set(new)), new, n_new,
                   params)


def _append_batch(spark: SparkSession, batch_df, index_dir: str,
                  params: BM25Params,
                  txn: tuple[str, int] | None = None) -> tuple[str, int, int]:
    """Append one micro-batch; returns (path, rows, fallbacks) with path
    "driver", "cluster", "replay" (a recorded batch: no data written) or
    "empty".  ``txn`` is the batch's (checkpoint path, epoch id), recorded
    in the manifest commit so a replay of it is recognised."""
    stats = load_stats(index_dir)
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    buckets = manifest["buckets"]
    if txn is not None:
        rec = manifest.get("appends", {}).get(txn[0])
        if rec is not None and rec["epoch"] == txn[1]:
            _finish_recorded_commit(index_dir, stats, buckets,
                                    rec["buckets"], params)
            return "replay", 0, 0
    n_existing = int(stats["n_docs"])
    max_bucket = max((int(b) for b in buckets), default=-1)
    _repair_orphan_buckets(index_dir, max_bucket)

    bound = _driver_bound(spark)
    batch = batch_df.select(*_INPUT_COLS).limit(bound + 1).toArrow()
    n_new = batch.num_rows if batch.num_rows <= bound else batch_df.count()
    if n_new == 0:
        return "empty", 0, 0
    # new ids start after the id SPAN end (as merge_indexes offsets):
    # a purge lowers n_docs but never renumbers surviving ids
    id_base = max((int(lo) + int(n) for lo, n in buckets.values()), default=0)
    # span fallback: appending onto a tiny/empty base must not degenerate
    # into one-doc buckets (an empty base made span=1 → n_new single-row
    # buckets → n_new tasks per stage)
    avg_span = max(n_existing // max(len(buckets), 1), n_new // 32, 1)
    n_parts = max(1, math.ceil(n_new / avg_span))
    base = max_bucket + 1
    field_col = stats.get("field_col")

    path, fallbacks = "cluster", 0
    # Spark sorts null keys first and pyarrow last: those take the
    # cluster path, as do over-bound and multi-bucket batches
    if n_new <= bound and n_parts == 1 and \
            batch["conv_id"].null_count == batch["turn_idx"].null_count == 0:
        import pyarrow as pa

        try:
            _write_bucket_local(batch, index_dir, base, id_base, field_col)
            path, offsets, counts = "driver", {0: 0}, {0: n_new}
        except (OSError, pa.ArrowException) as e:
            print(f"warning: driver-side append failed ({e!r}); falling "
                  "back to the cluster path", file=sys.stderr)
            _repair_orphan_buckets(index_dir, max_bucket)
            fallbacks = 1
    if path == "cluster":
        offsets, counts = _write_buckets_cluster(
            spark, batch_df, index_dir, n_parts, n_new, id_base, base,
            field_col)

    # commit: extend manifest (ATOMIC replace — concurrent readers scan
    # exactly the manifest-listed buckets, so the new docs become visible
    # all at once here), then the dictionary delta and stats
    from anisearch_model_spark.index.compact import _write_manifest

    old = sorted(int(b) for b in buckets)
    new = [base + p for p in sorted(counts)]
    for pid in sorted(counts):
        buckets[str(base + pid)] = [id_base + offsets[pid], counts[pid]]
    manifest["buckets"] = buckets
    if txn is not None:
        manifest.setdefault("appends", {})[txn[0]] = {
            "epoch": txn[1], "buckets": new}
    _write_manifest(index_dir, manifest)
    _commit_append(index_dir, stats, old, new, n_new, params)
    return path, n_new, fallbacks


def _write_buckets_cluster(spark: SparkSession, batch_df, index_dir: str,
                           n_parts: int, n_new: int, id_base: int, base: int,
                           field_col: str | None
                           ) -> tuple[dict[int, int], dict[int, int]]:
    """The cluster path: bucket and number the batch with Spark, write
    its doc_map rows, then tokenize them with the build's own kernel
    (index/build.write_buckets).  Returns (offsets, counts) by part."""
    ranged, offsets, counts = bucketed_corpus(batch_df, n_parts, total=n_new)
    # doc_map is bucket-partitioned: appended rows MUST land in new
    # bucket=N/ directories (offset ids), not as root-level files that
    # partition discovery would drop; one file per bucket (ranged is
    # bucket-clustered), which write_buckets tokenizes
    doc_map_root = os.path.join(index_dir, "doc_map")
    ranged.withColumn("doc_id", F.col("doc_id") + F.lit(id_base)).withColumn(
        "bucket", F.col("bucket") + F.lit(base)
    ).write.mode("append").partitionBy("bucket").parquet(doc_map_root)
    write_buckets(spark, doc_map_root, [base + p for p in sorted(counts)],
                  os.path.join(index_dir, "postings"),
                  field_col=field_col)
    return offsets, counts


def incremental_append(spark: SparkSession, stream_dir: str, index_dir: str,
                       checkpoint_dir: str | None = None,
                       params: BM25Params | None = None,
                       auto_compact: bool = False,
                       compact_factor: int = 2) -> dict:
    """Fold all currently-available new transcript files into the index
    (Trigger.AvailableNow: drains the backlog then stops — batch-friendly
    streaming per the Structured Streaming guide).

    Returns ``{"batches", "rows", "driver_batches", "cluster_batches",
    "fallbacks"}``: micro-batches seen, rows appended, batches written
    by each path, and driver-path failures that the cluster path then
    wrote (a replayed or empty batch counts under neither path).

    ``auto_compact``: after draining, merge small append buckets back to
    full size once the bucket count exceeds ``compact_factor`` × the base
    build's count — long-lived streaming indexes otherwise accumulate one
    tiny bucket per micro-batch until task overhead dominates queries."""
    params = params or BM25Params()
    checkpoint_dir = os.path.abspath(
        checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint"))
    counts = {"batches": 0, "rows": 0, "driver_batches": 0,
              "cluster_batches": 0, "fallbacks": 0}

    def each(bdf, epoch: int) -> None:
        path, rows, fallbacks = _append_batch(
            spark, bdf, index_dir, params, txn=(checkpoint_dir, int(epoch)))
        counts["batches"] += 1
        counts["rows"] += rows
        counts["fallbacks"] += fallbacks
        if path in ("driver", "cluster"):
            counts[f"{path}_batches"] += 1

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(stream_dir)
    )
    q = (
        stream.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if auto_compact:
        with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
            manifest = json.load(f)
        base = int(manifest.get("num_buckets", 32))
        if len(manifest["buckets"]) > compact_factor * base:
            from anisearch_model_spark.index.compact import compact_index

            compact_index(spark, index_dir, params=params)
    return counts
