"""Incremental index append via Structured Streaming (Trigger.AvailableNow).

The reference's index is rebuilt from scratch per run (``src/sbert.py``);
here newly-arrived transcript files are folded into an EXISTING index
without touching completed buckets:

  readStream over the transcript directory → foreachBatch:
    1. assign doc_ids CONTIGUOUSLY AFTER the manifest's id-span end
       (stable ordering within the batch; the span end, not the live
       doc count, because a purge lowers the count without renumbering
       — existing doc_ids never change, so already-built posting blocks
       stay valid);
    2. new docs land in NEW buckets (ids continue after the existing
       manifest): their doc_map rows are written first, then the build's
       own kernel (index/build.write_buckets) tokenizes them once into
       blocks that carry their positions — appended buckets never
       overlap existing partitions, and phrase search sees the new docs
       at the same manifest commit as BM25;
    3. commit in O(batch), driver-side, 0 Spark jobs (``_commit_append``):
       after the manifest, one dictionary DELTA file of the new blocks'
       (term, field) → (df, cf), then stats.json by exact integer
       arithmetic on the old totals.  Readers sum df/cf over every
       dictionary row, so the delta is all a lookup needs; the next full
       re-derive (purge, compact, merge, build) folds it back in.  The
       result equals a ``finalize_metadata`` re-derive exactly.

The streaming checkpointLocation makes completed batches replay-safe;
within a batch every write is idempotent under replay:

  * postings: dynamic partition overwrite of that batch's
    bucket ids — replay recomputes the SAME ids (the manifest, the commit
    point, only advances after success) and overwrites in place;
  * dictionary delta: named after the batch's first bucket id, so a
    replay overwrites its own file;
  * doc_map: a REPAIR pass at batch start deletes bucket directories
    (and delta files) beyond the manifest's max bucket — exactly the
    orphans a mid-batch crash leaves (append mode alone would duplicate
    them on replay).  On a table format with snapshots (Iceberg) this is
    a rollback; on plain parquet it is a directory delete.
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
from anisearch_model_spark.index.build import write_buckets
from anisearch_model_spark.index.docmap import bucketed_corpus
from anisearch_model_spark.index.store import (
    DELTA_PREFIX, dictionary_deltas, token_total, write_stats)


def _repair_orphan_doc_map(index_dir: str, max_bucket: int) -> int:
    """Delete doc_map bucket dirs and dictionary delta files beyond the
    manifest's max bucket — the orphans of a crash between the doc_map
    append and the commit.  Idempotent; returns the number of
    directories removed."""
    doc_map_dir = os.path.join(index_dir, "doc_map")
    removed = 0
    for entry in os.listdir(doc_map_dir):
        if entry.startswith("bucket="):
            try:
                b = int(entry.split("=", 1)[1])
            except ValueError:
                continue
            if b > max_bucket:
                shutil.rmtree(os.path.join(doc_map_dir, entry))
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
        field_docs, field_tokens, params, len(old) + len(new),
        field_col, stats.get("codec", "varint"))


def _append_batch(spark: SparkSession, batch_df, index_dir: str,
                  params: BM25Params) -> None:
    with open(os.path.join(index_dir, "stats.json"), encoding="utf-8") as f:
        stats = json.load(f)
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    n_existing = int(stats["n_docs"])
    buckets = manifest["buckets"]
    max_bucket = max((int(b) for b in buckets), default=-1)
    _repair_orphan_doc_map(index_dir, max_bucket)
    n_new = batch_df.count()
    if n_new == 0:
        return
    # new ids start after the id SPAN end (as merge_indexes offsets):
    # a purge lowers n_docs but never renumbers surviving ids
    id_base = max((int(lo) + int(n) for lo, n in buckets.values()), default=0)
    # span fallback: appending onto a tiny/empty base must not degenerate
    # into one-doc buckets (an empty base made span=1 → n_new single-row
    # buckets → n_new tasks per stage)
    avg_span = max(n_existing // max(len(buckets), 1), n_new // 32, 1)
    n_parts = max(1, math.ceil(n_new / avg_span))

    ranged, offsets, counts = bucketed_corpus(batch_df, n_parts, total=n_new)
    base = max_bucket + 1
    # doc_map is bucket-partitioned: appended rows MUST land in new
    # bucket=N/ directories (offset ids), not as root-level files that
    # partition discovery would drop; one file per bucket (ranged is
    # bucket-clustered), which write_buckets tokenizes
    doc_map_root = os.path.join(index_dir, "doc_map")
    ranged.withColumn("doc_id", F.col("doc_id") + F.lit(id_base)).withColumn(
        "bucket", F.col("bucket") + F.lit(base)
    ).write.mode("append").partitionBy("bucket").parquet(doc_map_root)

    new = [base + p for p in sorted(counts)]
    write_buckets(spark, doc_map_root, new,
                  os.path.join(index_dir, "postings"),
                  field_col=stats.get("field_col"),
                  codec=stats.get("codec", "varint"))

    # commit: extend manifest (ATOMIC replace — concurrent readers scan
    # exactly the manifest-listed buckets, so the new docs become visible
    # all at once here), then the dictionary delta and stats
    from anisearch_model_spark.index.compact import _write_manifest

    old = sorted(int(b) for b in buckets)
    for pid in sorted(counts):
        buckets[str(base + pid)] = [id_base + offsets[pid], counts[pid]]
    manifest["buckets"] = buckets
    _write_manifest(index_dir, manifest)
    _commit_append(index_dir, stats, old, new, n_new, params)


def incremental_append(spark: SparkSession, stream_dir: str, index_dir: str,
                       checkpoint_dir: str | None = None,
                       params: BM25Params | None = None,
                       auto_compact: bool = False,
                       compact_factor: int = 2) -> None:
    """Fold all currently-available new transcript files into the index
    (Trigger.AvailableNow: drains the backlog then stops — batch-friendly
    streaming per the Structured Streaming guide).

    ``auto_compact``: after draining, merge small append buckets back to
    full size once the bucket count exceeds ``compact_factor`` × the base
    build's count — long-lived streaming indexes otherwise accumulate one
    tiny bucket per micro-batch until task overhead dominates queries."""
    params = params or BM25Params()
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint")
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(stream_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _eid: _append_batch(spark, bdf, index_dir, params)
        )
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
