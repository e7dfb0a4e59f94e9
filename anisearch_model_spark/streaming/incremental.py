"""Incremental index append via Structured Streaming (Trigger.AvailableNow).

The reference's index is rebuilt from scratch per run (``src/sbert.py``);
here newly-arrived transcript files are folded into an EXISTING index
without touching completed buckets:

  readStream over the transcript directory → foreachBatch:
    1. assign doc_ids CONTIGUOUSLY AFTER the current corpus (stable
       ordering within the batch, offset = n_docs so far — existing
       doc_ids never change, so already-built posting blocks stay valid);
    2. new docs land in NEW buckets (ids continue after the existing
       manifest): their doc_map rows are written first, then the build's
       own kernel (index/build.write_buckets) tokenizes them once into
       blocks that carry their positions — appended buckets never
       overlap existing partitions, and phrase search sees the new docs
       at the same manifest commit as BM25;
    3. dictionary + stats are re-derived from block metadata
       (finalize_metadata), so they equal a from-scratch build exactly.

The streaming checkpointLocation makes completed batches replay-safe;
within a batch every write is idempotent under replay:

  * postings: dynamic partition overwrite of that batch's
    bucket ids — replay recomputes the SAME ids (the manifest, the commit
    point, only advances after success) and overwrites in place;
  * doc_map: a REPAIR pass at batch start deletes bucket directories
    beyond the manifest's max bucket — exactly the orphans a mid-batch
    crash leaves (append mode alone would duplicate them on replay).
    On a table format with snapshots (Iceberg) this is a rollback; on
    plain parquet it is a directory delete.
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
from anisearch_model_spark.index.store import finalize_metadata


def _repair_orphan_doc_map(index_dir: str, max_bucket: int) -> int:
    """Delete doc_map bucket dirs beyond the manifest's max bucket — the
    orphans of a crash between the doc_map append and the manifest commit.
    Idempotent; returns the number of directories removed."""
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
    return removed


def _append_batch(spark: SparkSession, batch_df, index_dir: str,
                  params: BM25Params) -> None:
    with open(os.path.join(index_dir, "stats.json"), encoding="utf-8") as f:
        stats = json.load(f)
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    n_existing = int(stats["n_docs"])
    buckets = manifest["buckets"]
    max_bucket = max(int(b) for b in buckets)
    _repair_orphan_doc_map(index_dir, max_bucket)
    n_new = batch_df.count()
    if n_new == 0:
        return
    # span fallback: appending onto a tiny/empty base must not degenerate
    # into one-doc buckets (an empty base made span=1 → n_new single-row
    # buckets → n_new tasks per stage)
    avg_span = max(n_existing // max(len(buckets), 1), n_new // 32, 1)
    n_parts = max(1, math.ceil(n_new / avg_span))

    ranged, offsets, counts = bucketed_corpus(batch_df, n_parts)
    base = max_bucket + 1
    # doc_map is bucket-partitioned: appended rows MUST land in new
    # bucket=N/ directories (offset ids), not as root-level files that
    # partition discovery would drop; one file per bucket (ranged is
    # bucket-clustered), which write_buckets tokenizes
    doc_map_root = os.path.join(index_dir, "doc_map")
    ranged.withColumn("doc_id", F.col("doc_id") + F.lit(n_existing)).withColumn(
        "bucket", F.col("bucket") + F.lit(base)
    ).write.mode("append").partitionBy("bucket").parquet(doc_map_root)

    field_col = stats.get("field_col")
    codec = stats.get("codec", "varint")
    write_buckets(spark, doc_map_root, [base + p for p in sorted(counts)],
                  os.path.join(index_dir, "postings"),
                  field_col=field_col, codec=codec)

    # commit: extend manifest (ATOMIC replace — concurrent readers scan
    # exactly the manifest-listed buckets, so the new docs become visible
    # all at once here), re-derive dictionary/stats from block metadata
    from anisearch_model_spark.index.compact import _write_manifest

    for pid in sorted(counts):
        buckets[str(base + pid)] = [n_existing + offsets[pid], counts[pid]]
    manifest["buckets"] = buckets
    _write_manifest(index_dir, manifest)
    finalize_metadata(
        spark, index_dir, n_existing + n_new, params,
        num_buckets=len(buckets), field_col=field_col, codec=codec,
    )


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
