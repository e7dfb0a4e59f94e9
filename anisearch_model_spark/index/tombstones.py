"""Tombstone deletes for incremental indexes.

The reference sidesteps deletion by rebuilding the whole index every run
(``/root/reference/src/sbert.py:336-356``); a long-lived incremental
index needs a takedown/dedup-purge path that does not cost a rebuild.
This is the Lucene live-docs model re-expressed for the bucketed layout:

* ``delete_docs`` appends doc ids to an append-only
  ``<index_dir>/tombstones`` Parquet table — O(|delete|), no index I/O;
* both scorers EXCLUDE tombstoned docs at query time (a set lookup
  against a broadcast sorted array; corpus stats stay as-built until a
  purge, exactly like Lucene's deleted-docs-still-in-df behavior);
* ``purge_deleted`` (run standalone or by ``compact_index``) physically
  rewrites only the buckets whose doc-range contains a tombstone: their
  surviving doc_map rows go through the build's own kernel
  (index/compact.rewrite_buckets → index/build.write_buckets), so the
  rewritten blocks, positions included, are byte-identical to a fresh
  build of those rows; it re-derives dictionary/stats, then clears the
  tombstone table.  The rewrite lands under fresh bucket ids committed
  by one atomic manifest replace (snapshot swap, index/compact.py) —
  concurrent readers see the pre-purge or post-purge snapshot, never a
  half-rewritten bucket.

Scale shape: the tombstone set is bounded by deletes SINCE THE LAST
PURGE (it is cleared on purge), so the broadcast array and the
driver-side load stay small by construction; the purge job touches only
affected buckets.  Doc ids are never reassigned — bucket doc-RANGES in
the manifest are unchanged by a purge (ranges are id spans, not live
counts), so bucket pruning and as-built ordering survive deletes.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Iterable

import numpy as np
from pyspark.sql import SparkSession

TOMBSTONE_SCHEMA = "doc_id long"


def _tomb_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def delete_docs(spark: SparkSession, index_dir: str,
                doc_ids: Iterable[int]) -> int:
    """Mark docs deleted (append-only; idempotent under re-delivery).
    Queries exclude them immediately; space is reclaimed at the next
    ``purge_deleted`` / ``compact_index``."""
    ids = sorted({int(x) for x in doc_ids})
    if not ids:
        return 0
    spark.createDataFrame([(i,) for i in ids], TOMBSTONE_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(_tomb_dir(index_dir))
    return len(ids)


def delete_conversations(spark: SparkSession, index_dir: str,
                         conv_ids: Iterable[str]) -> int:
    """Takedown by the user-facing key: tombstone every turn (doc) of the
    given conversations.  The doc_map lookup pushes a ``conv_id IN``
    filter to the Parquet scan; only the matching doc ids (≤ turns per
    conversation × |conv_ids|) reach the driver."""
    from pyspark.sql import functions as F

    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA

    ids = sorted({str(c) for c in conv_ids})
    if not ids:
        return 0
    rows = (
        spark.read.schema(BUCKETED_SCHEMA)
        .parquet(os.path.join(index_dir, "doc_map"))
        .filter(F.col("conv_id").isin(ids))
        .select("doc_id")
        .collect()
    )
    return delete_docs(spark, index_dir, (r["doc_id"] for r in rows))


def load_tombstones(index_dir: str) -> np.ndarray:
    """Sorted unique tombstoned doc ids (driver-side pyarrow read — the
    table is bounded by deletes since the last purge, and the scorers
    need it as a broadcast numpy array anyway)."""
    files = sorted(glob.glob(os.path.join(_tomb_dir(index_dir), "*.parquet")))
    if not files:
        return np.empty(0, dtype=np.int64)
    import pyarrow.parquet as pq

    parts = [pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
             for f in files]
    return np.unique(np.concatenate(parts).astype(np.int64))


def clear_tombstones(index_dir: str) -> None:
    shutil.rmtree(_tomb_dir(index_dir), ignore_errors=True)


def purge_deleted(spark: SparkSession, index_dir: str,
                  params=None) -> dict:
    """Physically remove tombstoned docs from doc_map and postings.

    Rewrites ONLY affected buckets, via the SNAPSHOT swap
    (index/compact.py): each affected bucket's surviving content is
    written under a FRESH bucket id (invisible — readers scan exactly the
    manifest-listed directories), then ONE atomic manifest replace remaps
    every affected id to its rewritten successor (same doc-id span — doc
    ids are never renumbered, so range pruning is unchanged), then the
    superseded directories are deleted.  A crash before the commit rolls
    back (recover_compaction deletes the unlisted staged dirs) and the
    tombstone table — cleared LAST, the purge's own commit point — keeps
    the scorers filtering until a re-run finishes.  A crash after the
    commit re-runs as a no-op rewrite of already-clean buckets
    (idempotent).  Returns {purged_docs, buckets_rewritten}.
    """
    import json

    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.index.compact import (
        recover_compaction, rewrite_buckets)
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA
    from anisearch_model_spark.index.store import (
        finalize_metadata, load_stats)

    params = params or BM25Params()
    stats = load_stats(index_dir)  # refuse an older format before any write
    recover_compaction(index_dir)
    dead = load_tombstones(index_dir)
    if len(dead) == 0:
        return {"purged_docs": 0, "buckets_rewritten": 0}
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    affected = sorted(
        int(b)
        for b, (lo, n) in manifest["buckets"].items()
        # any tombstone inside this bucket's id span [lo, lo+n)?
        if np.searchsorted(dead, int(lo) + int(n), side="left")
        > np.searchsorted(dead, int(lo), side="left")
    )
    if not affected:
        clear_tombstones(index_dir)  # ids outside every bucket: no-ops
        return {"purged_docs": 0, "buckets_rewritten": 0}

    dead_df = spark.createDataFrame([(int(i),) for i in dead],
                                    TOMBSTONE_SCHEMA)
    rewrite_buckets(spark, index_dir, manifest, affected,
                    stats.get("field_col"), dead=dead_df)

    # true live-doc count (manifest ranges are id SPANS and stay as-is)
    n_docs = (
        spark.read.schema(BUCKETED_SCHEMA)
        .parquet(os.path.join(index_dir, "doc_map")).count()
    )
    purged = int(stats["n_docs"]) - int(n_docs)
    finalize_metadata(
        spark, index_dir, int(n_docs), params,
        num_buckets=len(manifest["buckets"]),
        field_col=stats.get("field_col"),
    )
    clear_tombstones(index_dir)  # LAST: the purge's commit point
    return {"purged_docs": purged, "buckets_rewritten": len(affected)}
