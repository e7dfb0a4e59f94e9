"""Index merging — Lucene ``IndexWriter.addIndexes`` analog.

Multi-source pipelines at 100 TB build per-source indexes in parallel
(separate clusters, separate schedules) and need ONE queryable index at
the end.  Rebuilding from the union corpus re-tokenizes everything;
merging re-bases metadata instead:

  * blocks store doc ids as ``first_doc_id`` + varint DELTAS —
    shifting a whole index's doc-id space is adding one offset to two
    int64 columns per block; the compressed delta and position buffers
    pass through BYTE-IDENTICAL, never decoded, so phrase search works on
    the merged index with no extra pass;
  * the doc_map shifts its ``doc_id`` column by the same offset;
  * buckets renumber sequentially and the manifest's doc ranges shift,
    so bucket-range pruning (``IndexStore.buckets_for``) keeps working;
  * dictionary + stats are re-derived from the merged postings
    (``finalize_metadata`` — df/cf must re-aggregate across sources;
    this is the one full postings pass, and it is column-pruned to the
    metadata columns);
  * tombstones carry over, shifted.

The result is contract-identical to a fresh build over the concatenated
corpus whenever source doc ordering is compatible (tested via the
disjoint-conv-prefix corpus in tests/test_merge.py).

Reference anchor: the reference rebuilds its matrices from scratch on
every corpus change (``/root/reference/src/sbert.py:336-356``); merging
is the engine's sub-linear alternative.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params


def merge_indexes(spark: SparkSession, src_dirs: list[str], out_dir: str,
                  params: BM25Params | None = None) -> dict:
    """Merge ``src_dirs`` (≥ 2 built indexes) into a new index at
    ``out_dir``.  Every source must be in the current format
    (``load_stats``) and share tokenizer_version and field_col.
    Returns merge metrics."""
    from anisearch_model_spark.index.build import BLOCK_SCHEMA
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA
    from anisearch_model_spark.index.store import (
        finalize_metadata, load_stats)
    from anisearch_model_spark.index.tombstones import (
        delete_docs, load_tombstones)

    if len(src_dirs) < 2:
        raise ValueError("merge needs at least two source indexes")
    if os.path.exists(os.path.join(out_dir, "manifest.json")):
        raise ValueError(f"output {out_dir} already holds an index")
    t0 = time.time()
    stats_all, manifests = [], []
    for d in src_dirs:
        stats_all.append(load_stats(d))
        with open(os.path.join(d, "manifest.json"), encoding="utf-8") as f:
            manifests.append(json.load(f))
    for key in ("tokenizer_version", "field_col"):
        vals = {json.dumps(s.get(key)) for s in stats_all}
        if len(vals) > 1:
            raise ValueError(f"sources disagree on {key}: {sorted(vals)} — "
                             f"merging would corrupt the contract")
    field_col = stats_all[0].get("field_col")
    params = params or BM25Params()

    # doc-id offsets: source i shifts by the ID SPAN of everything before
    # it, NOT the live doc count — after a purge stats.n_docs shrinks but
    # doc ids are never renumbered (manifest ranges stay id spans,
    # index/tombstones.py::purge_deleted), so offsetting by n_docs would
    # collide a purged source's survivors with the next source's ids
    bases, span_end, total = [], 0, 0
    for s, m in zip(stats_all, manifests):
        bases.append(span_end)
        span_end += max(
            (int(off) + int(cnt) for off, cnt in m["buckets"].values()),
            default=0,
        )
        total += int(s["n_docs"])  # live docs (avgdl / n_docs stats)

    os.makedirs(out_dir, exist_ok=True)
    merged_buckets: dict[str, list[int]] = {}
    next_bucket = 0
    for d, m, base in zip(src_dirs, manifests, bases):
        old_ids = sorted(int(b) for b in m["buckets"])
        remap = {old: next_bucket + i for i, old in enumerate(old_ids)}
        next_bucket += len(old_ids)
        for old in old_ids:
            off, cnt = m["buckets"][str(old)]
            merged_buckets[str(remap[old])] = [int(off) + base, int(cnt)]

        def _snapshot(table: str, schema: str):
            """Read ONLY manifest-listed bucket dirs (the IndexStore
            snapshot discipline): a plain recursive read would also pick
            up staged/superseded directories left by an interrupted
            compaction or purge and merge them as phantom duplicates."""
            root = os.path.join(d, table)
            paths = [os.path.join(root, f"bucket={b}") for b in old_ids
                     if os.path.isdir(os.path.join(root, f"bucket={b}"))]
            return (
                spark.read.schema(schema).option("basePath", root)
                .parquet(*paths)
            )

        bmap = F.create_map(*[F.lit(x) for o, n in sorted(remap.items())
                              for x in (o, n)])
        doc_map = (
            _snapshot("doc_map", BUCKETED_SCHEMA)
            .withColumn("doc_id", F.col("doc_id") + base)
            .withColumn("bucket", bmap[F.col("bucket")])
        )
        doc_map.write.mode("append").partitionBy("bucket").parquet(
            os.path.join(out_dir, "doc_map"))
        blocks = (
            _snapshot("postings", BLOCK_SCHEMA)
            .withColumn("first_doc_id", F.col("first_doc_id") + base)
            .withColumn("last_doc_id", F.col("last_doc_id") + base)
            .withColumn("bucket", bmap[F.col("bucket")])
        )
        blocks.write.mode("append").partitionBy("bucket", "field").parquet(
            os.path.join(out_dir, "postings"))

    manifest = {
        "buckets": merged_buckets,
        "num_buckets": len(merged_buckets),
        "tokenizer_version": stats_all[0]["tokenizer_version"],
    }
    mpath = os.path.join(out_dir, "manifest.json")
    with open(mpath + ".tmp", "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(mpath + ".tmp", mpath)

    # dictionary + stats re-derive (df/cf re-aggregate across sources);
    # writes stats.json LAST — the commit point an IndexStore opens on
    finalize_metadata(spark, out_dir, total, params,
                      num_buckets=len(merged_buckets),
                      field_col=field_col)
    carried = 0
    for d, base in zip(src_dirs, bases):
        tomb = load_tombstones(d)
        if len(tomb):
            carried += delete_docs(
                spark, out_dir, [int(t) + base for t in tomb])
    return {
        "sources": len(src_dirs),
        "n_docs": total,
        "n_buckets": len(merged_buckets),
        "tombstones_carried": carried,
        "merge_sec": round(time.time() - t0, 2),
    }
