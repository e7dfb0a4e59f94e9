"""Index compaction for long-lived incremental indexes.

Every streaming ``append_batch`` lands its docs in NEW buckets
(streaming/incremental.py) — after thousands of micro-batches the index
holds thousands of tiny bucket partitions: per-bucket ``applyInPandas``
groups shrink, task-scheduling overhead dominates, and the block-max
per-bucket top-k merge widens.  The reference never faces this (it
rebuilds from scratch per run, ``/root/reference/src/sbert.py:336-356``);
a streaming deployment hits it first.

Compaction is CHEAP by the build's own invariant: buckets are disjoint
sorted doc-id ranges (index/build.py docstring — a term's global posting
list is the bucket-ascending concatenation of its per-bucket blocks), so
merging adjacent buckets is pure concatenation — no re-tokenize, no
re-encode, no posting shuffle beyond moving the merged partitions.  Only
the ``bucket`` label and the per-(term, field) ``block_id`` numbering
change; queries return byte-identical results because neither scorer
depends on bucket boundaries (exhaustive ignores them; block-max does a
per-bucket top-k then a global merge, which is bucket-partition-
independent for a total order).  A block row carries its own position
gaps (index/build.BLOCK_SCHEMA), so phrase search is carried along too.

SNAPSHOT ISOLATION (the Iceberg ``rewrite_data_files`` pattern on plain
Parquet): each merged group is written under a FRESH bucket id that no
manifest lists — invisible to every reader, because readers
(query/engine.IndexStore) scan exactly the bucket directories the
committed manifest names.  The atomic manifest replace is the commit
point: it simultaneously unlists the source buckets and lists the merged
one, so a concurrent reader sees either the old snapshot or the new one,
never a half-swap.  Superseded directories are deleted only AFTER the
commit.  No live data is ever renamed — on an object store (where rename
is copy) the only data motion is writing the merged buckets once.
Readers that planned against the old snapshot and execute after its
directories are deleted can fail (Iceberg's snapshot-expiry caveat); a
retry re-plans against the new snapshot and, compaction being
content-preserving, returns identical results.

Plan: greedily group ADJACENT (doc-range-ascending) buckets until each
group holds ≥ ``target_docs``; single-bucket groups are left untouched
(zero I/O for already-full buckets — steady state rewrites only the tail
of small append buckets).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anisearch_model_spark.config import BM25Params

# each bucket-partitioned table → the staging dir a snapshot swap writes
# it to; no manifest ever lists a bucket there, so recovery clears them
_STAGING = {
    "postings": "_compact_tmp_postings",
    "doc_map": "_compact_tmp_docmap",
}


def plan_groups(buckets: dict[str, list[int]], target_docs: int) -> list[list[int]]:
    """Group bucket ids (adjacent in doc-range order) so every group holds
    ≥ target_docs where possible.  Pure function — unit-testable."""
    order = sorted(buckets, key=lambda b: buckets[b][0])
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_docs = 0
    for b in order:
        cur.append(int(b))
        cur_docs += int(buckets[b][1])
        if cur_docs >= target_docs:
            groups.append(cur)
            cur, cur_docs = [], 0
    if cur:
        # the undersized tail becomes its OWN group: its buckets still
        # merge into one (slivers removed) without rewriting the adjacent
        # full bucket; repeated append→compact cycles converge to at most
        # one undersized bucket at the end of the range
        groups.append(cur)
    return groups


def _stage(index_dir: str, frames: dict[str, DataFrame]) -> None:
    """Phase 1 of a snapshot swap: write each table's rows (under fresh
    bucket ids) partitioned into its staging dir.  Nothing live is
    touched — a crash here loses nothing."""
    for table, df in frames.items():
        tmp_dir = os.path.join(index_dir, _STAGING[table])
        shutil.rmtree(tmp_dir, ignore_errors=True)
        parts = ["bucket"] if table == "doc_map" else ["bucket", "field"]
        df.write.mode("overwrite").partitionBy(*parts).parquet(tmp_dir)


def _adopt_staged(table_dir: str, tmp_dir: str) -> None:
    """Phase 2: move the staged ``bucket=<fresh id>`` dirs into the live
    table dir.  The fresh ids are in NO manifest yet, so manifest-driven
    readers cannot see them — adoption is invisible until the commit."""
    os.makedirs(table_dir, exist_ok=True)
    for entry in os.listdir(tmp_dir):
        if entry.startswith("bucket="):
            dst = os.path.join(table_dir, entry)
            shutil.rmtree(dst, ignore_errors=True)  # crashed prior attempt
            os.rename(os.path.join(tmp_dir, entry), dst)
    shutil.rmtree(tmp_dir, ignore_errors=True)


def _drop_buckets(table_dir: str, ids: list[int]) -> None:
    """Phase 4 (post-commit): delete the superseded source directories —
    the manifest no longer lists them, so no new reader can reach them."""
    for b in ids:
        shutil.rmtree(os.path.join(table_dir, f"bucket={b}"),
                      ignore_errors=True)


def _write_manifest(index_dir: str, manifest: dict) -> None:
    """Phase 3: atomic manifest replace (tmp + rename) — readers never see
    a torn file, and the rename IS the snapshot commit point."""
    path = os.path.join(index_dir, "manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def _commit_swap(index_dir: str, manifest: dict, old_ids: list[int]) -> None:
    """Phases 2-4 of a snapshot swap: adopt every staged table, commit
    ``manifest``, then drop ``old_ids`` from every table."""
    for table, tmp in _STAGING.items():
        if os.path.isdir(os.path.join(index_dir, tmp)):
            _adopt_staged(os.path.join(index_dir, table),
                          os.path.join(index_dir, tmp))
    _write_manifest(index_dir, manifest)
    for table in _STAGING:
        _drop_buckets(os.path.join(index_dir, table), old_ids)


def rewrite_buckets(spark: SparkSession, index_dir: str, manifest: dict,
                    affected: list[int], field_col: str | None,
                    dead: DataFrame | None = None) -> None:
    """Snapshot-swap rewrite of the ``affected`` buckets through the
    build's own kernel (purge): stage their doc_map rows, minus the
    ``dead`` doc ids, under fresh bucket ids, tokenize them into staged
    blocks (index/build.write_buckets), then
    adopt, commit ``manifest`` with every affected id remapped to its
    successor (same doc-id span — ids are never renumbered, so bucket
    range pruning stays valid) and drop the superseded directories.
    An affected bucket with no surviving rows leaves the manifest: it
    has no doc_map dir, which ``IndexStore`` refuses for a listed
    bucket with a non-zero span.
    The rewritten blocks are byte-identical to a fresh build of the
    surviving rows.  Sources stay live until the commit."""
    from anisearch_model_spark.index.build import write_buckets
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA

    next_id = max(int(b) for b in manifest["buckets"]) + 1
    id_map = {old: next_id + i for i, old in enumerate(affected)}
    bmap = F.create_map(*[F.lit(x) for o, n in id_map.items() for x in (o, n)])
    doc_map = (
        spark.read.schema(BUCKETED_SCHEMA)
        .parquet(os.path.join(index_dir, "doc_map"))
        .filter(F.col("bucket").isin(affected))
    )
    if dead is not None:
        doc_map = doc_map.join(F.broadcast(dead), "doc_id", "left_anti")
    # one file per rewritten bucket, as write_buckets reads them
    doc_map = doc_map.withColumn(
        "bucket", bmap[F.col("bucket")].cast("int")).repartition("bucket")
    _stage(index_dir, {"doc_map": doc_map})
    write_buckets(spark, os.path.join(index_dir, _STAGING["doc_map"]),
                  sorted(id_map.values()),
                  os.path.join(index_dir, _STAGING["postings"]),
                  field_col=field_col)
    staged = os.path.join(index_dir, _STAGING["doc_map"])
    for old, new in id_map.items():
        span = manifest["buckets"].pop(str(old))
        if os.path.isdir(os.path.join(staged, f"bucket={new}")):
            manifest["buckets"][str(new)] = span
    _commit_swap(index_dir, manifest, affected)


def _concat_blocks(df: DataFrame, new_id: int) -> DataFrame:
    """Blocks of adjacent buckets → one bucket: the
    blocks are disjoint sorted doc ranges, so concatenation in doc order
    only renumbers ``block_id`` per (term, field) by ``first_doc_id`` —
    no decode."""
    w = Window.partitionBy("term", "field").orderBy("first_doc_id")
    return (
        df.withColumn("block_id", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("bucket", F.lit(int(new_id)).cast("int"))
    )


def recover_compaction(index_dir: str) -> str | None:
    """Heal an interrupted compaction/purge.  Returns "healed" or None.

    The manifest is the sole authority: a bucket directory whose id it
    does not list is either a staged-but-uncommitted snapshot (crash
    before the commit → rolling BACK) or a superseded pre-snapshot
    original (crash after the commit → rolling FORWARD) — both resolve
    by deleting the unreferenced directory, because the manifest-listed
    copy of every doc range is intact by construction (sources are
    unlisted and staged buckets listed in the SAME atomic replace).

    Legacy compat: pre-snapshot builds used a rename-aside swap that
    could leave ``bucket=N.old`` dirs; if the live ``bucket=N`` is
    missing and N is still listed, the aside copy is the last one —
    restore it; otherwise drop it.
    """
    mpath = os.path.join(index_dir, "manifest.json")
    if not os.path.exists(mpath):
        return None
    with open(mpath, encoding="utf-8") as f:
        manifest = json.load(f)
    live = set(manifest.get("buckets", {}))
    healed = None
    for table in _STAGING:
        table_dir = os.path.join(index_dir, table)
        if not os.path.isdir(table_dir):
            continue
        for entry in os.listdir(table_dir):
            if not entry.startswith("bucket="):
                continue
            val = entry[len("bucket="):]
            path = os.path.join(table_dir, entry)
            if entry.endswith(".old"):  # legacy rename-aside remnant
                bid = val[: -len(".old")]
                live_dir = os.path.join(table_dir, f"bucket={bid}")
                if bid in live and not os.path.isdir(live_dir):
                    os.rename(path, live_dir)  # last copy → restore
                else:
                    shutil.rmtree(path, ignore_errors=True)
                healed = "healed"
            elif val not in live:
                shutil.rmtree(path, ignore_errors=True)
                healed = "healed"
    # tmp dirs are never referenced — safe to clear once the above ran
    for t in _STAGING.values():
        shutil.rmtree(os.path.join(index_dir, t), ignore_errors=True)
    return healed


def compact_index(spark: SparkSession, index_dir: str,
                  target_docs: int | None = None,
                  params: BM25Params | None = None) -> dict:
    """Merge small adjacent buckets so the index holds full-size buckets.

    ``target_docs``: minimum docs per merged bucket (default: the mean
    bucket size a fresh ``build_index`` of the current corpus would pick,
    n_docs / num_buckets of the base build, floored at 1).
    Returns {buckets_before, buckets_after, groups_rewritten}.
    """
    from anisearch_model_spark.index.build import BLOCK_SCHEMA
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA
    from anisearch_model_spark.index.store import (
        dictionary_deltas, finalize_metadata, load_stats)

    params = params or BM25Params()
    load_stats(index_dir)  # refuse an older format before any write
    healed = recover_compaction(index_dir)  # heal an interrupted prior run
    # physically drop tombstoned docs first: merged buckets then never
    # carry dead postings forward (tombstones.py owns the rewrite)
    from anisearch_model_spark.index.tombstones import purge_deleted

    purge = purge_deleted(spark, index_dir, params=params)
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    stats = load_stats(index_dir)
    buckets = manifest["buckets"]
    # manifest counts are doc-id SPAN widths (a purge removes docs without
    # renumbering ids) — live doc count comes from stats, which
    # purge_deleted keeps current
    n_docs = int(stats["n_docs"])
    span_total = sum(int(c) for _o, c in buckets.values())
    if target_docs is None:
        # the BASE build's bucket count (manifest — appends never touch it;
        # stats.num_buckets tracks the current fragmented count and would
        # make the target shrink as fragmentation grows)
        base_buckets = int(manifest.get("num_buckets") or stats.get("num_buckets", 32))
        target_docs = max(span_total // max(base_buckets, 1), 1)

    groups = plan_groups(buckets, int(target_docs))
    rewrite = [g for g in groups if len(g) > 1]
    before = len(buckets)
    next_id = max((int(b) for b in buckets), default=-1) + 1
    merged_ids: list[int] = []

    def rows_of(table: str, schema: str, group: list[int]) -> DataFrame:
        return (
            spark.read.schema(schema).parquet(os.path.join(index_dir, table))
            .filter(F.col("bucket").isin(group))
        )

    for group in rewrite:
        new_id = next_id
        next_id += 1
        merged_ids.append(new_id)
        span_lo = min(int(buckets[str(b)][0]) for b in group)
        span_n = sum(int(buckets[str(b)][1]) for b in group)
        frames = {
            "postings": _concat_blocks(
                rows_of("postings", BLOCK_SCHEMA, group), new_id),
            "doc_map": rows_of("doc_map", BUCKETED_SCHEMA, group).withColumn(
                "bucket", F.lit(int(new_id)).cast("int")),
        }
        # phase 1: stage every table under the fresh id — sources live
        _stage(index_dir, frames)
        # phases 2-4: adopt (unlisted id → invisible), COMMIT — one atomic
        # manifest replace unlists the group and lists the merged bucket;
        # crash before it rolls back (recover deletes the unlisted merged
        # dirs), crash after rolls forward (recover deletes the unlisted
        # group dirs) — then drop the superseded source directories
        for b in group:
            del buckets[str(b)]
        buckets[str(new_id)] = [span_lo, span_n]
        manifest["buckets"] = buckets
        _commit_swap(index_dir, manifest, group)

    if rewrite:
        # mark merged buckets done so a later resumable build skips them
        from anisearch_model_spark.index.store import CHECKPOINT_SCHEMA

        rows = [(int(b), "done", 0, 0, 0, 1.0, "compaction", time.time())
                for b in merged_ids]
        spark.createDataFrame(rows, CHECKPOINT_SCHEMA).write.mode(
            "append").parquet(os.path.join(index_dir, "checkpoints"))
    deltas = dictionary_deltas(index_dir)
    if rewrite or healed or deltas:
        # merges are pure concatenation — the dictionary provably cannot
        # change, so skip its rewrite (no postings pass, and concurrent
        # readers keep an untouched dictionary dir).  After a HEAL the
        # interrupted run may have been a purge, whose dictionary/stats
        # refresh might not have landed — re-derive fully then; and
        # re-derive when appends left delta files, so a compacted index
        # has none.
        finalize_metadata(
            spark, index_dir, n_docs, params, num_buckets=len(buckets),
            field_col=stats.get("field_col"),
            rewrite_dictionary=bool(healed or deltas),
        )
    return {
        "buckets_before": before,
        "buckets_after": len(buckets),
        "groups_rewritten": len(rewrite),
        "purged_docs": purge["purged_docs"],
    }

