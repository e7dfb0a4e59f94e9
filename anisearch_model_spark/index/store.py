"""Index persistence + resumable build orchestration.

Layout of an index directory (Parquet fallback for Iceberg — no Iceberg
runtime jar is available offline in this sandbox; the write paths are
structured so ``writeTo(...).append()`` is a config-only swap):

    <index_dir>/doc_map/            doc_id, conv_id, turn_idx, role, text, tool, ts
    <index_dir>/postings/bucket=N/field=F/  blocks for doc-range bucket N,
                                    field F ('*' when unqualified); each
                                    row carries its position gaps too
                                    (build.BLOCK_SCHEMA, index/positions.py)
    <index_dir>/dictionary/         term, field, df, cf  (from block metadata):
                                    the base files of the last full
                                    re-derive plus one delta-b<N>.parquet
                                    per append since (N = the append's
                                    first bucket); a (term, field)'s
                                    df/cf is the SUM over every row here
    <index_dir>/stats.json          n_docs, avgdl, tokenizer_version, k1, b,
                                    field_col + per-field {n_docs, avgdl}
    <index_dir>/manifest.json       bucket → [first_doc_id, count) ranges
    <index_dir>/checkpoints/        one row per completed bucket (parquet)

Build shape (the scale story):
    1. deterministic range-bucketing by (conv_id, turn_idx) into
       num_buckets doc-range buckets, doc_ids by bucket offsets
       (zipWithIndex semantics — no global sort; deterministic across
       cluster sizes AND runs, see docmap.py);
    2. ONE fused mapInPandas pass per partition (build.write_buckets):
       tokenize + encode blocks with their positions; bucket ≡ partition;
       ZERO shuffle of posting data, only compressed blocks cross the
       Python/JVM boundary;
    3. dictionary + corpus stats derived from block metadata (df = Σ n,
       cf = Σ tf per term; avgdl = Σ cf / N) — the corpus is tokenized
       exactly once per build.  An append commits a dictionary delta
       instead (streaming/incremental.py); every full re-derive
       (build, purge, merge, and compact when deltas exist) overwrites
       dictionary/ and so folds the deltas back in.

Resumability (north rule): each doc-range bucket is the unit of restart.
``build_index`` consults the checkpoint table, plans ONLY missing buckets
(a ``bucket IN missing`` filter over the cached bucketed corpus), appends
their posting partitions, and records per-bucket lineage + metrics
(postings emitted, bytes compressed, skew ratio).  The reference has no
failure story at all — a crash in ``src/sbert.py:336-356`` loses the whole
column; its per-column ``.npy`` granularity maps to our per-bucket
checkpoint granularity (SURVEY.md §3.3).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params, TOKENIZER_VERSION
from anisearch_model_spark.index.build import (
    DICTIONARY_SCHEMA,
    POSTINGS_SCHEMA,
    dictionary_from_postings,
    write_buckets,
)
from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA, bucketed_corpus

# bump when the on-disk block layout changes incompatibly
INDEX_FORMAT_VERSION = 3

CHECKPOINT_SCHEMA = (
    "bucket int, status string, postings_emitted long, bytes_compressed long, "
    "n_terms long, skew_ratio double, lineage string, updated_at double"
)


def _read_checkpoints(spark: SparkSession, index_dir: str) -> DataFrame:
    path = os.path.join(index_dir, "checkpoints")
    if not os.path.isdir(path):
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    return spark.read.parquet(path)


def completed_buckets(spark: SparkSession, index_dir: str) -> set[int]:
    cps = _read_checkpoints(spark, index_dir)
    return {
        r["bucket"]
        for r in cps.filter(F.col("status") == "done").select("bucket").collect()
    }


def _write_checkpoints(spark: SparkSession, index_dir: str, buckets: list[int],
                       lineage: str) -> None:
    """Record per-bucket metrics from the freshly written postings."""
    if not buckets:
        return
    written = spark.read.schema(POSTINGS_SCHEMA).parquet(
        os.path.join(index_dir, "postings")
    ).filter(F.col("bucket").isin(buckets))
    metrics = (
        written.groupBy("bucket")
        .agg(
            F.sum("n").alias("postings_emitted"),
            F.sum(
                F.octet_length("doc_deltas")
                + F.octet_length("tfs")
                + F.octet_length("dls")
            ).alias("bytes_compressed"),
            F.countDistinct("term").alias("n_terms"),
            (F.max("n") / F.avg("n")).alias("skew_ratio"),
        )
        .collect()
    )
    now = time.time()
    rows = [
        (
            int(m["bucket"]), "done", int(m["postings_emitted"]),
            int(m["bytes_compressed"]), int(m["n_terms"]),
            float(m["skew_ratio"]), lineage, now,
        )
        for m in metrics
    ]
    # buckets with zero postings (all-empty docs) still checkpoint as done
    seen = {r[0] for r in rows}
    rows += [
        (int(b), "done", 0, 0, 0, 1.0, lineage, now)
        for b in buckets if b not in seen
    ]
    spark.createDataFrame(rows, CHECKPOINT_SCHEMA).write.mode("append").parquet(
        os.path.join(index_dir, "checkpoints")
    )


DELTA_PREFIX = "delta-b"  # dictionary/delta-b<first bucket>.parquet


def dictionary_deltas(index_dir: str) -> list[str]:
    """Names of the append delta files in ``dictionary/`` (sorted)."""
    droot = os.path.join(index_dir, "dictionary")
    if not os.path.isdir(droot):
        return []
    return sorted(fn for fn in os.listdir(droot)
                  if fn.startswith(DELTA_PREFIX) and fn.endswith(".parquet"))


def load_stats(index_dir: str) -> dict:
    """stats.json of an index this engine can read and write: refuses,
    with "rebuild", an ``index_format_version`` other than
    ``INDEX_FORMAT_VERSION`` (missing, older or unknown) or a ``codec``
    other than varint (the key is absent since varint became the only
    codec).  The one stats reader of the query store and every writer,
    so no write stamps the current version onto an older index."""
    with open(os.path.join(index_dir, "stats.json"), encoding="utf-8") as f:
        stats = json.load(f)
    got = stats.get("index_format_version")
    if got != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} has format version {got!r}, engine "
            f"requires {INDEX_FORMAT_VERSION} — rebuild the index")
    codec = stats.get("codec", "varint")
    if codec != "varint":
        raise ValueError(
            f"index at {index_dir} stores {codec!r} posting buffers, the "
            f"engine reads varint only — rebuild the index")
    return stats


def write_stats(index_dir: str, n_docs: int, n_convs: int,
                total_tokens: int, field_docs: dict, field_tokens: dict,
                params: BM25Params, num_buckets: int,
                field_col: str | None) -> dict:
    """Write stats.json (atomic replace) from exact integer totals and
    return it.  ``field_docs``/``field_tokens``: field value → doc count
    / token count; a field gets an entry when it has docs.  A null or
    empty field value gets none: the build and both append paths store
    its blocks under Hive's default partition, which reads back as null.
    The one stats writer — the full re-derive (``finalize_metadata``)
    and the append commit produce the same file from the same totals."""
    fields = {
        str(f): {
            "n_docs": int(nd),
            "avgdl": (float(field_tokens.get(f, 0)) / nd) if nd else 0.0,
        }
        for f, nd in field_docs.items() if f not in (None, "")
    }
    stats = {
        "n_docs": int(n_docs),
        "n_convs": int(n_convs),
        "avgdl": (float(total_tokens) / n_docs) if n_docs else 0.0,
        "tokenizer_version": TOKENIZER_VERSION,
        "k1": params.k1,
        "b": params.b,
        "num_buckets": num_buckets,
        "field_col": field_col,
        "fields": fields,
        # format 3 = one block table: flag-prefixed varint buffers with
        # pos_deltas in every postings row.  load_stats refuses any other
        # version, so an older index fails loudly at open (and at every
        # write) instead of reading blocks that lack positions
        "index_format_version": INDEX_FORMAT_VERSION,
    }
    # atomic replace: a concurrent IndexStore open never sees a torn file
    spath = os.path.join(index_dir, "stats.json")
    with open(spath + ".tmp", "w", encoding="utf-8") as f:
        json.dump(stats, f, indent=2, sort_keys=True)
    os.replace(spath + ".tmp", spath)
    return stats


def token_total(avgdl: float, n_docs: int) -> int:
    """The integer token total a stats.json ``avgdl`` was computed from
    (``avgdl = total / n_docs``).  Exact below 2**51 tokens: the float
    division and the product each round by at most half an ulp, so the
    product lies within total × 2**-52 < 0.5 of the integer."""
    return round(float(avgdl) * int(n_docs))


def finalize_metadata(spark: SparkSession, index_dir: str, n_docs: int,
                      params: BM25Params, num_buckets: int,
                      field_col: str | None = None,
                      rewrite_dictionary: bool = True) -> dict:
    """(Re)derive dictionary + stats from the postings store — the FULL
    re-derive (build, purge, merge; compact when append deltas exist).
    Its overwrite of ``dictionary/`` folds every append delta file back
    into the base files.  Appends do not call it: they commit a
    dictionary delta and exact stats arithmetic over the batch alone
    (streaming/incremental.py), which equal this re-derive.

    With ``field_col``, stats.json additionally records per-field
    {n_docs, avgdl} so field-scoped queries score against the field's own
    sub-corpus (the reference scores each text column independently,
    src/api.py:316-349).

    ``rewrite_dictionary=False`` skips the dictionary re-derive and reads
    the existing one for the stats aggregates — for COMPACTION, which
    merges buckets by pure concatenation and provably cannot change any
    term's df/cf: skipping saves a full postings pass AND keeps the
    dictionary directory untouched while concurrent readers query it
    (the in-place overwrite is the one non-atomic step left).  The
    aggregates sum every row, so delta files count as they should."""
    dict_path = os.path.join(index_dir, "dictionary")
    if rewrite_dictionary:
        postings = spark.read.schema(POSTINGS_SCHEMA).parquet(
            os.path.join(index_dir, "postings")
        )
        # GLOBALLY term-range-partitioned + term-sorted within files: a
        # per-query `term IN (...)` lookup prunes to the 1-2 files whose
        # range covers the terms (file-level min/max skip) and then to
        # row groups inside them — the hash-partitioned layout (pre-r6)
        # forced every lookup to OPEN all partitions because each file
        # spanned the whole alphabet.  Lucene's sorted term dictionary,
        # expressed as parquet layout.
        dictionary_from_postings(postings).repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 8), "term"
        ).sortWithinPartitions("term").write.mode(
            "overwrite"
        ).parquet(dict_path)
    total_tokens = (
        spark.read.schema(DICTIONARY_SCHEMA).parquet(dict_path)
        .agg(F.sum("cf").alias("s")).collect()[0]["s"]
        or 0
    )
    doc_map = spark.read.schema(BUCKETED_SCHEMA).parquet(
        os.path.join(index_dir, "doc_map"))
    # conversation count — BM25F's entity-level N (query/bm25f.py);
    # stamping it here makes n_entities() O(1) at query time instead of a
    # per-store distinct-count over the doc_map
    n_convs = doc_map.select("conv_id").distinct().count()
    doc_counts: dict = {}
    tok_counts: dict = {}
    if field_col:
        doc_counts = {
            r[field_col]: r["n"]
            for r in doc_map
            .groupBy(field_col).agg(F.count("*").alias("n")).collect()
        }
        tok_counts = {
            r["field"]: r["s"]
            for r in spark.read.schema(DICTIONARY_SCHEMA).parquet(dict_path)
            .groupBy("field").agg(F.sum("cf").alias("s")).collect()
        }
    return write_stats(index_dir, n_docs, n_convs, total_tokens, doc_counts,
                       tok_counts, params, num_buckets, field_col)


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    num_buckets: int = 32,
    params: BM25Params | None = None,
    fail_after_buckets: int | None = None,
    field_col: str | None = None,
) -> dict:
    """Full (or resumed) index build.  Returns build metrics dict.

    ``fail_after_buckets`` is a test hook: stop after writing that many
    buckets (simulates a mid-build crash for the resume test).
    ``field_col`` (e.g. "role") builds field-qualified postings: blocks
    per (bucket, field), per-field stats — field-scoped queries prune at
    the scan; unscoped results are unchanged.  A resume into a directory
    that already holds a stats.json first checks it (``load_stats``), so
    an older-format index is refused, not relabelled as current.

    One tokenize pass (build.write_buckets) writes each bucket's blocks
    once, positions included; BM25 readers never read ``pos_deltas``
    (Parquet column pruning gives the Lucene .doc/.pos file split for
    free), so phrase search works as soon as the build returns.  Blocks
    are byte-identical to ``positions.encode_positions_bucket`` over each
    (bucket, field)'s occurrence rows (tests assert it).  The tokenize
    and write time is reported as ``phases["positions_build"]``;
    ``phases["postings_build"]`` stays 0.0 for reports that still read it.
    """
    params = params or BM25Params()
    if os.path.exists(os.path.join(index_dir, "stats.json")):
        load_stats(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    t0 = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str, since: float) -> float:
        now = time.time()
        phases[name] = round(now - since, 2)
        return now

    doc_map_path = os.path.join(index_dir, "doc_map")
    manifest_path = os.path.join(index_dir, "manifest.json")
    if not os.path.exists(os.path.join(doc_map_path, "_SUCCESS")):
        tp = time.time()
        ranged, offsets, counts = bucketed_corpus(transcripts, num_buckets)
        tp = _mark("bucket_assign", tp)
        manifest = {
            "buckets": {str(p): [offsets[p], counts[p]] for p in sorted(counts)},
            "num_buckets": num_buckets,
            "tokenizer_version": TOKENIZER_VERSION,
        }
        # doc_map is partitioned by bucket: one file per doc-range bucket,
        # so the fused pass reads exactly bucket-whole partitions and a
        # resume prunes to missing bucket directories
        ranged.write.mode("overwrite").partitionBy("bucket").parquet(doc_map_path)
        tp = _mark("doc_map_write", tp)
        with open(manifest_path, "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
    with open(manifest_path, encoding="utf-8") as f:
        manifest = json.load(f)
    counts = {int(b): c for b, (_o, c) in manifest["buckets"].items()}
    n_docs = sum(counts.values())

    done = completed_buckets(spark, index_dir)
    todo = [b for b in sorted(counts) if b not in done]
    if fail_after_buckets is not None:
        todo = todo[:fail_after_buckets]

    lineage = json.dumps(
        {
            "tokenizer_version": TOKENIZER_VERSION,
            "num_buckets": num_buckets,
            "n_docs": n_docs,
            "source": "transcripts",
            "field_col": field_col,
        },
        sort_keys=True,
    )
    if todo:
        phases["positions_build"] = round(write_buckets(
            spark, doc_map_path, todo, os.path.join(index_dir, "postings"),
            field_col=field_col), 2)
        phases["postings_build"] = 0.0
        tp = time.time()
        _write_checkpoints(spark, index_dir, todo, lineage)
        tp = _mark("checkpoints", tp)
        stats = finalize_metadata(spark, index_dir, n_docs, params, num_buckets,
                                  field_col=field_col)
        _mark("finalize", tp)
    else:
        stats = load_stats(index_dir)

    elapsed = time.time() - t0
    return {
        "n_docs": n_docs,
        "avgdl": stats["avgdl"],
        "buckets_built": len(todo),
        "buckets_skipped": len(done),
        "elapsed_sec": elapsed,
        "turns_per_sec": n_docs / elapsed if elapsed > 0 else 0.0,
        "phases": phases,
    }
