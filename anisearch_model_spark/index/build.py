"""Inverted-index build kernel: one tokenize pass → position blocks →
postings by columnar copy.

Reference analog: the index-build stage ``src/sbert.py:154-388`` (per-column
batched SBERT encode → ``np.save``).  Our build replaces dense embeddings
with compressed posting lists and is designed for 10^12 turns:

  * ONE tokenize pass (``write_buckets``): the corpus arrives
    pre-bucketed into disjoint sorted doc-id ranges (docmap.py), so one
    ``mapInPandas`` pass (positions.fused_tokenize_positions) tokenizes
    AND encodes each bucket — no shuffle of posting data at all, and only
    compressed blocks cross the Python/JVM Arrow boundary (the
    uncompressed occurrence relation is 20-40× the corpus row count;
    shipping or shuffling it dominated build time);
  * each position block also carries its posting block's buffers and
    metadata, so the postings table is a COLUMNAR COPY of the positions
    table minus ``pos_deltas`` (zero Python; the columnar inverted-index
    layout of "Columnar Formatted Inverted Index for Highly-Paralleled,
    Vectorized Query Processing", ICDE 2025).  Build, append and purge
    all create a bucket's postings this way, so a bucket's postings and
    positions always come from the same kernel and codec;
  * **skew defusal**: a hot term (Zipf head) would make a naive
    ``groupBy(term)`` one-reducer-hot.  Doc-range bucketing IS the salt:
    every term's postings split uniformly across buckets, and because
    buckets are disjoint sorted docID ranges, the global posting list of
    a term is the bucket-ascending concatenation of its per-bucket
    blocks — the merge stage is free (no re-sort, no second shuffle);
  * **field qualification** (reference per-column index analog,
    ``src/sbert.py:336-356``): every doc (turn) carries one field value
    (its role); blocks are built per ``(bucket, field, term)``, so a
    field-scoped query prunes at the scan while an unscoped query reads
    all fields — per-doc partials are unchanged (fields partition the doc
    set), so unscoped results stay bit-identical;
  * dictionary df/cf per (term, field) and corpus stats derive from block
    metadata (``dictionary_from_postings``) — the corpus is tokenized
    exactly once;
  * both tables are written ``partitionBy(bucket, field)`` so a
    resumable re-run plans only missing buckets, the query engine scores
    bucket-parallel, and a field filter is directory-level pruning.

Index layout is a pure function of (corpus, num_buckets, field_col) —
independent of cluster size AND of the run (deterministic bucketing,
docmap.py), which keeps results rank-identical between N and 4N executors
and makes resumes byte-stable.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

UNSCOPED_FIELD = "*"  # field value when the index is built without field_col

POSTINGS_SCHEMA = (
    "term string, bucket int, field string, block_id int, n int, cf long, "
    "first_doc_id long, last_doc_id long, max_tf int, min_dl int, "
    "doc_deltas binary, tfs binary, dls binary"
)

_POSTING_COLS = [
    "term", "bucket", "field", "block_id", "n", "cf", "first_doc_id",
    "last_doc_id", "max_tf", "min_dl", "doc_deltas", "tfs", "dls",
]

DICTIONARY_SCHEMA = "term string, field string, df long, cf long"


def write_bucket_partitions(df: DataFrame, root: str) -> None:
    """Write ``df`` under ``root`` partitioned by (bucket, field),
    replacing exactly the partitions it produces (dynamic overwrite)."""
    (
        df.write.mode("overwrite")
        .partitionBy("bucket", "field")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(root)
    )


def write_buckets(spark: SparkSession, doc_map_root: str, buckets: list[int],
                  positions_root: str, postings_root: str,
                  field_col: str | None = None,
                  codec: str = "varint") -> tuple[float, float]:
    """Tokenize doc_map ``buckets`` once: position blocks go under
    ``positions_root``, then the same buckets' postings go under
    ``postings_root`` as a columnar copy of those blocks (``pos_deltas``
    is never read).  Returns (positions seconds, postings seconds).

    Each bucket's doc_map directory must hold ONE file no larger than
    ``spark.sql.files.maxPartitionBytes`` (every doc_map writer writes
    from a bucket-clustered frame): with small-file packing off, such a
    file is a partition, so the kernel sees whole buckets and no posting
    data is shuffled.  The JVM side of the pass
    is a light parquet decode, which keeps the cores free for the Python
    tokenize+encode workers."""
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA
    from anisearch_model_spark.index.positions import (
        POSITIONS_FULL_SCHEMA,
        fused_tokenize_positions,
    )

    in_buckets = F.col("bucket").isin(buckets)
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    try:
        t0 = time.time()
        docs = spark.read.schema(BUCKETED_SCHEMA).parquet(doc_map_root)
        write_bucket_partitions(
            fused_tokenize_positions(docs.filter(in_buckets),
                                     field_col=field_col, codec=codec),
            positions_root)
        t1 = time.time()
        blocks = spark.read.schema(POSITIONS_FULL_SCHEMA).parquet(
            positions_root)
        write_bucket_partitions(
            blocks.filter(in_buckets).select(*_POSTING_COLS), postings_root)
    finally:
        if old_cost is not None:
            spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
    return t1 - t0, time.time() - t1


def dictionary_from_postings(postings: DataFrame) -> DataFrame:
    """(term, field) → (df, cf) derived from block metadata — no
    re-tokenize.  df = Σ block n (each doc appears once per term within
    its field), cf = Σ block cf; the UNSCOPED df/cf of a term is the sum
    over its fields (fields partition the doc set).  Combinable aggs →
    map-side partial aggregation; hot-term safe.
    """
    return postings.groupBy("term", "field").agg(
        F.sum("n").alias("df"), F.sum("cf").alias("cf")
    )
