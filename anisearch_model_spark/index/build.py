"""Inverted-index build kernel: one tokenize pass → one block table.

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
  * ONE block table: each posting block row carries its ``pos_deltas``
    too (``BLOCK_SCHEMA``), written once under ``postings/``.  BM25
    scorers read the ``POSTINGS_SCHEMA`` projection, so Parquet column
    pruning never touches ``pos_deltas``; phrase search reads the
    positions projection of the same files (the columnar inverted-index
    layout of "Columnar Formatted Inverted Index for Highly-Paralleled,
    Vectorized Query Processing", ICDE 2025).  Build, append and purge
    all write a bucket's blocks this way;
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
  * the table is written ``partitionBy(bucket, field)`` so a resumable
    re-run plans only missing buckets, the query engine scores
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

# the stored block row: the BM25 columns plus the block's position gaps
BLOCK_SCHEMA = POSTINGS_SCHEMA + ", pos_deltas binary"

DICTIONARY_SCHEMA = "term string, field string, df long, cf long"


def write_buckets(spark: SparkSession, doc_map_root: str, buckets: list[int],
                  postings_root: str, field_col: str | None = None
                  ) -> float:
    """Tokenize doc_map ``buckets`` once and write their blocks
    (``BLOCK_SCHEMA`` rows) under ``postings_root``, partitioned by
    (bucket, field) and replacing exactly the partitions it produces
    (dynamic overwrite).  Returns seconds.

    Each bucket's doc_map directory must hold ONE file no larger than
    ``spark.sql.files.maxPartitionBytes`` (every doc_map writer writes
    from a bucket-clustered frame): with small-file packing off, such a
    file is a partition, so the kernel sees whole buckets and no posting
    data is shuffled.  The JVM side of the pass
    is a light parquet decode, which keeps the cores free for the Python
    tokenize+encode workers.  Each partition runs
    ``positions.tokenize_encode``, the kernel the append's driver path
    (streaming/incremental.py) also calls on a one-bucket batch."""
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA
    from anisearch_model_spark.index.positions import fused_tokenize_positions

    old_cost = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    try:
        t0 = time.time()
        docs = spark.read.schema(BUCKETED_SCHEMA).parquet(doc_map_root)
        (
            fused_tokenize_positions(docs.filter(F.col("bucket").isin(buckets)),
                                     field_col=field_col)
            .write.mode("overwrite")
            .partitionBy("bucket", "field")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(postings_root)
        )
    finally:
        if old_cost is not None:
            spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
    return time.time() - t0


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
