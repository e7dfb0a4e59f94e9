"""Batch query-set evaluation: score MANY queries in ONE distributed job.

The reference serves one query per request (rate-limited to 1 req/s,
``src/api.py:160``) and reloads the model per request (``:409``).  For
offline evaluation over a query-set table this is re-expressed as a single
plan over ONE postings read, regardless of query count.

Buckets are disjoint doc ranges, so a doc's ENTIRE score for every query
is computable inside its bucket: one ``applyInPandas`` kernel per bucket
(``bucket.batch_bucket``) decodes the term-pruned blocks once (query/bucket.py), folds per (query,
doc) in ascending term order (the engine's fixed float64 summation), masks
tombstones, and emits only the per-bucket per-query top-k.  The only
shuffle moves compressed blocks to their bucket group; the rank window
then orders ≤ |buckets|·|queries|·k rows.  Per-query results are
bit-identical to the single-query engine (tests assert it).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.functions.normalize import tokenize_series
from anisearch_model_spark.query.bucket import batch_bucket, term_blocks
from anisearch_model_spark.query.engine import (
    IndexStore, _broadcast, _tombstones, _value, idf_of, local_frame)

_SCHEMA = "query_id long, rank long, doc_id long, score double"


def batch_topk(index: IndexStore, queries: pd.DataFrame, k: int = 10,
               params: BM25Params | None = None) -> DataFrame:
    """queries: pandas (query_id, query_text) → DataFrame
    (query_id, rank, doc_id, score), rank-identical per query to the
    single-query engine/oracle."""
    params = params or BM25Params()
    spark = index.spark
    avgdl = float(index.stats["avgdl"])
    k1, b = params.k1, params.b

    # driver-side query tokenize (shared contract): query → sorted terms
    tokenized = tokenize_series(queries["query_text"])
    qterms = {
        int(qid): sorted(set(toks))
        for qid, toks in zip(queries["query_id"], tokenized)
    }
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        return local_frame(spark, None, _SCHEMA)

    idf = idf_of(index, index.term_dfs(all_terms))
    # drop absent terms; ascending order per query = the fold order
    qterms = {q: [t for t in ts if t in idf] for q, ts in qterms.items()}
    qterms = {q: ts for q, ts in qterms.items() if ts}
    if not qterms:
        return local_frame(spark, None, _SCHEMA)

    bidf = _broadcast(spark, idf)
    bq = _broadcast(spark, qterms)
    btomb = _broadcast(spark, _tombstones(index))
    local_tops = term_blocks(index, idf).groupBy("bucket").applyInPandas(
        lambda pdf: batch_bucket(pdf, bq.value, bidf.value, avgdl, k1, b, k,
                                 _value(btomb)),
        schema="query_id long, doc_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local_tops.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
