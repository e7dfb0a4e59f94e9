"""Batch query-set evaluation: score MANY queries in ONE distributed job.

The reference serves one query per request (rate-limited to 1 req/s,
``src/api.py:160``) and reloads the model per request (``:409``).  For
offline evaluation over a query-set table this is re-expressed as a single
plan over ONE postings read, regardless of query count.

Buckets are disjoint doc ranges, so a doc's ENTIRE score for every query
is computable inside its bucket: one ``applyInPandas`` kernel per bucket
decodes the term-pruned blocks once (query/bucket.py), folds per (query,
doc) in ascending term order (the engine's fixed float64 summation), masks
tombstones, and emits only the per-bucket per-query top-k.  The only
shuffle moves compressed blocks to their bucket group; the rank window
then orders ≤ |buckets|·|queries|·k rows.  Per-query results are
bit-identical to the single-query engine (tests assert it).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.functions.normalize import bm25_idf, tokenize_series
from anisearch_model_spark.query.bucket import BucketPostings, term_blocks, top_k
from anisearch_model_spark.query.engine import IndexStore


def batch_topk(index: IndexStore, queries: pd.DataFrame, k: int = 10,
               params: BM25Params | None = None) -> DataFrame:
    """queries: pandas (query_id, query_text) → DataFrame
    (query_id, rank, doc_id, score), rank-identical per query to the
    single-query engine/oracle."""
    params = params or BM25Params()
    spark = index.spark
    avgdl = float(index.stats["avgdl"])
    n_docs = int(index.stats["n_docs"])
    k1, b = params.k1, params.b

    # driver-side query tokenize (shared contract): query → sorted terms
    tokenized = tokenize_series(queries["query_text"])
    qterms = {
        int(qid): sorted(set(toks))
        for qid, toks in zip(queries["query_id"], tokenized)
    }
    empty = spark.createDataFrame(
        [], "query_id long, rank long, doc_id long, score double")
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        return empty

    dfs = index.term_dfs(all_terms)
    idf = {t: float(bm25_idf(np.array([df]), n_docs)[0]) for t, df in dfs.items()}
    # drop absent terms; ascending order per query = the fold order
    qterms = {q: [t for t in ts if t in idf] for q, ts in qterms.items()}
    qterms = {q: ts for q, ts in qterms.items() if ts}
    if not qterms:
        return empty

    bidf = spark.sparkContext.broadcast(idf)
    bq = spark.sparkContext.broadcast(qterms)
    tomb = index.tombstones
    btomb = spark.sparkContext.broadcast(tomb) if len(tomb) else None

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        bp = BucketPostings(pdf)
        live = bp.live(btomb.value if btomb is not None else None)
        outs = []
        for qid, terms in bq.value.items():
            acc = bp.fold(terms, bidf.value, avgdl, k1, b)
            idxs = np.nonzero(bp.hits(terms) & live)[0]
            idxs = idxs[top_k(bp.universe[idxs], acc[idxs], k)]
            outs.append(pd.DataFrame({
                "query_id": np.full(len(idxs), qid, dtype="int64"),
                "doc_id": bp.universe[idxs],
                "score": acc[idxs],
            }))
        return pd.concat(outs, ignore_index=True)

    local_tops = term_blocks(index, idf).groupBy("bucket").applyInPandas(
        score_bucket, schema="query_id long, doc_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local_tops.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
