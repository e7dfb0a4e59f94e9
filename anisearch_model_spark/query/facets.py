"""Faceted search: aggregate counts over the FULL BM25 match set.

The Lucene/Solr facet contract: alongside the ranked page, report for a
chosen metadata dimension (here any doc_map column — ``role``, or
conv-level attributes joined in by the caller) how the *entire* match
set distributes over that dimension, so a UI can offer drill-down
filters.  The reference exposes the same shape one level up — its API
groups results per synopsis column and reports per-column result counts
(``/root/reference/src/api.py:338-349``) — but only over the truncated
top-k pool; real facets must count the whole match set, which a
single-node engine cannot afford and a distributed one can.

Scale shape: the match set is query-term posting volume (never corpus
size — the postings scan term-IN-prunes) and the output is |distinct
facet values| rows.  Postings and doc_map share the SAME doc-range
bucketing (index/build.py), and buckets are disjoint doc ranges, so
scoring AND facet attribution both happen inside one COGROUPED kernel per
bucket: the bucket's score fold and tombstone mask (query/bucket.py),
then an inner match against the bucket's doc_map rows.  The match set
itself never crosses an exchange; counts sum and maxes max exactly across
disjoint buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params


def facet_counts(index, query_text: str, facet_col: str = "role",
                 params: BM25Params | None = None,
                 field: str | None = None) -> DataFrame:
    """Facet histogram of the full BM25 match set.

    Returns one row per facet value: ``(facet, n_docs, top_score)``
    ordered (n_docs DESC, facet ASC) — the count of matching live docs
    carrying that value and the best score among them.  Deletes are
    honored (the kernel applies the tombstone mask), so facet counts
    never resurrect a taken-down doc.
    """
    import numpy as np
    import pandas as pd

    from anisearch_model_spark.query.bucket import BucketPostings, term_blocks
    from anisearch_model_spark.query.engine import (
        IndexStore, local_frame, resolve_query_idf)

    assert isinstance(index, IndexStore)
    params = params or BM25Params()
    spark = index.spark
    facet_type = index.doc_map.schema[facet_col].dataType.simpleString()
    out_schema = f"facet {facet_type}, n_docs long, top_score double"
    idf = resolve_query_idf(index, query_text, field=field)
    if not idf:
        return local_frame(spark, None, out_schema)
    _, avgdl = index.field_stats(field)
    k1, b = params.k1, params.b
    bidf = spark.sparkContext.broadcast(idf)
    tomb = index.tombstones
    btomb = spark.sparkContext.broadcast(tomb) if len(tomb) else None
    blocks = term_blocks(index, idf, field)
    meta = index.doc_map.select("bucket", "doc_id",
                                F.col(facet_col).alias("facet"))

    def facet_bucket(blocks_pdf: pd.DataFrame,
                     meta_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"facet": pd.Series(dtype=object),
                              "n_docs": pd.Series(dtype="int64"),
                              "top_score": pd.Series(dtype="float64")})
        bp = BucketPostings(blocks_pdf)
        live = bp.live(btomb.value if btomb is not None else None)
        universe = bp.universe[live]
        acc = bp.fold(bp.terms, bidf.value, avgdl, k1, b)[live]
        if len(universe) == 0 or meta_pdf.empty:
            return empty
        mids = meta_pdf["doc_id"].to_numpy("int64")
        order = np.argsort(mids, kind="stable")
        mids_sorted = mids[order]
        pos = np.minimum(np.searchsorted(mids_sorted, universe),
                         len(mids_sorted) - 1)
        hit = mids_sorted[pos] == universe  # inner-join semantics
        if not hit.any():
            return empty
        fac = meta_pdf["facet"].to_numpy()[order][pos[hit]]
        part = pd.DataFrame({"facet": fac, "score": acc[hit]})
        agg = part.groupby("facet", dropna=False, sort=False).agg(
            n_docs=("score", "size"), top_score=("score", "max")
        ).reset_index()
        return agg[["facet", "n_docs", "top_score"]]

    partials = blocks.groupBy("bucket").cogroup(
        meta.groupBy("bucket")
    ).applyInPandas(lambda bl, me: facet_bucket(bl, me), schema=out_schema)
    return (
        partials.groupBy("facet")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.max("top_score").alias("top_score"),
        )
        .orderBy(F.desc("n_docs"), F.asc("facet"))
    )
