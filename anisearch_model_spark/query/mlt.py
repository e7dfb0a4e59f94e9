"""More-like-this: find documents similar to a given document by turning
its most characteristic terms into a BM25 query.

The Lucene MoreLikeThis contract, re-expressed for this engine: take the
source doc's token stream, rank its distinct terms by tf·idf (idf from
the index dictionary — a per-term pushed-filter lookup, never a full
vocabulary scan), keep the top ``m`` as a disjunctive query, score with
the normal BM25 path, and drop the source doc from the ranking.  The
reference reaches "similar items" through embedding cosine instead
(``/root/reference/src/api.py:316-349`` over SBERT vectors); this is the
lexical analog a fulltext index can answer from its own artifacts, with
no model in the loop.

Driver-side work is O(|source doc|): one bucket-pruned doc_map probe for
the text, one tokenizer pass over a single string, one dictionary lookup
for ≤ |distinct terms| rows.  The scoring fan-out is the ordinary
block-max / exhaustive machinery with its term-IN + field pruning.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.functions.normalize import bm25_idf, tokenize_series
from anisearch_model_spark.functions.windows import constant_partition


def mlt_terms(index, doc_id: int, m: int = 5,
              field: str | None = None) -> list[str]:
    """The source doc's top-``m`` terms by tf·idf.

    Selection is deterministic: (tf·idf DESC, term ASC), idf = the
    engine's BM25 idf over the (optionally field-scoped) corpus.  Terms
    missing from the dictionary (possible after a purge+rebuild race, or
    for a field scope the doc is outside of) are skipped.  Raises
    ``ValueError`` for an unknown or tombstoned doc_id.
    """
    from anisearch_model_spark.query.engine import IndexStore, fetch_doc_rows

    assert isinstance(index, IndexStore)
    if int(doc_id) in set(int(t) for t in index.tombstones):
        raise ValueError(f"doc {doc_id} is deleted")
    # bounded driver-side stored-fields fetch (r6): one doc's text from
    # its bucket's parquet file via pyarrow — no Spark job for the probe
    pdf = fetch_doc_rows(index, [int(doc_id)], ["doc_id", "text"])
    if pdf is None:  # "don't know": the pruned cluster read
        dm = index.doc_map
        pdf = dm.filter(dm["doc_id"] == int(doc_id)).select(
            "doc_id", "text").toPandas()
    if not len(pdf):
        raise ValueError(f"doc {doc_id} not found in doc_map")
    toks = tokenize_series(pd.Series([pdf["text"].iloc[0]])).iloc[0]
    if not toks:
        return []
    tf = Counter(toks)
    n, _ = index.field_stats(field)
    dfs = index.term_dfs(sorted(tf), field=field)
    scored = [
        (float(tf[t]) * float(bm25_idf(np.array([df]), n)[0]), t)
        for t, df in dfs.items()
    ]
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in scored[:m]]


def more_like_this(index, doc_id: int, m: int = 5, k: int = 10,
                   params: BM25Params | None = None,
                   field: str | None = None,
                   pruned: bool = True) -> DataFrame:
    """Top-``k`` docs most similar to ``doc_id``: (rank, doc_id, score).

    The source doc is excluded and the ranking re-numbered, so the page
    is always ``k`` full results (the scorer over-fetches by one — the
    source itself is usually the top hit of its own terms).
    """
    from anisearch_model_spark.query.engine import (
        IndexStore, local_frame, topk_bmw, topk_exhaustive)

    assert isinstance(index, IndexStore)
    terms = mlt_terms(index, doc_id, m=m, field=field)
    spark = index.spark
    if not terms:
        return local_frame(spark, None, "rank long, doc_id long, score double")
    fn = topk_bmw if pruned else topk_exhaustive
    top = fn(index, " ".join(terms), k + 1, params, field=field)
    w = Window.partitionBy(constant_partition("doc_id")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        top.filter(F.col("doc_id") != int(doc_id))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "doc_id", "score")
    )
