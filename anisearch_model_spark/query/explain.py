"""Score explanation: per-term BM25 breakdown for ONE (query, doc) pair.

The Lucene ``explain()`` analog — the operability tool for "why is this
hit ranked here?".  The reference exposes no equivalent (its scores are
opaque dense cosines, ``/root/reference/src/api.py:270-313``); a lexical
engine can and should show its work.

Cost shape: O(|query terms|) driver work, ZERO distributed jobs beyond
one doubly-pruned postings scan — the scan keeps only the query terms
(``term IN`` reaches the Parquet reader), only the ONE bucket whose
manifest doc-range holds the doc (directory pruning on the partition
column), and only blocks whose [first_doc_id, last_doc_id] span covers
it (row-group stats).  The handful of surviving blocks is collected and
decoded driver-side — the same bounded-collect policy as the dictionary
lookup (engine.term_dfs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params


def explain_score(index, query_text: str, doc_id: int,
                  field: str | None = None,
                  params: BM25Params | None = None) -> dict:
    """Per-term score breakdown for ``doc_id`` under ``query_text``.

    Returns ``{doc_id, field, score, tombstoned, n_docs, avgdl, terms:
    [{term, tf, dl, idf, bnorm, pscore}, ...]}`` — terms sorted
    ascending, only those matching the doc; ``score`` is the identical
    float64 fold the scorers produce (same per-term kernel, summed in
    ascending-term order from 0.0), so ``explain_score(...)["score"]``
    equals the ``search()`` score for the same doc bit-for-bit.
    """
    import numpy as np

    from anisearch_model_spark.functions.normalize import bm25_term_score
    from anisearch_model_spark.query.bucket import (
        BLOCK_COLS, BucketPostings, term_blocks)
    from anisearch_model_spark.query.engine import (
        IndexStore, resolve_query_idf)

    assert isinstance(index, IndexStore)
    params = params or BM25Params()
    doc_id = int(doc_id)
    buckets = index.buckets_for([doc_id])
    if not buckets:
        raise ValueError(f"doc_id {doc_id} is outside every bucket's "
                         f"doc-range — unknown document")
    n_docs, avgdl = index.field_stats(field)
    idf = resolve_query_idf(index, query_text, field=field)
    tomb = index.tombstones  # sorted — O(log T) membership, no copy
    pos = int(np.searchsorted(tomb, doc_id)) if len(tomb) else 0
    tombstoned = bool(len(tomb) and pos < len(tomb)
                      and int(tomb[pos]) == doc_id)
    terms: list[dict] = []
    total = 0.0
    if idf:
        blocks = term_blocks(
            index, idf, field,
            cols=("bucket", "last_doc_id") + BLOCK_COLS).filter(
            F.col("bucket").isin(buckets)
            & (F.col("first_doc_id") <= doc_id)
            & (F.col("last_doc_id") >= doc_id)
        )
        bp = BucketPostings(blocks.toPandas())
        hits: dict[str, tuple[int, int]] = {}
        for t in bp.terms:
            d, tfs, dls = bp.term(t)
            at = np.flatnonzero(d == doc_id)
            if len(at):
                hits[t] = (int(tfs[at[0]]), int(dls[at[0]]))
        # ascending-term fold — the scorers' float64 summation order
        for t in sorted(hits):
            tf, dl = hits[t]
            ps = float(bm25_term_score(
                np.array([tf]), np.array([dl]),
                np.array([idf[t]]), avgdl, params.k1, params.b)[0])
            bnorm = 1.0 - params.b + params.b * dl / avgdl
            terms.append({"term": t, "tf": tf, "dl": dl,
                          "idf": round(idf[t], 6),
                          "bnorm": round(bnorm, 6),
                          "pscore": round(ps, 6)})
            total += ps
    return {
        "doc_id": doc_id,
        "field": field,
        "score": total,
        "tombstoned": tombstoned,
        "n_docs": n_docs,
        "avgdl": round(avgdl, 6),
        "terms": terms,
    }
