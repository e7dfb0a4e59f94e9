"""Exact-phrase top-k over the blocks' position column (index/positions.py).

The reference cannot express phrases at all (dense cosine over whole
descriptions, ``src/api.py:270-313``); this is the lexical-engine feature
its users gain.  Semantics:

  * the phrase is tokenized with THE shared contract (normalize.py), so
    stopwords are elided — "state of the art" matches docs where "state"
    and "art" are adjacent in the post-stopword stream (the only phrase a
    stopword-eliding index can promise; Lucene + stop filter likewise);
  * a doc matches when the phrase's terms occur at consecutive positions,
    in order; ``ptf`` = number of such occurrences (start positions);
  * score = BM25 of the phrase as a single VIRTUAL TERM: df = number of
    matching docs (live docs), tf = ptf, dl/avgdl/N from the corpus —
    the standard phrase-scoring reduction, fully SQL-expressible so the
    DuckDB oracle can verify it cross-engine;
  * ordering contract identical to the BM25 scorers: score DESC, doc_id
    ASC, dense 1-based rank.

Scale shape: the block scan is filtered to the phrase's terms
(Parquet predicate pushdown) and prunes on the ``field`` partition; the
match runs bucket-parallel (buckets are disjoint doc ranges) with numpy
sorted-key searches inside ``applyInPandas`` — the per-bucket candidate
volume is bounded by the rarest phrase term's posting volume, not the
corpus.  Tombstoned docs are masked inside the kernel.  ``phrase_topk``
is one pass: each bucket emits its match count and its local top-k
candidates, so driver traffic is ≤ |buckets|·k rows (plus exact ties)
and the phrase df, idf and final ranking are computed on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params, MAX_QUERY_CHARS
from anisearch_model_spark.functions.normalize import (
    bm25_idf, bm25_term_score, tokenize_series)
from anisearch_model_spark.query.bucket import live_mask
from anisearch_model_spark.query.engine import IndexStore, attach_metadata

# positions fit in 31 bits (a doc's post-stopword token count); codes are
# indices into the per-bucket candidate doc array — the (code, pos) pair
# packs into one int64 key for the vectorized occurrence intersection
_POS_BITS = 31


def parse_phrase(phrase_text: str) -> list[str]:
    """Tokenize a phrase with the shared contract, ORDER PRESERVED
    (duplicates kept — "data by data" is a 2-gap-constrained pattern).
    Same 2000-char admission limit as term queries."""
    if phrase_text is None or len(phrase_text) > MAX_QUERY_CHARS:
        raise ValueError(f"phrase must be a string of <= {MAX_QUERY_CHARS} chars")
    return list(tokenize_series(pd.Series([phrase_text])).iloc[0])


def _match_bucket(pdf: pd.DataFrame, terms: list[str], slop: int,
                  tomb: np.ndarray | None = None) -> pd.DataFrame:
    """One bucket's position blocks for the phrase's terms → matched
    live (doc_id, ptf, dl); ``tomb`` is the sorted tombstone array.
    Terms must occur IN ORDER with each consecutive
    gap in [1, 1 + slop] post-stopword positions (slop = 0: adjacent —
    the exact phrase); ``ptf`` = distinct chain-START positions.
    Backward reachability DP over sorted packed (doc-code << 31 | pos)
    keys: a term-j occurrence survives iff some surviving term-(j+1)
    occurrence lies in its forward window — two ``searchsorted`` calls
    per term, no per-doc loop."""
    from anisearch_model_spark.index.positions import decode_positions_block

    empty = pd.DataFrame({
        "doc_id": pd.Series(dtype="int64"),
        "ptf": pd.Series(dtype="int64"),
        "dl": pd.Series(dtype="int64"),
    })
    by_term: dict[str, list[tuple]] = {}
    for row in pdf.itertuples(index=False):
        doc_ids, tfs, dls, flat_pos = decode_positions_block(row)
        by_term.setdefault(row.term, []).append((doc_ids, tfs, dls, flat_pos))
    need = set(terms)
    if not need.issubset(by_term):
        return empty
    # chains start at term 0, so only its docs can match
    d0 = np.concatenate([p[0] for p in by_term[terms[0]]])
    dl0 = np.concatenate([p[2] for p in by_term[terms[0]]])
    cand = np.sort(d0)
    keys: dict[str, np.ndarray] = {}
    for t in need:
        parts = by_term[t]
        d_rep = np.repeat(np.concatenate([p[0] for p in parts]),
                          np.concatenate([p[1] for p in parts]))
        p = np.concatenate([p[3] for p in parts])
        code = np.searchsorted(cand, d_rep)
        ok = (code < len(cand)) & (cand[np.minimum(code, len(cand) - 1)] == d_rep)
        keys[t] = np.sort((code[ok].astype(np.int64) << _POS_BITS) | p[ok])
    ok_keys = keys[terms[-1]]
    for j in range(len(terms) - 2, -1, -1):
        base = keys[terms[j]]
        if len(ok_keys) == 0 or len(base) == 0:
            return empty
        lo = np.searchsorted(ok_keys, base + 1, side="left")
        hi = np.searchsorted(ok_keys, base + 1 + slop, side="right")
        ok_keys = base[hi > lo]
    if len(ok_keys) == 0:
        return empty
    codes = (ok_keys >> _POS_BITS).astype(np.int64)
    counts = np.bincount(codes, minlength=len(cand))
    hit = (counts > 0) & live_mask(cand, tomb)
    order = np.argsort(d0, kind="stable")
    dl_sorted = dl0[order]  # aligned with cand (= sorted d0)
    return pd.DataFrame(
        {
            "doc_id": cand[hit],
            "ptf": counts[hit].astype("int64"),
            "dl": dl_sorted[hit],
        }
    )


def _top_candidates(m: pd.DataFrame, k: int, avgdl: float, k1: float,
                    b: float) -> pd.DataFrame:
    """One bucket's matches → its candidates for the global top-k, and
    its match count in ``n`` (on the first row, 0 on the rest, so the
    column sums to the phrase df).

    The phrase idf needs the global df, so the kernel ranks by the idf-1
    score ``g``: every doc's exact score is idf·g to a few ulps, and a
    doc more than a 1e-9 relative margin below the bucket's k-th best
    ``g`` scores strictly below k of the bucket's docs — it can never
    reach the top-k, on any tie-break.  Everything else is kept."""
    if len(m) > k:
        g = bm25_term_score(m["ptf"].to_numpy(), m["dl"].to_numpy(), 1.0,
                            avgdl, k1, b)
        kth = np.partition(g, len(g) - k)[len(g) - k]
        cand = m[g >= kth * (1 - 1e-9)]
    else:
        cand = m
    n = np.zeros(len(cand), dtype="int64")
    n[:1] = len(m)
    return cand.assign(n=n)


def _phrase_blocks(index: IndexStore, phrase_text: str, field: str | None,
                   slop: int) -> tuple[list[str], DataFrame | None]:
    """(phrase terms, their position blocks) — the scan both phrase
    scorers group by bucket: term-IN pushdown, field partition pruning.
    The blocks are None when the phrase has no terms."""
    from anisearch_model_spark.index.positions import POSITIONS_SCHEMA

    if slop < 0:
        raise ValueError("slop must be >= 0")
    terms = parse_phrase(phrase_text)
    if not terms:
        return terms, None
    blocks = index._snapshot_read(POSITIONS_SCHEMA, "postings").filter(
        F.col("term").isin(sorted(set(terms)))
    )
    if field is not None:
        index.field_stats(field)  # validates the field exists
        blocks = blocks.filter(F.col("field") == field)
    return terms, blocks


def _tombstones(index: IndexStore):
    """The index's tombstones as a broadcast (None when there are none)."""
    tomb = index.tombstones
    return index.spark.sparkContext.broadcast(tomb) if len(tomb) else None


def phrase_match(index: IndexStore, phrase_text: str,
                 field: str | None = None, slop: int = 0) -> DataFrame:
    """Matched docs for a phrase: (doc_id, ptf, dl), live docs only."""
    schema = "doc_id long, ptf long, dl long"
    terms, blocks = _phrase_blocks(index, phrase_text, field, slop)
    if blocks is None:
        return index.spark.createDataFrame([], schema)
    btomb = _tombstones(index)
    return blocks.groupBy("bucket").applyInPandas(
        lambda pdf: _match_bucket(
            pdf, terms, slop, btomb.value if btomb is not None else None),
        schema=schema,
    )


def phrase_topk(index: IndexStore, phrase_text: str, k: int = 10,
                params: BM25Params | None = None,
                field: str | None = None, slop: int = 0) -> DataFrame:
    """Top-k phrase BM25: (rank, doc_id, score).  ``slop`` relaxes the
    match to in-order occurrences with gaps ≤ 1 + slop (Lucene-style
    proximity, ordered variant); scoring is unchanged — the sloppy
    phrase is still ONE virtual term whose df/tf come from its matches.

    One Spark pass: each bucket kernel matches, masks tombstones and
    emits its match count plus its top-k candidates
    (``_top_candidates``); the driver sums the counts into the phrase
    df, scores the candidates with ``bm25_term_score`` (the same float64
    expression as every BM25 scorer) and ranks them.  The result ships
    back as a ≤k-row local frame."""
    params = params or BM25Params()
    spark = index.spark
    schema = "rank long, doc_id long, score double"
    terms, blocks = _phrase_blocks(index, phrase_text, field, slop)
    if blocks is None:
        return spark.createDataFrame([], schema)
    n_docs, avgdl = index.field_stats(field)
    k1, b = params.k1, params.b
    btomb = _tombstones(index)
    cands = blocks.groupBy("bucket").applyInPandas(
        lambda pdf: _top_candidates(
            _match_bucket(pdf, terms, slop,
                          btomb.value if btomb is not None else None),
            k, avgdl, k1, b),
        schema="doc_id long, ptf long, dl long, n long",
    ).toPandas()
    df_phrase = int(cands["n"].sum())
    if df_phrase == 0:
        return spark.createDataFrame([], schema)
    idf = float(bm25_idf(np.array([df_phrase]), n_docs)[0])
    cands["score"] = bm25_term_score(cands["ptf"].to_numpy(),
                                     cands["dl"].to_numpy(), idf, avgdl, k1, b)
    top = cands.sort_values(["score", "doc_id"], ascending=[False, True],
                            kind="mergesort").head(k)
    return spark.createDataFrame(
        pd.DataFrame({"rank": np.arange(1, len(top) + 1, dtype="int64"),
                      "doc_id": top["doc_id"].to_numpy("int64"),
                      "score": top["score"].to_numpy("float64")}),
        schema)


def phrase_search(index: IndexStore, phrase_text: str, k: int = 10,
                  params: BM25Params | None = None, field: str | None = None,
                  page: int = 1, slop: int = 0,
                  with_metadata: bool = True) -> DataFrame:
    """Phrase top-k + doc metadata (``engine.attach_metadata``): the
    candidate pool scales with the page, as in ``engine.search``."""
    top = phrase_topk(index, phrase_text, k * page, params=params, field=field,
                      slop=slop)
    if page > 1:
        lo, hi = (page - 1) * k, page * k
        top = top.filter((F.col("rank") > lo) & (F.col("rank") <= hi))
    if not with_metadata:
        return top
    return attach_metadata(index, top)
