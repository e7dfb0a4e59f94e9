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

Scale shape: the block read is filtered to the phrase's terms and
prunes on the ``field`` partition; the match runs per bucket (buckets
are disjoint doc ranges) with numpy sorted-key searches — the
per-bucket candidate volume is bounded by the rarest phrase term's
posting volume, not the corpus.  Tombstoned docs are masked inside the
kernel.  ``phrase_topk`` is one pass: each bucket emits its match count
and its local top-k candidates, so at most |buckets|·k rows (plus exact
ties) reach the merge, and the phrase df, idf and final ranking are
computed on the driver.  The kernels run on the driver when the phrase
terms' summed df is within the driver bound (query/engine.py), else in
``applyInPandas``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params, MAX_QUERY_CHARS
from anisearch_model_spark.functions.normalize import (
    bm25_idf, bm25_term_score, tokenize_series)
from anisearch_model_spark.query.bucket import (
    RANKED_SCHEMA, live_mask, ranked)
from anisearch_model_spark.query.engine import (
    IndexStore, _broadcast, _tombstones, _value, local_frame, page_of)

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


# the block columns a phrase kernel reads (``decode_positions_block``)
PHRASE_COLS = ("term", "n", "first_doc_id", "doc_deltas", "tfs", "dls",
               "pos_deltas")
_CAND_SCHEMA = "doc_id long, ptf long, dl long, n long"


def _phrase_terms(index: IndexStore, phrase_text: str, field: str | None,
                  slop: int) -> list[str]:
    """The phrase's terms (empty when it has none); an unknown ``field``
    or a negative ``slop`` raises."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    terms = parse_phrase(phrase_text)
    if terms:
        index.field_stats(field)  # validates the field exists
    return terms


def _phrase_blocks(index: IndexStore, terms: list[str],
                   field: str | None) -> DataFrame:
    """The phrase terms' position blocks on the cluster: term-IN
    pushdown, field partition pruning."""
    from anisearch_model_spark.index.positions import POSITIONS_SCHEMA

    blocks = index._snapshot_read(POSITIONS_SCHEMA, "postings").filter(
        F.col("term").isin(sorted(set(terms)))
    )
    if field is not None:
        blocks = blocks.filter(F.col("field") == field)
    return blocks


def phrase_match(index: IndexStore, phrase_text: str,
                 field: str | None = None, slop: int = 0) -> DataFrame:
    """Matched docs for a phrase: (doc_id, ptf, dl), live docs only."""
    schema = "doc_id long, ptf long, dl long"
    terms = _phrase_terms(index, phrase_text, field, slop)
    if not terms:
        return local_frame(index.spark, None, schema)
    btomb = _broadcast(index.spark, _tombstones(index))
    return _phrase_blocks(index, terms, field).groupBy("bucket").applyInPandas(
        lambda pdf: _match_bucket(pdf, terms, slop, _value(btomb)),
        schema=schema,
    )


def phrase_topk(index: IndexStore, phrase_text: str, k: int = 10,
                params: BM25Params | None = None,
                field: str | None = None, slop: int = 0) -> DataFrame:
    """Top-k phrase BM25: (rank, doc_id, score).  ``slop`` relaxes the
    match to in-order occurrences with gaps ≤ 1 + slop (Lucene-style
    proximity, ordered variant); scoring is unchanged — the sloppy
    phrase is still ONE virtual term whose df/tf come from its matches.

    Each bucket kernel matches, masks tombstones and emits its match
    count plus its top-k candidates (``_top_candidates``) — on the
    driver when the phrase terms' summed df is within the driver bound
    (``IndexStore.local_blocks``, 0 Spark jobs), else in one Spark pass.
    The driver sums the counts into the phrase df, scores the
    candidates with ``bm25_term_score`` (the same float64 expression as
    every BM25 scorer) and ranks them.  The result is a ≤k-row local
    frame."""
    return local_frame(index.spark, _phrase_top(
        index, phrase_text, k, params, field, slop), RANKED_SCHEMA)


def _phrase_top(index: IndexStore, phrase_text: str, k: int,
                params: BM25Params | None, field: str | None,
                slop: int) -> pd.DataFrame:
    params = params or BM25Params()
    terms = _phrase_terms(index, phrase_text, field, slop)
    if not terms:
        return ranked([], k)
    n_docs, avgdl = index.field_stats(field)
    k1, b = params.k1, params.b
    tomb = _tombstones(index)
    dfs = index.term_dfs(sorted(set(terms)), field=field)
    local = index.local_blocks(terms, sum(dfs.values()), field, PHRASE_COLS)
    if local == {}:  # no bucket holds a phrase term
        return ranked([], k)
    if local is not None:
        cands = pd.concat(
            [_top_candidates(_match_bucket(pdf, terms, slop, tomb),
                             k, avgdl, k1, b) for pdf in local.values()],
            ignore_index=True)
    else:
        btomb = _broadcast(index.spark, tomb)
        cands = _phrase_blocks(index, terms, field).groupBy(
            "bucket").applyInPandas(
            lambda pdf: _top_candidates(
                _match_bucket(pdf, terms, slop, _value(btomb)),
                k, avgdl, k1, b),
            schema=_CAND_SCHEMA,
        ).toPandas()
    df_phrase = int(cands["n"].sum())
    if df_phrase == 0:
        return ranked([], k)
    idf = float(bm25_idf(np.array([df_phrase]), n_docs)[0])
    cands["score"] = bm25_term_score(cands["ptf"].to_numpy(),
                                     cands["dl"].to_numpy(), idf, avgdl, k1, b)
    return ranked([cands[["doc_id", "score"]]], k)


def phrase_search(index: IndexStore, phrase_text: str, k: int = 10,
                  params: BM25Params | None = None, field: str | None = None,
                  page: int = 1, slop: int = 0,
                  with_metadata: bool = True) -> DataFrame:
    """Phrase top-k + doc metadata (``engine.page_of``): the
    candidate pool scales with the page, as in ``engine.search``."""
    return page_of(index, _phrase_top(index, phrase_text, k * page, params,
                                      field, slop), k, page, with_metadata)
