"""Exact-phrase top-k over the positional side table (index/positions.py).

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

Scale shape: the positions scan is filtered to the phrase's terms
(Parquet predicate pushdown) and prunes on the ``field`` partition; the
match runs bucket-parallel (buckets are disjoint doc ranges) with numpy
sorted-key searches inside ``applyInPandas`` — the per-bucket candidate
volume is bounded by the rarest phrase term's posting volume, not the
corpus.  Driver traffic is ≤ k result rows plus one matched-doc count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anisearch_model_spark.config import BM25Params, MAX_QUERY_CHARS
from anisearch_model_spark.functions.normalize import bm25_idf, tokenize_series
from anisearch_model_spark.functions.windows import constant_partition
from anisearch_model_spark.query.engine import IndexStore

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


def _match_bucket(pdf: pd.DataFrame, terms: list[str],
                  slop: int) -> pd.DataFrame:
    """One bucket's position blocks for the phrase's terms → matched
    (doc_id, ptf, dl).  Terms must occur IN ORDER with each consecutive
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
    hit = counts > 0
    order = np.argsort(d0, kind="stable")
    dl_sorted = dl0[order]  # aligned with cand (= sorted d0)
    return pd.DataFrame(
        {
            "doc_id": cand[hit],
            "ptf": counts[hit].astype("int64"),
            "dl": dl_sorted[hit],
        }
    )


def phrase_match(index: IndexStore, phrase_text: str,
                 field: str | None = None, slop: int = 0) -> DataFrame:
    """Matched docs for a phrase: (doc_id, ptf, dl), live docs only."""
    from anisearch_model_spark.index.positions import (
        POSITIONS_SCHEMA,
        positions_ready,
    )

    ready, reason = positions_ready(index.index_dir)
    if not ready:
        raise ValueError(
            f"phrase search unavailable for index at {index.index_dir}: "
            f"{reason}"
        )
    if slop < 0:
        raise ValueError("slop must be >= 0")
    spark = index.spark
    terms = parse_phrase(phrase_text)
    empty = spark.createDataFrame([], "doc_id long, ptf long, dl long")
    if not terms:
        return empty
    blocks = index._snapshot_read(POSITIONS_SCHEMA, "positions").filter(
        F.col("term").isin(sorted(set(terms)))
    )
    if field is not None:
        index.field_stats(field)  # validates the field exists
        blocks = blocks.filter(F.col("field") == field)
    matched = blocks.groupBy("bucket").applyInPandas(
        lambda pdf: _match_bucket(pdf, terms, slop),
        schema="doc_id long, ptf long, dl long",
    )
    tomb = index.tombstones
    if len(tomb):
        tdf = spark.createDataFrame([(int(t),) for t in tomb], "doc_id long")
        matched = matched.join(F.broadcast(tdf), "doc_id", "left_anti")
    return matched


def phrase_topk(index: IndexStore, phrase_text: str, k: int = 10,
                params: BM25Params | None = None,
                field: str | None = None, slop: int = 0) -> DataFrame:
    """Top-k phrase BM25: (rank, doc_id, score).  ``slop`` relaxes the
    match to in-order occurrences with gaps ≤ 1 + slop (Lucene-style
    proximity, ordered variant); scoring is unchanged — the sloppy
    phrase is still ONE virtual term whose df/tf come from its matches.

    One bounded extra action (the matched-doc count → phrase df); the
    matched frame is cached across the two passes and released before
    returning — the result ships back as a ≤k-row local frame."""
    params = params or BM25Params()
    spark = index.spark
    schema = "rank long, doc_id long, score double"
    matched = phrase_match(index, phrase_text, field=field, slop=slop)
    matched = matched.persist()
    try:
        df_phrase = matched.count()
        if df_phrase == 0:
            return spark.createDataFrame([], schema)
        n, avgdl = index.field_stats(field)
        idf = float(bm25_idf(np.array([df_phrase]), n)[0])
        k1, b = params.k1, params.b
        ptf = F.col("ptf").cast("double")
        dl = F.col("dl").cast("double")
        # EXACTLY the bm25_term_score expression shape (left-assoc order
        # preserved → bit-identical float64 vs the numpy oracle kernel)
        denom = ptf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl / F.lit(avgdl))
        score = F.lit(idf) * ptf * F.lit(k1 + 1.0) / denom
        top = (
            matched.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        w = Window.partitionBy(constant_partition("doc_id")).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        rows = (
            top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "doc_id", "score")
            .collect()
        )
        return spark.createDataFrame(rows, schema) if rows else \
            spark.createDataFrame([], schema)
    finally:
        matched.unpersist()


def phrase_search(index: IndexStore, phrase_text: str, k: int = 10,
                  params: BM25Params | None = None, field: str | None = None,
                  page: int = 1, slop: int = 0,
                  with_metadata: bool = True) -> DataFrame:
    """Phrase top-k + doc metadata, mirroring engine.search's contract:
    candidate pool scales with the page, the doc_map probe is pruned to
    the hit buckets with a pushed doc_id IN filter, and the tiny ranked
    side broadcasts onto it."""
    from anisearch_model_spark.query.engine import probe_doc_map

    top = phrase_topk(index, phrase_text, k * page, params=params, field=field,
                      slop=slop)
    if page > 1:
        lo, hi = (page - 1) * k, page * k
        top = top.filter((F.col("rank") > lo) & (F.col("rank") <= hi))
    if not with_metadata:
        return top
    top_local, meta = probe_doc_map(
        index, top, ["doc_id", "conv_id", "turn_idx", "role"]
    )
    return (
        meta.join(F.broadcast(top_local), "doc_id", "inner")
        .select("rank", "doc_id", "conv_id", "turn_idx", "role", "score")
        .orderBy("rank")
    )
