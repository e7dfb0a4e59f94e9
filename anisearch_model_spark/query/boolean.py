"""Boolean BM25 queries: ``+required -prohibited optional`` clauses.

Lucene-classic semantics over the posting index:

  * a matching doc contains EVERY ``+term``, NO ``-term``, and at least
    one scoring term (required terms score too — Lucene's MUST);
  * score = the ordinary BM25 sum over the doc's required + optional
    terms, ascending-term float64 fold — identical to the plain scorers,
    so a boolean query with no +/- clauses ranks exactly like ``search``;
  * a pure-negative query (only ``-`` clauses) matches nothing (Lucene's
    pure-negative contract);
  * ordering: score DESC, doc_id ASC, dense 1-based rank.

Clause markers are QUERY SYNTAX, not text: ``-state-of-the-art`` is the
prohibited stem ``state`` plus literal tokens ``of/the/art`` — exactly
what a ``-`` prefix means to Lucene's classic parser.  Markers bind to
the whitespace token they prefix; the stem then runs through the shared
tokenizer (a multi-token stem contributes ALL its tokens to the clause).

Scale shape: ONE block read covers scoring and prohibited terms
(term-IN pushdown, field partition pruning), then one kernel per
doc-range bucket (``bucket.boolean_bucket``) does all the per-doc work
as numpy masks over the bucket's doc universe: the score fold, each
required clause (OR of its members' hits, AND-ed across clauses), the
prohibited mask (OR of the prohibited terms' hits) and the tombstone
mask.  Buckets are disjoint doc ranges, so a doc's clause satisfaction
is decided inside its bucket — no aggregate, no join.  Each bucket
emits its local top-k, and the global page merges ≤ |buckets|·k rows:
on the driver under the driver bound (query/engine.py), else as an
``applyInPandas`` plan whose only exchange moves compressed blocks,
topped by a TakeOrderedAndProject.

The reference engine has no boolean operators at all (dense cosine over
whole descriptions, ``src/api.py:270-313``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from anisearch_model_spark.config import BM25Params, MAX_QUERY_CHARS
from anisearch_model_spark.query.bucket import (
    BLOCK_COLS, MATCH_SCHEMA, boolean_bucket, ranked, term_blocks)
from anisearch_model_spark.query.engine import (
    IndexStore, _broadcast, _tombstones, _value, as_frame, idf_of, page_of,
    rank_top)


def parse_boolean(query_text: str) -> tuple[list[str], list[str], list[str]]:
    """Query string → (required, optional, prohibited) RAW clause stems,
    markers stripped but stems unparsed — a stem may itself be a prefix
    (``bat*``) or fuzzy (``tabel~``) pattern, resolved against the
    dictionary at query time.  A stem appearing under two markers
    resolves required > prohibited > optional (``+x -x x`` is a
    contradiction the caller meant as MUST; Lucene parses it the same
    way: the last explicit marker wins — we pick the strongest)."""
    if query_text is None or len(query_text) > MAX_QUERY_CHARS:
        raise ValueError(f"query must be a string of <= {MAX_QUERY_CHARS} chars")
    req: set[str] = set()
    pro: set[str] = set()
    opt: set[str] = set()
    for w in query_text.split():
        if w.startswith("+") and len(w) > 1:
            req.add(w[1:])
        elif w.startswith("-") and len(w) > 1:
            pro.add(w[1:])
        else:
            opt.add(w)
    pro -= req
    opt -= req | pro
    return sorted(req), sorted(opt), sorted(pro)


def _expand_stem(index: IndexStore, stem: str,
                 field: str | None) -> tuple[list[str], list[list[str]]]:
    """One raw stem → (literal terms, pattern clauses).  Each literal is
    its own AND-able unit; each ``*``/``~`` pattern becomes ONE clause
    whose members are its dictionary expansion (OR within the clause —
    ``+bat*`` means "must contain SOME bat-prefixed term", the Lucene
    multi-term-in-boolean semantics)."""
    from anisearch_model_spark.query.engine import (
        expand_fuzzy,
        expand_prefixes,
        parse_query_terms,
    )

    lits, prefixes, fuzzy = parse_query_terms(stem)
    pattern_clauses: list[list[str]] = []
    for p in prefixes:
        pattern_clauses.append(sorted(expand_prefixes(index, [p], field=field)))
    for fz in fuzzy:
        pattern_clauses.append(sorted(expand_fuzzy(index, [fz], field=field)))
    return lits, pattern_clauses


def boolean_topk(index: IndexStore, query_text: str, k: int = 10,
                 params: BM25Params | None = None,
                 field: str | None = None) -> DataFrame:
    """Top-k boolean BM25: (rank, doc_id, score).

    Required clauses are satisfied per CLAUSE: a literal stem's tokens
    are each their own clause (all must appear), a pattern stem's
    expansion is one OR-clause (some member must appear).  Satisfaction,
    prohibition and liveness are per-bucket doc masks inside the same
    kernel as the score fold (``bucket.boolean_bucket``) — a term in two
    clauses is read from ONE decoded block.  The kernels run on the
    driver when the scoring and prohibited terms' summed df is within
    the driver bound (query/engine.py), else in ``applyInPandas``."""
    return as_frame(index.spark,
                    _boolean_top(index, query_text, k, params, field))


def _boolean_top(index: IndexStore, query_text: str, k: int,
                 params: BM25Params | None,
                 field: str | None) -> "pd.DataFrame | DataFrame":
    params = params or BM25Params()
    spark = index.spark
    req_stems, opt_stems, pro_stems = parse_boolean(query_text)

    clauses: list[list[str]] = []
    optional: set[str] = set()
    prohibited: set[str] = set()
    for stem in req_stems:
        lits, patterns = _expand_stem(index, stem, field)
        clauses.extend([t] for t in lits)
        clauses.extend(patterns)
    for stem in opt_stems:
        lits, patterns = _expand_stem(index, stem, field)
        optional.update(lits)
        for p in patterns:
            optional.update(p)
    for stem in pro_stems:
        lits, patterns = _expand_stem(index, stem, field)
        prohibited.update(lits)
        for p in patterns:
            prohibited.update(p)

    scoring = sorted({t for c in clauses for t in c} | optional)
    if not scoring:
        return ranked([], k)  # pure-negative (or empty) query matches nothing
    _, avgdl = index.field_stats(field)
    dfs = index.term_dfs(scoring, field=field)
    idf = idf_of(index, dfs, field)
    if not idf:
        return ranked([], k)
    # a clause with no corpus-present member can never be satisfied
    clauses = [[t for t in c if t in idf] for c in clauses]
    if any(not c for c in clauses):
        return ranked([], k)

    k1, b = params.k1, params.b
    tomb = _tombstones(index)
    scoring = sorted(idf)  # corpus-present scoring terms
    pro = sorted(prohibited)
    n_postings = sum(dfs.values()) + sum(
        index.term_dfs(pro, field=field).values())
    local = index.local_blocks(scoring + pro, n_postings, field, BLOCK_COLS)
    if local is not None:
        return ranked([boolean_bucket(pdf, scoring, clauses, pro, idf, avgdl,
                                      k1, b, k, tomb)
                       for pdf in local.values()], k)
    bidf = _broadcast(spark, idf)
    btomb = _broadcast(spark, tomb)
    scored = term_blocks(index, scoring + pro, field).groupBy(
        "bucket").applyInPandas(
        lambda pdf: boolean_bucket(pdf, scoring, clauses, pro, bidf.value,
                                   avgdl, k1, b, k, _value(btomb)),
        schema=MATCH_SCHEMA)
    return rank_top(scored, k)


def boolean_search(index: IndexStore, query_text: str, k: int = 10,
                   params: BM25Params | None = None, field: str | None = None,
                   page: int = 1, with_metadata: bool = True) -> DataFrame:
    """Boolean top-k + doc metadata (``engine.page_of``)."""
    return page_of(index, _boolean_top(index, query_text, k * page, params,
                                       field), k, page, with_metadata)
