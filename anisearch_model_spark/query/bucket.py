"""One bucket's term-pruned posting blocks → per-doc scores: the single
decode-and-fold primitive every BM25 scorer under ``query/`` consumes.

Buckets are disjoint doc-id ranges (index/build.py), so a doc's whole
score for a query is computable inside its bucket: a scorer scans the
query terms' blocks once (``term_blocks``), groups them by bucket, and
runs one ``applyInPandas`` kernel per bucket over a ``BucketPostings``.
No (term, doc) partial row ever crosses an exchange — only compressed
blocks move, to their bucket group.

Invariants every consumer inherits:

  * each block decodes at most once per kernel call (lazy, cached);
  * the per-doc fold adds partial scores from 0.0 in ASCENDING TERM
    order (left-associative float64) — the engine's fixed summation
    order, so every scorer, the SQL oracle and ``explain_score`` agree
    bit for bit;
  * tombstoned docs are masked inside the kernel (a dead doc must never
    take a top-k slot a live doc needed), never by a join.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anisearch_model_spark.functions.normalize import bm25_term_score
from anisearch_model_spark.index.codec import decode_posting_block

# the block columns a decode needs (plus ``term``, its group key)
BLOCK_COLS = ("term", "first_doc_id", "doc_deltas", "tfs", "dls")


def term_blocks(index, terms: Iterable[str], field: str | None = None,
                cols: Iterable[str] = ("bucket",) + BLOCK_COLS) -> DataFrame:
    """The query terms' posting blocks: ``term IN`` reaches the Parquet
    reader as a pushed filter (row groups are term-sorted), and ``field``
    — a partition column — prunes directories at planning time."""
    blocks = index.postings.filter(F.col("term").isin(sorted(set(terms))))
    if field is not None:
        blocks = blocks.filter(F.col("field") == field)
    return blocks.select(*cols)


def raw_postings(index, terms: Iterable[str],
                 fields: Iterable[str] | None = None) -> DataFrame:
    """Decoded ``(field, doc_id, term, tf, dl)`` rows for ``terms``,
    optionally restricted to ``fields`` — the un-scored relation for
    models that combine raw tf/dl BEFORE saturating (BM25F across
    fields, blended synonym groups), where a per-term partial score is
    the wrong intermediate."""
    blocks = term_blocks(index, terms, cols=("field",) + BLOCK_COLS)
    if fields is not None:
        blocks = blocks.filter(F.col("field").isin(sorted(set(fields))))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bp = BucketPostings(pdf)
            outs = []
            for i in range(bp.n_blocks):
                d, tf, dl = bp.block(i)
                outs.append(pd.DataFrame({
                    "field": bp.blocks["field"].iat[i], "doc_id": d,
                    "term": bp.blocks["term"].iat[i], "tf": tf, "dl": dl}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return blocks.mapInPandas(
        decode, schema="field string, doc_id long, term string, "
                       "tf long, dl long")


def top_k(doc_ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Positions of the ``k`` best (score DESC, doc_id ASC) entries — a
    kernel's local top-k, exact under the global tie-break."""
    if len(doc_ids) <= k:
        return np.arange(len(doc_ids))
    return np.lexsort((doc_ids, -scores))[:k]


class BucketPostings:
    """One bucket's posting blocks (any subset of terms), decoded lazily.

    Blocks are ordered (term, first_doc_id).  A term's blocks hold
    disjoint doc sets (fields partition docs), so each doc takes at most
    one contribution per term.  The *universe* is the sorted union of
    every present term's docs; masks and folds are arrays aligned with
    it.
    """

    def __init__(self, pdf: pd.DataFrame):
        self.blocks = pdf.sort_values(
            ["term", "first_doc_id"], kind="mergesort").reset_index(drop=True)
        self.n_blocks = len(self.blocks)
        # term → [start, stop) row span in the sorted block frame
        self._span: dict[str, tuple[int, int]] = {}
        for i, t in enumerate(self.blocks["term"].tolist()):
            self._span[t] = (self._span.get(t, (i, i))[0], i + 1)
        self.terms = sorted(self._span)
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._scored: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._pscore: dict[tuple, np.ndarray] = {}
        self._codes: dict[str, np.ndarray] = {}
        self._universe: np.ndarray | None = None
        self._raw: tuple | None = None  # per-block column values

    @property
    def n_decoded(self) -> int:
        """Blocks decoded so far (BMW's pruning observability)."""
        return len(self._decoded)

    def block(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Block ``i`` → (doc_ids, tfs, dls), int64, decoded once."""
        ent = self._decoded.get(i)
        if ent is None:
            if self._raw is None:
                self._raw = tuple(self.blocks[c].tolist() for c in BLOCK_COLS[1:])
            first, deltas, tfs, dls = (col[i] for col in self._raw)
            ent = self._decoded[i] = decode_posting_block(
                {"first_doc_id": first, "doc_deltas": deltas, "tfs": tfs,
                 "dls": dls})
        return ent

    def block_scores(self, i: int, idf_t: float, avgdl: float, k1: float,
                     b: float) -> tuple[np.ndarray, np.ndarray]:
        """Block ``i`` → (doc_ids, BM25 partial scores) — the lazy,
        cached per-block view the block-max scorer walks."""
        ent = self._scored.get(i)
        if ent is None:
            d, tf, dl = self.block(i)
            ent = self._scored[i] = (
                d, bm25_term_score(tf, dl, np.full(len(tf), idf_t),
                                   avgdl, k1, b))
        return ent

    def term(self, t: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Present term ``t``'s (doc_ids, tfs, dls), concatenated across
        its blocks."""
        ent = self._term.get(t)
        if ent is None:
            a, z = self._span[t]
            ent = self._term[t] = tuple(
                np.concatenate(col)
                for col in zip(*(self.block(i) for i in range(a, z))))
        return ent

    @property
    def universe(self) -> np.ndarray:
        """Sorted distinct doc ids over every present term."""
        if self._universe is None:
            self._universe = np.unique(np.concatenate(
                [self.term(t)[0] for t in self.terms]
                or [np.empty(0, dtype=np.int64)]))
        return self._universe

    def _term_codes(self, t: str) -> np.ndarray:
        c = self._codes.get(t)
        if c is None:
            c = self._codes[t] = np.searchsorted(self.universe, self.term(t)[0])
        return c

    def hits(self, terms: Iterable[str]) -> np.ndarray:
        """Universe mask: docs containing ANY of ``terms``."""
        m = np.zeros(len(self.universe), dtype=bool)
        for t in terms:
            if t in self._span:
                m[self._term_codes(t)] = True
        return m

    def fold(self, terms: Iterable[str], idf: dict[str, float], avgdl: float,
             k1: float, b: float) -> np.ndarray:
        """Universe-aligned BM25 scores over ``terms``: partials added
        from 0.0 in ascending term order (the fixed fold order).  A doc
        hit by none of them scores 0.0 — mask with ``hits``."""
        acc = np.zeros(len(self.universe), dtype="float64")
        for t in sorted(set(terms)):
            if t not in self._span:
                continue
            key = (t, idf[t], avgdl, k1, b)
            ps = self._pscore.get(key)
            if ps is None:
                _d, tf, dl = self.term(t)
                ps = self._pscore[key] = bm25_term_score(
                    tf, dl, np.full(len(tf), idf[t]), avgdl, k1, b)
            acc[self._term_codes(t)] += ps
        return acc

    def live(self, tomb: np.ndarray | None = None) -> np.ndarray:
        """Universe mask of docs not in the sorted tombstone array."""
        return live_mask(self.universe, tomb)


def live_mask(ids: np.ndarray, tomb: np.ndarray | None = None,
              allow: np.ndarray | None = None) -> np.ndarray:
    """Mask over ``ids`` of admissible docs: not in the sorted tombstone
    array ``tomb`` and — when given — in the sorted ``allow`` array (a
    metadata filter's admissible ids)."""
    ok = np.ones(len(ids), dtype=bool)
    for arr, want in ((tomb, False), (allow, True)):
        if arr is None:
            continue
        if len(arr) == 0:
            ok &= not want
            continue
        pos = np.minimum(np.searchsorted(arr, ids), len(arr) - 1)
        ok &= (arr[pos] == ids) == want
    return ok
