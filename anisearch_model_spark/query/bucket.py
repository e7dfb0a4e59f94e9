"""One bucket's term-pruned posting blocks → per-doc scores: the single
decode-and-fold primitive, and the per-bucket kernels, of every BM25
scorer under ``query/``.

Buckets are disjoint doc-id ranges (index/build.py), so a doc's whole
score for a query is computable inside its bucket.  Each scorer's
bucket kernel is a plain function here of (one bucket's block frame,
the query state: idf, avgdl, k1, b, k, tombstones, ``allow``):
``bmw_bucket``, ``fold_bucket``, ``boolean_bucket`` and
``batch_bucket`` (phrase's ``_match_bucket`` and ``_top_candidates``
have the same shape).  The same function runs in one of two places:

  * on the driver, over the frames ``IndexStore.local_blocks`` reads
    with pyarrow from the manifest-listed buckets — when the request's
    summed dictionary df is at most ``engine.LOCAL_MAX_POSTINGS`` (0
    Spark jobs);
  * on executors, inside ``groupBy("bucket").applyInPandas`` over
    ``term_blocks`` with the query state broadcast — over the bound, or
    when the driver-side read fails.  No (term, doc) partial row ever
    crosses an exchange; only compressed blocks move, to their bucket
    group.

Both paths therefore return bit-identical results by construction.
Memory: a kernel holds one bucket's blocks for the query's terms, and
the driver at most ``LOCAL_MAX_POSTINGS`` postings' blocks over all
buckets (measured near the bound: 6 MB of peak RSS growth for a plain
request, 27 MB for a phrase request, whose kernels also decode each
posting's positions).

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

import heapq
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


# the per-bucket output of the top-k kernels, and the ranked result
MATCH_SCHEMA = "doc_id long, score double"
RANKED_SCHEMA = "rank long, doc_id long, score double"


def _matches(doc_ids, scores) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": np.asarray(doc_ids, dtype="int64"),
                         "score": np.asarray(scores, dtype="float64")})


def ranked(frames: list[pd.DataFrame], k: int) -> pd.DataFrame:
    """Per-bucket (doc_id, score) frames → the global top-k as (rank,
    doc_id, score): score DESC, doc_id ASC, dense 1-based rank — the
    driver-side merge of the kernels' local top-k, equal to the cluster
    path's ordered limit plus ``row_number``."""
    top = (pd.concat(frames, ignore_index=True) if frames
           else _matches([], [])).sort_values(
        ["score", "doc_id"], ascending=[False, True],
        kind="mergesort").head(k)
    return pd.DataFrame({"rank": np.arange(1, len(top) + 1, dtype="int64"),
                         "doc_id": top["doc_id"].to_numpy("int64"),
                         "score": top["score"].to_numpy("float64")})


def fold_bucket(pdf: pd.DataFrame, idf: dict[str, float], avgdl: float,
                k1: float, b: float,
                tomb: np.ndarray | None = None) -> pd.DataFrame:
    """Exhaustive kernel: every live doc of the bucket matching ≥1 term
    with its full BM25 score (``score_matches``, ``topk_exhaustive``)."""
    bp = BucketPostings(pdf)
    acc = bp.fold(bp.terms, idf, avgdl, k1, b)
    live = bp.live(tomb)
    return _matches(bp.universe[live], acc[live])


def bmw_bucket(pdf: pd.DataFrame, idf: dict[str, float], avgdl: float,
               k1: float, b: float, k: int,
               tomb: np.ndarray | None = None,
               allow: np.ndarray | None = None
               ) -> tuple[pd.DataFrame, int]:
    """Block-max kernel (``topk_bmw``): the bucket's local top-k and the
    number of blocks it decoded.

    Per-block BM25 upper bounds come from block METADATA only
    (``max_tf``/``min_dl``/``first``/``last`` — no decode); the doc
    range is walked in block-aligned segments in descending summed-bound
    order, and a posting block is DECODED only when a surviving segment
    needs it (cached: a block spanning two segments decodes once).
    Pruning is STRICT (``bound < θ``) with a hair of headroom, so a doc
    scoring exactly θ is still scored.  ``tomb`` (exclusive) and
    ``allow`` (inclusive) are sorted doc-id arrays applied at segment
    admission."""
    if pdf.empty:
        return _matches([], []), 0
    # blocks in (term, first_doc_id) order: term-ascending block order
    # is the fixed float64 summation order
    bp = BucketPostings(pdf)
    pdf = bp.blocks
    idf_arr = pdf["term"].map(idf).to_numpy("float64")
    # per-block bound from metadata ONLY — nothing decoded yet
    bound_arr = bm25_term_score(
        pdf["max_tf"].to_numpy("int64"), pdf["min_dl"].to_numpy("int64"),
        idf_arr, avgdl, k1, b,
    )
    first = pdf["first_doc_id"].to_numpy("int64")
    last = pdf["last_doc_id"].to_numpy("int64")
    lo = int(first.min())
    seg = 1024  # docs per pruning segment
    n_seg = int((int(last.max()) - lo) // seg + 1)
    s0 = (first - lo) // seg
    s1 = (last - lo) // seg
    # per-segment bound = Σ over TERMS of the MAX overlapping block
    # bound for that term (a doc receives at most one contribution per
    # term — summing a term's blocks would overestimate by the number
    # of its blocks in the segment and kill all pruning); inflated a
    # hair so it stays an upper bound under float reordering
    seg_bound = np.zeros(n_seg, dtype="float64")
    tcodes = pd.factorize(pdf["term"].to_numpy(), sort=True)[0]
    for tc in range(tcodes.max() + 1):
        sb_t = np.zeros(n_seg, dtype="float64")
        for bi in np.nonzero(tcodes == tc)[0]:
            a, z = int(s0[bi]), int(s1[bi]) + 1
            np.maximum(sb_t[a:z], bound_arr[bi], out=sb_t[a:z])
        seg_bound += sb_t
    seg_bound = seg_bound * (1 + 1e-9) + 1e-12
    # segment → overlapping block rows (bi ascending = term ascending)
    seg_blocks: list[list[int]] = [[] for _ in range(n_seg)]
    for bi in range(len(pdf)):
        for s in range(int(s0[bi]), int(s1[bi]) + 1):
            seg_blocks[s].append(bi)

    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
    # descending bound order → θ grows fast, later segments prune/break
    for si in np.argsort(-seg_bound, kind="stable"):
        theta = heap[0][0] if len(heap) >= k else -np.inf
        if seg_bound[si] < theta:
            break  # every remaining segment has bound ≤ this one
        s_lo = lo + int(si) * seg
        s_hi = s_lo + seg
        local = np.zeros(seg, dtype="float64")
        hit = np.zeros(seg, dtype=bool)
        for bi in seg_blocks[si]:
            d, ps = bp.block_scores(bi, idf_arr[bi], avgdl, k1, b)
            a = int(np.searchsorted(d, s_lo))
            z = int(np.searchsorted(d, s_hi))
            if a < z:
                off = d[a:z] - s_lo
                local[off] += ps[a:z]
                hit[off] = True
        # vectorized admission: of the segment's hit docs only ≤k can
        # enter the heap, so select the k best BY SCORE first (keeping
        # every doc tied with the kth score — the (score, -doc_id)
        # tie-break must see all boundary ties) and drop anything
        # strictly below the current heap minimum.  On a poorly-pruning
        # all-hot-terms query this turns the per-posting Python loop
        # into two numpy selections + ≤k pushes per segment.
        idxs = np.nonzero(hit)[0]
        # tombstoned or outside the filter: never admit
        idxs = idxs[live_mask(s_lo + idxs, tomb, allow)]
        if len(heap) >= k and len(idxs):
            idxs = idxs[local[idxs] >= heap[0][0]]
        if len(idxs) > k:
            scores = local[idxs]
            kth = np.partition(scores, len(scores) - k)[len(scores) - k]
            idxs = idxs[scores >= kth]
        for i in idxs:
            item = (float(local[i]), -(s_lo + int(i)))
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
    return (_matches([-d for _, d in heap], [s for s, _ in heap]),
            bp.n_decoded)


def boolean_bucket(pdf: pd.DataFrame, scoring: list[str],
                   clauses: list[list[str]], prohibited: list[str],
                   idf: dict[str, float], avgdl: float, k1: float,
                   b: float, k: int,
                   tomb: np.ndarray | None = None) -> pd.DataFrame:
    """Boolean kernel (``boolean_topk``): the bucket's local top-k of
    live docs hit by a ``scoring`` term, by SOME member of every
    required clause and by no ``prohibited`` term — all numpy masks
    over the bucket's doc universe, scored by the ordinary fold."""
    bp = BucketPostings(pdf)
    acc = bp.fold(scoring, idf, avgdl, k1, b)
    keep = bp.hits(scoring) & bp.live(tomb)
    for c in clauses:
        keep &= bp.hits(c)
    if prohibited:
        keep &= ~bp.hits(prohibited)
    idxs = np.nonzero(keep)[0]
    idxs = idxs[top_k(bp.universe[idxs], acc[idxs], k)]
    return _matches(bp.universe[idxs], acc[idxs])


def batch_bucket(pdf: pd.DataFrame, qterms: dict[int, list[str]],
                 idf: dict[str, float], avgdl: float, k1: float, b: float,
                 k: int, tomb: np.ndarray | None = None) -> pd.DataFrame:
    """Query-set kernel (``batch_topk``): per query id, the bucket's
    local top-k as (query_id, doc_id, score); the blocks decode once for
    every query."""
    bp = BucketPostings(pdf)
    live = bp.live(tomb)
    outs = []
    for qid, terms in qterms.items():
        acc = bp.fold(terms, idf, avgdl, k1, b)
        idxs = np.nonzero(bp.hits(terms) & live)[0]
        idxs = idxs[top_k(bp.universe[idxs], acc[idxs], k)]
        outs.append(pd.DataFrame({
            "query_id": np.full(len(idxs), qid, dtype="int64"),
            "doc_id": bp.universe[idxs],
            "score": acc[idxs],
        }))
    return pd.concat(outs, ignore_index=True)
