"""Text normalization + tokenization — THE shared contract.

This module is the single implementation of the text pipeline used by BOTH
the distributed Spark engine (wrapped in vectorized pandas UDFs) and the
single-node oracle (`query/oracle.py`).  Sharing one function is what makes
"rank-identical to the reference engine" achievable: the reference diverged
between its api path (strip only, ``src/api.py:413``) and its test path
(full normalize, ``src/test.py:153``); we normalize both sides identically.

Pipeline (mirrors reference ``preprocess_text`` at ``src/common.py:45-101``,
steps F1-F9 of SURVEY.md §2.7; lemmatization F10 intentionally dropped from
the contract):

  1. strip surrounding whitespace              (common.py:70)
  2. lowercase                                 (common.py name path :184-199)
  3. expand contractions (frozen table)        (common.py:71)
  4. accent folding: NFKD + drop non-ASCII     (common.py:72, unidecode)
  5. collapse runs of whitespace               (common.py:73-75)
  6. unwrap symmetric wrapping quotes          (common.py:77-80)
  7. remove URLs                               (common.py:81-83)
  8. remove boilerplate tails                  (common.py:85-89)
  9. tokenize on [a-z0-9]+ runs                (common.py:91, stricter)
 10. drop stopwords (frozen list)              (common.py:92)

Everything is pandas ``.str`` ops (C-level, vectorized) — no per-row Python
loops, per the input_hint mandate.
"""

from __future__ import annotations

import re
import sys

import numpy as np
import pandas as pd

from anisearch_model_spark.config import CONTRACTIONS, STOPWORDS

_CONTRACTION_RE = re.compile(
    "|".join(re.escape(k) for k in sorted(CONTRACTIONS, key=len, reverse=True))
)
_WS_RE = re.compile(r"\s+")
# URL + boilerplate tails fused into ONE alternation (one pass over the
# corpus instead of three; branches have disjoint match starts so the
# result equals sequential application)
_STRIP_RE = re.compile(
    r"http\S+|www\S+|\[written by .*?\].*$|\(source:.*?\).*$", re.DOTALL
)
_NON_ASCII_RE = re.compile(r"[^\x00-\x7f]")
_TOKEN_RE = re.compile(r"[a-z0-9]+")


def _expand(m: "re.Match[str]") -> str:
    return CONTRACTIONS[m.group(0)]


def normalize_series(s: pd.Series) -> pd.Series:
    """Normalize a Series of raw strings → Series of cleaned strings.

    Hot path: each ``.str`` pass copies the whole batch, so expensive
    passes (contractions, NFKD accent folding) run only on the masked
    subset of rows that can be affected — with Zipf-ish corpora that is
    a few percent — cutting per-core memory traffic, which is what bounds
    build throughput at high parallelism.
    """
    s = s.fillna("").astype(str)
    s = s.str.strip()
    s = s.str.lower()
    # contraction expansion only where an apostrophe exists
    has_apo = s.str.contains("'", regex=False)
    if has_apo.any():
        s = s.where(~has_apo, s.str.replace(_CONTRACTION_RE, _expand, regex=True))
    # accent fold (NFKD-decompose, drop non-ASCII) only on non-ASCII rows
    non_ascii = s.str.contains(_NON_ASCII_RE, regex=True)
    if non_ascii.any():
        folded = (
            s[non_ascii]
            .str.normalize("NFKD")
            .str.encode("ascii", "ignore")
            .str.decode("ascii")
        )
        s = s.copy()
        s.loc[non_ascii] = folded
    s = s.str.replace(_WS_RE, " ", regex=True)
    # unwrap symmetric wrapping quotes (single pass, like the reference)
    quoted = (s.str.startswith('"') & s.str.endswith('"')) | (
        s.str.startswith("'") & s.str.endswith("'")
    )
    quoted &= s.str.len() >= 2
    s = s.where(~quoted, s.str.slice(1, -1))
    s = s.str.replace(_STRIP_RE, "", regex=True)
    s = s.str.strip()
    return s


_STOPWORDS_ARR = None  # lazily-built pyarrow value set for is_in
_ARROW_FALLBACK_WARNED = False  # the pandas fallback warns once per process


def _kept_token_stream(norm: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(row_positions, kept_tokens) for an already-NORMALIZED series:
    maximal ``[a-z0-9]+`` runs in row-major order with stopwords removed
    — the flat token stream the index-build kernels consume.

    Served by Arrow's C++ regex split: splitting on the complement class
    and dropping empty pieces is EXACTLY findall of the maximal runs,
    for any input (a character-class identity, not a corpus property),
    and ``is_in`` compares bytes just like pandas ``isin`` — so the
    output is provably identical to the pandas path while skipping the
    object-dtype findall/explode round-trip (~1.5× less tokenize CPU,
    measured; the kernels run this on every batch of every build).
    ``kept_tokens`` stays a ``pyarrow.Array`` on this path so consumers
    can keep working in Arrow (dictionary_encode instead of factorize)
    without materializing millions of Python strings.  Any failure
    falls back to the pandas path, which returns an object ndarray —
    consumers accept either — and prints a one-time stderr warning."""
    global _STOPWORDS_ARR, _ARROW_FALLBACK_WARNED
    try:
        import pyarrow as pa
        import pyarrow.compute as pc

        if _STOPWORDS_ARR is None:
            _STOPWORDS_ARR = pa.array(sorted(STOPWORDS))
        arr = pa.Array.from_pandas(norm)
        split = pc.split_pattern_regex(arr, "[^a-z0-9]+")
        flat = pc.list_flatten(split)
        keep = pc.and_(
            pc.not_equal(flat, ""),
            pc.invert(pc.is_in(flat, value_set=_STOPWORDS_ARR)),
        )
        offs = np.asarray(split.offsets)
        row_of = np.repeat(np.arange(len(split), dtype="int64"),
                           np.diff(offs))
        mask = np.asarray(keep.fill_null(False))
        return row_of[mask], pc.filter(flat, keep)
    except Exception as e:  # noqa: BLE001 — any Arrow failure falls back
        if not _ARROW_FALLBACK_WARNED:
            _ARROW_FALLBACK_WARNED = True
            print(f"warning: Arrow tokenizer failed ({e!r}); falling back "
                  "to the pandas tokenizer", file=sys.stderr)
        toks = norm.str.findall(_TOKEN_RE)
        exploded = toks.explode()
        kept = exploded[exploded.notna() & ~exploded.isin(STOPWORDS)]
        return kept.index.to_numpy(dtype="int64"), kept.to_numpy()


def tokenize_series(s: pd.Series) -> pd.Series:
    """Raw strings → Series of token lists (normalized, stopwords removed)."""
    orig_index = s.index
    s = s.reset_index(drop=True)
    norm = normalize_series(s)
    toks = norm.str.findall(_TOKEN_RE)
    if len(toks) == 0:
        toks.index = orig_index
        return toks
    # stopword filter, vectorized via explode/isin rather than per-row loops
    exploded = toks.explode()
    kept = exploded[exploded.notna() & ~exploded.isin(STOPWORDS)]
    grouped = kept.groupby(level=0).agg(list)
    out = grouped.reindex(range(len(toks)))
    out = out.map(lambda v: v if isinstance(v, list) else [])
    out.index = orig_index
    return out


_EMPTY_TF = {
    "doc_id": pd.Series(dtype="int64"),
    "term": pd.Series(dtype=object),
    "tf": pd.Series(dtype="int64"),
    "doc_len": pd.Series(dtype="int64"),
}


def term_frequency_frame(doc_ids: pd.Series, texts: pd.Series) -> pd.DataFrame:
    """Vectorized (doc_id, term, tf) + doc_len extraction for a batch.

    Returns a DataFrame with columns ``doc_id, term, tf, doc_len`` where
    ``doc_len`` is the post-stopword token count of the document (repeated
    per term row).  This runs inside ``mapInPandas`` during index build, so
    tf is pre-aggregated map-side before any shuffle.

    Counting uses factorize + np.unique on an integer (row, term) key
    instead of a pandas groupby over object columns — ~2× less CPU and
    memory traffic in the hottest loop of the whole engine.
    """
    norm = normalize_series(texts.reset_index(drop=True))
    row_pos, kept_vals = _kept_token_stream(norm)
    if len(kept_vals) == 0:
        return pd.DataFrame(_EMPTY_TF)
    if isinstance(kept_vals, np.ndarray):
        tcodes, tuniq = pd.factorize(kept_vals)
    else:
        # Arrow path: dictionary_encode assigns codes in first-occurrence
        # order exactly like factorize, hashing Arrow buffers instead of
        # millions of per-token Python strings; only the UNIQUE terms are
        # ever materialized as objects
        import pyarrow.compute as pc

        d = pc.dictionary_encode(kept_vals)
        tcodes = np.asarray(d.indices).astype("int64")
        tuniq = np.asarray(d.dictionary)
    key = row_pos * len(tuniq) + tcodes
    uk, counts = np.unique(key, return_counts=True)
    doc_pos = uk // len(tuniq)
    term_idx = (uk % len(tuniq)).astype("int64")
    doc_len = np.bincount(row_pos, minlength=len(norm))
    ids = doc_ids.to_numpy()
    return pd.DataFrame(
        {
            "doc_id": ids[doc_pos].astype("int64"),
            "term": tuniq[term_idx],
            "tf": counts.astype("int64"),
            "doc_len": doc_len[doc_pos].astype("int64"),
        }
    )


_EMPTY_POS = {
    "doc_id": pd.Series(dtype="int64"),
    "term": pd.Series(dtype=object),
    "pos": pd.Series(dtype="int64"),
    "doc_len": pd.Series(dtype="int64"),
}


def positions_frame(doc_ids: pd.Series, texts: pd.Series) -> pd.DataFrame:
    """Vectorized (doc_id, term, pos) occurrence extraction for a batch.

    One row per KEPT token occurrence; ``pos`` is the 0-based index of the
    occurrence in the document's post-stopword token stream (the same
    stream whose length is BM25 ``dl``, so ``positions_frame`` and
    ``term_frequency_frame`` agree on doc_len and tf by construction).
    Positions over the filtered stream — rather than the raw stream with
    stopword holes — make "exact phrase" mean *phrase with stopwords
    elided*, which is the only phrase a stopword-eliding index can promise
    (Lucene with a stop filter and no position increments behaves the
    same way).  Runs inside ``mapInPandas`` during the positions build;
    everything is numpy segment arithmetic, no per-row Python.
    """
    norm = normalize_series(texts.reset_index(drop=True))
    row_pos, kept_vals = _kept_token_stream(norm)
    if len(kept_vals) == 0:
        return pd.DataFrame(_EMPTY_POS)
    if not isinstance(kept_vals, np.ndarray):
        kept_vals = np.asarray(kept_vals)  # Arrow → object ndarray
    # row_pos is nondecreasing: the flat stream is in row-major order
    new_doc = np.empty(len(row_pos), dtype=bool)
    new_doc[0] = True
    new_doc[1:] = row_pos[1:] != row_pos[:-1]
    seg_start = np.nonzero(new_doc)[0]
    seg_id = np.cumsum(new_doc) - 1
    pos = np.arange(len(row_pos), dtype="int64") - seg_start[seg_id]
    doc_len = np.bincount(row_pos, minlength=len(norm))
    ids = doc_ids.to_numpy()
    return pd.DataFrame(
        {
            "doc_id": ids[row_pos].astype("int64"),
            "term": kept_vals,
            "pos": pos,
            "doc_len": doc_len[row_pos].astype("int64"),
        }
    )


def bm25_idf(df: np.ndarray, n_docs: int) -> np.ndarray:
    """Lucene-style non-negative BM25 idf: ln(1 + (N - df + .5)/(df + .5))."""
    df = np.asarray(df, dtype="float64")
    return np.log1p((n_docs - df + 0.5) / (df + 0.5))


def bm25_term_score(
    tf: np.ndarray, dl: np.ndarray, idf: np.ndarray, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """Per-(term, doc) BM25 partial score; float64 throughout.

    Replaces the reference's 1×N cosine kernel (``src/api.py:270-313``).
    """
    tf = np.asarray(tf, dtype="float64")
    dl = np.asarray(dl, dtype="float64")
    denom = tf + k1 * (1.0 - b + b * dl / avgdl)
    return np.asarray(idf, dtype="float64") * tf * (k1 + 1.0) / denom
