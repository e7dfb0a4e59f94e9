"""The Arrow-split token stream must be byte-identical to the pandas
findall path for ANY input — split on the complement class + drop empty
pieces is findall of the maximal [a-z0-9]+ runs, and is_in compares the
same bytes as isin.  These cases cover the edges where the two engines
could plausibly diverge (empties, all-stopword rows, non-ASCII
separators, digits, giant tokens, null-ish rows)."""

import numpy as np
import pandas as pd

from anisearch_model_spark.functions import normalize as nz


def _pandas_stream(norm: pd.Series):
    toks = norm.str.findall(nz._TOKEN_RE)
    exploded = toks.explode()
    kept = exploded[exploded.notna() & ~exploded.isin(nz.STOPWORDS)]
    return kept.index.to_numpy(dtype="int64"), kept.to_numpy()


CASES = [
    "hero battle magic",
    "",
    "   ",
    "the and of a",                      # all stopwords
    "..,;:!?",                           # no tokens at all
    "x" * 5000,                          # one giant token
    "a1b2c3 42 0",                       # digit runs
    "tab\tnew\nline mix",                # whitespace separators
    "café naïve 世界塦", # non-ASCII separators mid-row
    "-leading and trailing-",
    "double  spaces   here",
    "punct-uated.words,here",
]


def test_arrow_stream_matches_pandas_stream():
    norm = nz.normalize_series(pd.Series(CASES * 7))
    rp_a, kv_a = nz._kept_token_stream(norm)
    rp_p, kv_p = _pandas_stream(norm)
    assert np.array_equal(rp_a, rp_p)
    assert list(np.asarray(kv_a)) == list(kv_p)


def test_frames_identical_under_both_paths(monkeypatch):
    """term_frequency_frame / positions_frame over the Arrow stream must
    equal the frames computed with the pandas fallback forced."""
    texts = pd.Series(CASES * 5)
    ids = pd.Series(np.arange(len(texts), dtype="int64"))
    tf_a = nz.term_frequency_frame(ids, texts)
    pos_a = nz.positions_frame(ids, texts)

    def forced_fallback(norm):
        return _pandas_stream(norm)

    monkeypatch.setattr(nz, "_kept_token_stream", forced_fallback)
    tf_p = nz.term_frequency_frame(ids, texts)
    pos_p = nz.positions_frame(ids, texts)
    pd.testing.assert_frame_equal(
        tf_a.reset_index(drop=True), tf_p.reset_index(drop=True))
    pd.testing.assert_frame_equal(
        pos_a.reset_index(drop=True), pos_p.reset_index(drop=True))


def test_stream_agrees_with_tokenize_series():
    """The flat stream regrouped per row equals tokenize_series (which
    still uses the original findall path) — the two tokenizer surfaces
    cannot drift."""
    texts = pd.Series(CASES)
    norm = nz.normalize_series(texts)
    rp, kv = nz._kept_token_stream(norm)
    regrouped = [[] for _ in range(len(texts))]
    for r, v in zip(rp, np.asarray(kv)):
        regrouped[int(r)].append(v)
    assert regrouped == list(nz.tokenize_series(texts))


def test_arrow_failure_falls_back_with_one_warning(monkeypatch, capsys):
    """A failing Arrow split falls back to the pandas tokenizer with the
    same tokens, and says so on stderr once per process, not per call."""
    import pyarrow.compute as pc

    norm = nz.normalize_series(pd.Series(CASES * 3))
    rp_a, kv_a = nz._kept_token_stream(norm)

    def broken(*args, **kwargs):
        raise RuntimeError("split unavailable")

    monkeypatch.setattr(pc, "split_pattern_regex", broken)
    monkeypatch.setattr(nz, "_ARROW_FALLBACK_WARNED", False)
    capsys.readouterr()
    for _ in range(2):
        rp, kv = nz._kept_token_stream(norm)
        assert np.array_equal(rp, rp_a)
        assert list(np.asarray(kv)) == list(np.asarray(kv_a))
    err = capsys.readouterr().err
    assert err.count("warning: Arrow tokenizer failed") == 1
    assert "split unavailable" in err
