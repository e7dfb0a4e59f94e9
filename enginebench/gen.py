"""Seeded corpus and query generator for the engine benchmark.

Independent of ``anisearch_model_spark.datagen`` on purpose: that corpus
has a 2,000-term vocabulary (every query term is hot), and a change to
the package must never silently change the benchmark's workload.

Everything here is pure numpy/pandas and a function of ``seed`` alone.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# syllables for pronounceable, stopword-free, [a-z]-only words; every
# word has >= 2 syllables, so none collides with a stopword or with a
# planted marker ("zq..." never occurs: no syllable starts with "z")
_ONSETS = list("bcdfghjklmnprstvw") + ["br", "ch", "dr", "gr", "kr", "pl",
                                        "sh", "st", "th", "tr"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
ZIPF_S = 1.07  # word-rank exponent of the corpus
_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["search", "calculator", "browser", "python", "sql"])

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def make_vocab(size: int, seed: int) -> np.ndarray:
    """``size`` distinct words in a seeded order (index = Zipf rank)."""
    rng = np.random.default_rng([seed, 1])
    syll = np.array([o + n for o in _ONSETS for n in _NUCLEI])
    words: set[str] = set()
    out: list[str] = []
    n_syl = 2
    while len(out) < size:
        batch = rng.integers(0, len(syll), size=(size * 2, n_syl))
        for row in batch:
            w = "".join(syll[row])
            if w not in words:
                words.add(w)
                out.append(w)
                if len(out) == size:
                    break
        n_syl += 1  # widen the space if two syllables ran short
    return np.array(out)


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype="float64") ** s
    return p / p.sum()


class Corpus:
    """Vocabulary plus turn generator for one seed."""

    def __init__(self, seed: int, vocab_size: int = 30_000):
        self.seed = seed
        self.vocab = make_vocab(vocab_size, seed)
        self.cdf = np.cumsum(zipf_probs(vocab_size, ZIPF_S))

    def _words(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n) * self.cdf[-1])
        return self.vocab[np.minimum(idx, len(self.vocab) - 1)]

    def turns(self, n_turns: int, part: int, conv_prefix: str) -> pd.DataFrame:
        """``n_turns`` transcript rows; ``part`` picks an independent
        stream of the same seed (0 = base corpus, r = append batch r)."""
        rng = np.random.default_rng([self.seed, 2, part])
        sizes = []
        total = 0
        while total < n_turns:
            size = int(min(40, rng.zipf(1.6)))
            sizes.append(size)
            total += size
        sizes[-1] -= total - n_turns
        if sizes[-1] == 0:
            sizes.pop()
        sizes = np.array(sizes, dtype="int64")
        conv_ids = np.repeat(
            np.array([f"{conv_prefix}{i:07d}" for i in range(len(sizes))]),
            sizes)
        turn_idx = np.concatenate([np.arange(s, dtype="int32") for s in sizes])
        # varied turn lengths: lognormal around ~20 words, 2..120
        lens = np.clip(rng.lognormal(2.9, 0.7, size=n_turns).astype("int64"),
                       2, 120)
        words = self._words(rng, int(lens.sum()))
        offs = np.concatenate([[0], np.cumsum(lens)])
        texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n_turns)]
        roles = _ROLES[rng.choice(4, size=n_turns, p=[0.45, 0.45, 0.05, 0.05])]
        tools = np.where(roles == "tool",
                         _TOOLS[rng.integers(0, len(_TOOLS), size=n_turns)],
                         None)
        ts = (np.datetime64("2025-01-01T00:00:00")
              + np.cumsum(rng.integers(1, 30, size=n_turns))
              .astype("timedelta64[s]"))
        return pd.DataFrame({"conv_id": conv_ids, "turn_idx": turn_idx,
                             "role": roles, "text": texts, "tool": tools,
                             "ts": ts})[TRANSCRIPT_COLUMNS]


def marker_terms(seed: int, round_no: int) -> tuple[str, str]:
    """Two planted tokens for append batch ``round_no``: absent from the
    vocabulary (no syllable starts with 'z'), so a term search for the
    first and a phrase search for both must return exactly the planted
    docs."""
    return f"zqmark{seed}r{round_no}a", f"zqmark{seed}r{round_no}b"


def plant_markers(pdf: pd.DataFrame, seed: int, round_no: int,
                  every: int = 97) -> tuple[pd.DataFrame, set[tuple[str, int]]]:
    """Append the round's marker bigram to every ``every``-th turn.
    Returns the new frame and the planted (conv_id, turn_idx) keys."""
    a, b = marker_terms(seed, round_no)
    pdf = pdf.copy()
    rows = np.arange(0, len(pdf), every)
    col = pdf.columns.get_loc("text")
    for r in rows:
        pdf.iat[r, col] = f"{pdf.iat[r, col]} {a} {b}"
    keys = {(str(pdf.iat[r, 0]), int(pdf.iat[r, 1])) for r in rows}
    return pdf, keys


class QueryGen:
    """Seeded query streams over a corpus: head + tail term mixes with
    repeats (so the df cache sees hits and misses), phrase bigrams
    sampled from generated turns, and +/- boolean clauses."""

    HEAD = 200  # ranks below this are "head" terms

    def __init__(self, corpus: Corpus, sample_texts: list[str], seed: int,
                 stream: int = 0):
        self.rng = np.random.default_rng([seed, 3, stream])
        self.vocab = corpus.vocab
        self.texts = [t for t in sample_texts if t.count(" ") >= 1]
        # a small pool of recurring terms: repeats hit the df cache
        self.pool = self.vocab[self.rng.choice(
            np.arange(self.HEAD, 3000), size=40, replace=False)]

    def _head(self) -> str:
        return str(self.vocab[self.rng.integers(0, self.HEAD)])

    def _tail(self) -> str:
        # mid/tail rank: short posting lists, mostly df-cache misses
        return str(self.vocab[self.rng.integers(self.HEAD, len(self.vocab))])

    def _pooled(self) -> str:
        return str(self.pool[self.rng.integers(0, len(self.pool))])

    def plain(self) -> str:
        n = int(self.rng.integers(2, 5))
        picks = [self._head()]
        for _ in range(n - 1):
            r = self.rng.random()
            picks.append(self._pooled() if r < 0.5 else self._tail())
        return " ".join(picks)

    def phrase(self) -> str:
        words = self.texts[int(self.rng.integers(0, len(self.texts)))].split()
        i = int(self.rng.integers(0, len(words) - 1))
        return f"{words[i]} {words[i + 1]}"

    def boolean(self) -> str:
        return f"+{self._head()} {self._pooled()} {self._tail()} -{self._tail()}"

    def head_term(self) -> str:
        return str(self.vocab[self.rng.integers(0, 50)])

    facets = head_term  # a facets request histograms a head term's matches
