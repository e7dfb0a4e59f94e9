"""BM25F (query/bm25f.py): identity vs a single-node pandas reference,
the saturate-once semantics that distinguish it from CombSUM fusion, and
the tombstone live-docs contract.

Reference anchor: the reference scores each text column independently
and fuses by first-seen dedup (/root/reference/src/api.py:316-349,
427-455); BM25F (Robertson/Zaragoza/Taylor CIKM'04) is the principled
multi-weighted-field model this engine adds on top.
"""

import math
import shutil

import numpy as np
import pandas as pd
import pytest

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.datagen import gen_transcripts
from anisearch_model_spark.functions.normalize import tokenize_series
from anisearch_model_spark.index.store import build_index
from anisearch_model_spark.query.bm25f import search_bm25f
from anisearch_model_spark.query.engine import IndexStore


WEIGHTS = {"user": 1.0, "assistant": 0.4}
QUERY = "hero battle magic"


@pytest.fixture(scope="module")
def field_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bm25f") / "idx")
    shutil.rmtree(d, ignore_errors=True)
    tr = gen_transcripts(spark, 2500, seed=11)
    build_index(spark, tr, d, num_buckets=4, field_col="role")
    return d, tr.toPandas()


def _pandas_bm25f(corpus: pd.DataFrame, query: str,
                  weights: dict[str, float], k: int) -> pd.DataFrame:
    """Single-node oracle: same tokenizer, same formula, plain floats."""
    p = BM25Params()
    rows = corpus[corpus["role"].isin(list(weights))].reset_index(drop=True)
    toks = tokenize_series(rows["text"])
    # per-field avgdl over the FULL field sub-corpus (all roles' docs of
    # that field count, incl. token-free ones) — mirrors stats.json
    avgdl = {
        f: (sum(len(t) for t, r in zip(toks, rows["role"]) if r == f)
            / max(1, int((rows["role"] == f).sum())))
        for f in weights
    }
    n_entities = corpus["conv_id"].nunique()
    qterms = sorted(set(query.split()))
    tft: dict[tuple[str, str], float] = {}
    dfe: dict[str, set] = {t: set() for t in qterms}
    for conv, role, tok in zip(rows["conv_id"], rows["role"], toks):
        dl = len(tok)
        if not dl:
            continue
        bnorm = 1.0 - p.b + p.b * dl / avgdl[role]
        for t in qterms:
            tf = tok.count(t) if isinstance(tok, list) else int(
                np.sum(np.asarray(tok) == t))
            if tf:
                tft[(conv, t)] = tft.get((conv, t), 0.0) + (
                    weights[role] * tf / bnorm)
                dfe[t].add(conv)
    scores: dict[str, float] = {}
    for (conv, t), v in sorted(tft.items(), key=lambda x: (x[0][0], x[0][1])):
        df = len(dfe[t])
        idf = math.log1p((n_entities - df + 0.5) / (df + 0.5))
        scores[conv] = scores.get(conv, 0.0) + (
            idf * v * (p.k1 + 1.0) / (p.k1 + v))
    out = pd.DataFrame(
        {"conv_id": list(scores), "score": list(scores.values())}
    ).sort_values(["score", "conv_id"], ascending=[False, True],
                  kind="mergesort").head(k).reset_index(drop=True)
    out["rank"] = np.arange(1, len(out) + 1, dtype=np.int64)
    return out[["rank", "conv_id", "score"]]


def test_bm25f_matches_pandas_reference(spark, field_idx):
    d, corpus = field_idx
    idx = IndexStore(spark, d)
    got = search_bm25f(idx, QUERY, WEIGHTS, k=20).toPandas()
    want = _pandas_bm25f(corpus, QUERY, WEIGHTS, k=20)
    # full-precision float64 both sides; rtol covers a possible last-ulp
    # gap between Java Math.log1p and C log1p
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want, check_dtype=False,
        rtol=1e-12, atol=0.0)


def test_bm25f_saturates_once(spark, field_idx):
    """A conversation matching the same term in BOTH fields must score
    BELOW the sum of two independently-saturated per-field runs (CombSUM
    over-counts exactly because each field saturates separately) — run
    BM25F with each field alone and together; together ≤ sum of alone
    scores for every common conv, strictly less where both contribute."""
    d, _ = field_idx
    idx = IndexStore(spark, d)
    both = {r["conv_id"]: r["score"]
            for r in search_bm25f(idx, QUERY, {"user": 1.0, "assistant": 1.0},
                                  k=200).collect()}
    user = {r["conv_id"]: r["score"]
            for r in search_bm25f(idx, QUERY, {"user": 1.0}, k=200).collect()}
    asst = {r["conv_id"]: r["score"]
            for r in search_bm25f(idx, QUERY, {"assistant": 1.0},
                                  k=200).collect()}
    overlap = [c for c in both if c in user and c in asst]
    assert overlap, "corpus should have convs matching in both fields"
    # idf bases differ slightly (entity df over one field vs both), so
    # compare against the sum with a small tolerance; saturation loss is
    # far larger than the idf drift on this corpus
    tighter = 0
    for c in overlap:
        assert both[c] <= user[c] + asst[c] + 0.05
        if both[c] < user[c] + asst[c] - 1e-6:
            tighter += 1
    assert tighter > 0


def test_bm25f_excludes_tombstoned_turns(spark, field_idx, tmp_path):
    from anisearch_model_spark.index.tombstones import delete_docs

    d, _ = field_idx
    # copy: the module-scoped index is shared with the other tests
    dd = str(tmp_path / "idx_tomb")
    shutil.copytree(d, dd)
    idx = IndexStore(spark, dd)
    before = search_bm25f(idx, QUERY, WEIGHTS, k=5).collect()
    top_conv = before[0]["conv_id"]
    doomed = [int(r["doc_id"]) for r in idx.doc_map.filter(
        f"conv_id = '{top_conv}'").select("doc_id").collect()]
    delete_docs(spark, dd, doomed)
    after = search_bm25f(idx, QUERY, WEIGHTS, k=5).collect()
    assert all(r["conv_id"] != top_conv for r in after)


def test_bm25f_empty_query_and_unknown_terms(spark, field_idx):
    d, _ = field_idx
    idx = IndexStore(spark, d)
    assert search_bm25f(idx, "the of and", WEIGHTS).count() == 0  # stopwords
    assert search_bm25f(idx, "zzzzunseen", WEIGHTS).count() == 0


def test_n_entities_stamped_and_cached(spark, field_idx):
    d, corpus = field_idx
    idx = IndexStore(spark, d)
    assert idx.stats.get("n_convs") == corpus["conv_id"].nunique()
    assert idx.n_entities() == corpus["conv_id"].nunique()
