"""Phrase search: the blocks' position column + virtual-term BM25 scoring.

Contract (query/phrase.py): phrase terms adjacent in the POST-stopword
token stream, ptf = occurrence count, score = BM25 of the phrase as one
virtual term, bit-identical to the single-node oracle
(query/oracle.py::OracleIndex.phrase_topk)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.index.positions import (
    decode_positions_block,
    encode_positions_bucket,
)
from anisearch_model_spark.query.engine import IndexStore
from anisearch_model_spark.query.oracle import OracleIndex
from anisearch_model_spark.query.phrase import parse_phrase, phrase_match, phrase_topk


@pytest.fixture(scope="module")
def pos_index(spark, index_dir):
    """The shared test index (its blocks carry positions)."""
    return IndexStore(spark, index_dir)


@pytest.fixture(scope="module")
def oracle(spark, pos_index):
    docs = (
        pos_index.doc_map.select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    return OracleIndex(docs)


def _corpus_phrases(oracle, n=6):
    """Real consecutive bigrams/trigrams drawn from the corpus — these are
    guaranteed to match ≥1 doc, and different docs share them with
    different counts."""
    out = []
    for toks in oracle.tokens.values():
        if len(toks) >= 3:
            out.append(" ".join(toks[0:2]))
            out.append(" ".join(toks[1:4]))
        if len(out) >= n:
            break
    return out[:n]


def test_positions_block_roundtrip():
    """encode_positions_bucket → decode_positions_block is lossless
    across multi-block terms and multi-occurrence docs."""
    rng = np.random.default_rng(7)
    rows = []
    for doc in range(900):
        for term in ("alpha", "beta"):
            if rng.random() < 0.7:
                k = int(rng.integers(1, 5))
                pos = np.sort(rng.choice(500, size=k, replace=False))
                for p in pos:
                    rows.append((doc, term, int(p), 500))
    pdf = pd.DataFrame(rows, columns=["doc_id", "term", "pos", "doc_len"])
    pdf["bucket"] = 0
    enc = encode_positions_bucket(pdf, block_size=128)
    got = {}
    for row in enc.itertuples(index=False):
        doc_ids, tfs, dls, flat = decode_positions_block(row)
        assert len(flat) == int(tfs.sum())
        bounds = np.concatenate([[0], np.cumsum(tfs)])
        for i, d in enumerate(doc_ids):
            got.setdefault((d, row.term), []).extend(
                flat[bounds[i]: bounds[i + 1]].tolist()
            )
            assert dls[i] == 500
    want = {
        (d, t): sorted(g["pos"].tolist())
        for (d, t), g in pdf.groupby(["doc_id", "term"])
    }
    assert {k: sorted(v) for k, v in got.items()} == want
    # block split: ≤128 docs per (term, block)
    assert int(enc["n"].max()) <= 128
    assert enc.groupby("term")["block_id"].nunique().max() > 1


def test_phrase_rank_identity(pos_index, oracle, each_path):
    """Phrase top-k == oracle on both scoring paths: same docs, same
    ranks, bit-identical float64 scores (shared kernel + mirrored
    expression)."""
    phrases = _corpus_phrases(oracle) + ["the and of a"]
    assert phrases
    for ph in phrases:
        want = oracle.phrase_topk(ph, k=10)
        for path in each_path():
            got = phrase_topk(pos_index, ph, k=10).toPandas()
            assert got["doc_id"].tolist() == want["doc_id"].tolist(), \
                (ph, path)
            assert got["rank"].tolist() == want["rank"].tolist(), (ph, path)
            assert got["score"].tolist() == want["score"].tolist(), \
                (ph, path)  # bitwise


def test_phrase_unseen_term_empty(pos_index):
    assert phrase_topk(pos_index, "zzz-unseen-term dragon").count() == 0


def test_phrase_stopword_elision(spark, tmp_path):
    """'state of the art' matches a doc containing 'state art' AND a doc
    containing 'state of the art' — stopwords are elided from positions on
    both the index and query sides."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index

    rows = [
        ("c0", 0, "user", "the state of the art engine", None, None),
        ("c1", 0, "user", "state art craft", None, None),
        ("c2", 0, "user", "state craft art", None, None),  # NOT adjacent
        ("c3", 0, "user", "art state", None, None),        # wrong order
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=2)
    idx = IndexStore(spark, d)
    m = phrase_match(idx, "state of the art").toPandas().sort_values("doc_id")
    metas = (
        idx.doc_map.filter(F.col("doc_id").isin(m["doc_id"].tolist()))
        .select("conv_id").toPandas()["conv_id"].tolist()
    )
    assert sorted(metas) == ["c0", "c1"]
    assert m["ptf"].tolist() == [1, 1]


def test_phrase_duplicate_terms(spark, tmp_path):
    """A phrase with a repeated term ('data big data') constrains BOTH
    slots; overlapping occurrences each count."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index

    rows = [
        ("c0", 0, "user", "data big data big data", None, None),  # 2 hits
        ("c1", 0, "user", "data big data", None, None),           # 1 hit
        ("c2", 0, "user", "big data big", None, None),            # 0 hits
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=1)
    idx = IndexStore(spark, d)
    m = phrase_match(idx, "data big data").toPandas().sort_values("doc_id")
    docs = (
        idx.doc_map.toPandas().set_index("doc_id")["conv_id"]
    )
    got = {docs[r.doc_id]: r.ptf for r in m.itertuples(index=False)}
    assert got == {"c0": 2, "c1": 1}
    # bit-identity on the constructed corpus too
    corpus = idx.doc_map.select("doc_id", "text").toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    want = OracleIndex(corpus).phrase_topk("data big data", k=5)
    got_tk = phrase_topk(idx, "data big data", k=5).toPandas()
    assert got_tk["score"].tolist() == want["score"].tolist()


def test_phrase_respects_tombstones(spark, tmp_path, each_path):
    """A tombstoned doc disappears from phrase results AND from the
    phrase df (virtual-term idf recomputes over live matches)."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.index.tombstones import delete_docs

    rows = [
        ("c%d" % i, 0, "user", "alpha beta gamma", None, None) for i in range(4)
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=1)
    idx = IndexStore(spark, d)
    pre = phrase_topk(idx, "alpha beta", k=10).toPandas()
    assert len(pre) == 4
    dead = int(pre["doc_id"].iloc[0])
    delete_docs(spark, d, [dead])
    for path in each_path():
        post = phrase_topk(idx, "alpha beta", k=10).toPandas()
        assert dead not in post["doc_id"].tolist(), path
        assert len(post) == 3, path
        # df dropped 4 → 3: idf rose, so live scores strictly increased
        assert post["score"].iloc[0] > pre["score"].iloc[0], path


def test_positions_staleness_gate(spark, tmp_path):
    """Compaction carries the blocks: phrase results are unchanged after
    it, with no repair step, because a bucket's positions live in the
    same rows as its postings."""
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.store import build_index

    d = str(tmp_path / "idx")
    tr = gen_transcripts(spark, 400, seed=11)
    build_index(spark, tr, d, num_buckets=8)
    idx = IndexStore(spark, d)
    baseline = phrase_topk(idx, _first_bigram(idx), k=5).toPandas()
    assert len(baseline)
    res = compact_index(spark, d, target_docs=400)
    assert res["groups_rewritten"] >= 1
    after = phrase_topk(idx, _first_bigram(idx), k=5).toPandas()
    assert after["doc_id"].tolist() == baseline["doc_id"].tolist()
    assert after["score"].tolist() == baseline["score"].tolist()


def _first_bigram(idx) -> str:
    from anisearch_model_spark.functions.normalize import tokenize_series

    texts = idx.doc_map.select("text").limit(50).toPandas()["text"]
    for toks in tokenize_series(texts):
        if len(toks) >= 2:
            return " ".join(toks[:2])
    raise AssertionError("no bigram in corpus")


def test_serve_loop_phrase_requests(spark, tmp_path):
    """serve mode routes {"phrase": true} to the positional scorer; an
    invalid phrase request (negative slop) is a clean per-request error
    (the loop survives), and results carry metadata."""
    import io
    import json as _json

    from anisearch_model_spark.cli import serve_loop
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index

    rows = [
        ("c0", 0, "user", "alpha beta gamma", None, None),
        ("c1", 0, "user", "alpha gamma beta", None, None),
        ("c2", 0, "user", "alpha beta", None, None),
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=1)

    reqs = [
        _json.dumps({"query": "alpha beta", "phrase": True, "slop": -1}),
        _json.dumps({"query": "alpha beta", "phrase": True, "k": 5}),
        "quit",
    ]
    out = io.StringIO()
    served = serve_loop(spark, d, io.StringIO("\n".join(reqs)), out, log=False)
    assert served == 2
    lines = [_json.loads(x) for x in out.getvalue().strip().splitlines()]
    assert "error" in lines[0] and "slop" in lines[0]["error"]
    res = lines[1]["results"]
    assert {r["conv_id"] for r in res} == {"c0", "c2"}
    assert all("score" in r and "turn_idx" in r for r in res)


def test_phrase_field_scoped(spark, tmp_path):
    """On a field-qualified index, a field-scoped phrase only matches that
    field's docs and scores against the field sub-corpus stats."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index

    rows = [
        ("c0", 0, "user", "alpha beta", None, None),
        ("c1", 0, "assistant", "alpha beta", None, None),
        ("c2", 0, "assistant", "alpha beta gamma", None, None),
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=1, field_col="role")
    idx = IndexStore(spark, d)
    roles = idx.doc_map.toPandas().set_index("doc_id")["role"]
    got = phrase_topk(idx, "alpha beta", k=10, field="assistant").toPandas()
    assert len(got) == 2
    assert all(roles[i] == "assistant" for i in got["doc_id"])
    unscoped = phrase_topk(idx, "alpha beta", k=10).toPandas()
    assert len(unscoped) == 3


def test_slop_hand_corpus(spark, tmp_path):
    """Gap semantics: slop s admits consecutive gaps up to 1 + s."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index

    rows = [
        ("c0", 0, "user", "alpha beta tail", None, None),           # gap 1
        ("c1", 0, "user", "alpha mid beta tail", None, None),       # gap 2
        ("c2", 0, "user", "alpha mid mid2 beta tail", None, None),  # gap 3
        ("c3", 0, "user", "beta alpha", None, None),                # reversed
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=1)
    idx = IndexStore(spark, d)
    convs = idx.doc_map.toPandas().set_index("doc_id")["conv_id"]

    def hits(slop):
        got = phrase_topk(idx, "alpha beta", k=10, slop=slop).toPandas()
        return {convs[i] for i in got["doc_id"]}

    assert hits(0) == {"c0"}
    assert hits(1) == {"c0", "c1"}
    assert hits(2) == {"c0", "c1", "c2"}
    # order still required at any slop
    assert "c3" not in hits(5)


def test_slop_ptf_counts_distinct_starts(spark, tmp_path):
    """ptf = distinct chain-start positions: 'alpha beta alpha mid beta'
    has starts at pos 0 (gap 1) and pos 2 (gap 2) under slop 1."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index

    rows = [("c0", 0, "user", "alpha beta alpha mid beta", None, None)]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=1)
    idx = IndexStore(spark, d)
    from anisearch_model_spark.query.phrase import phrase_match

    m0 = phrase_match(idx, "alpha beta", slop=0).toPandas()
    m1 = phrase_match(idx, "alpha beta", slop=1).toPandas()
    assert m0["ptf"].tolist() == [1]
    assert m1["ptf"].tolist() == [2]


def test_slop_rank_identity_vs_oracle(pos_index, oracle, each_path):
    """Sloppy phrase == naive oracle chains on both scoring paths,
    bit-identical scores, across slops and real corpus phrases (incl. a
    trigram)."""
    phrases = _corpus_phrases(oracle, n=4)
    for slop in (1, 2):
        for ph in phrases:
            want = oracle.phrase_topk(ph, k=10, slop=slop)
            for path in each_path():
                got = phrase_topk(pos_index, ph, k=10, slop=slop).toPandas()
                assert got["doc_id"].tolist() == want["doc_id"].tolist(), \
                    (ph, slop, path)
                assert got["score"].tolist() == want["score"].tolist(), \
                    (ph, slop, path)


def test_slop_zero_same_as_exact(pos_index, oracle):
    """slop=0 must be byte-identical to the exact path on every phrase."""
    for ph in _corpus_phrases(oracle, n=4):
        a = phrase_topk(pos_index, ph, k=10, slop=0).toPandas()
        b = phrase_topk(pos_index, ph, k=10).toPandas()
        pd.testing.assert_frame_equal(a, b)


def test_slop_negative_rejected(pos_index):
    with pytest.raises(ValueError):
        phrase_topk(pos_index, "alpha beta", slop=-1).count()


def test_purge_invalidates_positions_and_resync_drops_purged_doc(
        spark, tmp_path):
    """The full delete lifecycle through PHRASE search: tombstoned docs
    are filtered immediately; a physical purge rewrites the affected
    buckets' blocks, positions included, so phrase search keeps running
    and the purged doc never resurfaces once the tombstones are
    cleared."""
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.index.tombstones import (
        delete_docs,
        load_tombstones,
        purge_deleted,
    )

    d = str(tmp_path / "idx")
    tr = gen_transcripts(spark, 400, seed=11)
    build_index(spark, tr, d, num_buckets=8)
    idx = IndexStore(spark, d)
    phrase = _first_bigram(idx)
    pre = phrase_topk(idx, phrase, k=5).toPandas()
    assert len(pre)
    dead = int(pre["doc_id"].iloc[0])
    delete_docs(spark, d, [dead])
    # tombstone filter: excluded immediately
    mid = phrase_topk(idx, phrase, k=5).toPandas()
    assert dead not in set(mid["doc_id"])
    res = purge_deleted(spark, d)
    assert res["purged_docs"] == 1 and res["buckets_rewritten"] >= 1
    assert len(load_tombstones(d)) == 0
    idx2 = IndexStore(spark, d)
    post = phrase_topk(idx2, phrase, k=5).toPandas()
    assert dead not in set(post["doc_id"])
    assert dead not in set(phrase_match(idx2, phrase).toPandas()["doc_id"])
    # survivors keep their relative order from the tombstone-filtered run
    assert post["doc_id"].tolist()[:len(mid)] == mid["doc_id"].tolist()[
        :len(post)]


def test_phrase_topk_ties_across_buckets(spark, tmp_path):
    """Equal-score matches in every bucket and k below their count: each
    bucket's candidate cut keeps every doc tied at its kth score, so the
    (score DESC, doc_id ASC) page equals the oracle's bit for bit; a
    tombstoned top doc gives its slot to the next doc in that order."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.index.tombstones import delete_docs

    rows = [("c%02d" % i, 0, "user",
             "alpha beta gamma" + (" alpha beta" if i % 7 == 3 else ""),
             None, None) for i in range(30)]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), d,
                num_buckets=3)
    idx = IndexStore(spark, d)
    docs = (idx.doc_map.select("doc_id", "text").toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    want = OracleIndex(docs).phrase_topk("alpha beta", k=8)
    got = phrase_topk(idx, "alpha beta", k=8).toPandas()
    assert got["rank"].tolist() == want["rank"].tolist()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert np.array_equal(got["score"].to_numpy(), want["score"].to_numpy())
    # 4 double-phrase docs lead, then the tied single-phrase docs by id
    assert got["score"].nunique() == 2
    order = OracleIndex(docs).phrase_topk("alpha beta", k=9)["doc_id"]
    dead = int(got["doc_id"].iloc[5])
    delete_docs(spark, d, [dead])
    post = phrase_topk(idx, "alpha beta", k=8).toPandas()
    assert post["doc_id"].tolist() == [i for i in order if i != dead]


def test_phrase_search_is_one_spark_pass(spark, pos_index, oracle,
                                         monkeypatch):
    """phrase_search runs ONE Spark pass: the kernel's candidates and
    match counts come back in one collect (a shuffle stage and a result
    stage), the df and ranking are computed on the driver and the
    metadata attach is local — no cached frame, no second action.
    Pinned to the cluster path (bound 0); under the bound the request
    runs no job at all (tests/test_driver_query.py)."""
    from anisearch_model_spark.query import engine
    from anisearch_model_spark.query.phrase import phrase_search

    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)

    ph = _corpus_phrases(oracle, 1)[0]
    phrase_search(pos_index, ph, k=5).collect()  # plan/worker warm-up
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    cached = sc._jsc.getPersistentRDDs().size()
    rows = phrase_search(pos_index, ph, k=5).collect()
    after = set(sc.statusTracker().getJobIdsForGroup(None))
    assert rows and len(after - before) <= 2
    assert sc._jsc.getPersistentRDDs().size() == cached
