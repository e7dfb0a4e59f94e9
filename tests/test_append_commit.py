"""Append commits in O(batch): the dictionary delta file and the exact
stats arithmetic (streaming/incremental.py) must equal a full
``finalize_metadata`` re-derive, stay equal through purge and compact,
and keep doc ids unique after a purge."""

import json
import os
import random
import shutil

import numpy as np
import pandas as pd
import pytest

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA, gen_transcripts_pandas
from anisearch_model_spark.index import store as store_mod
from anisearch_model_spark.index.store import (
    build_index, dictionary_deltas, finalize_metadata, token_total)
from anisearch_model_spark.query.engine import (
    IndexStore, topk_bmw, topk_exhaustive)
from anisearch_model_spark.streaming.incremental import _append_batch

QUERIES = ["hero battle magic", "robot space", "dragon shadow light",
           "term0042 world"]


def _stats(d):
    with open(os.path.join(d, "stats.json"), encoding="utf-8") as f:
        return json.load(f)


def _manifest(d):
    with open(os.path.join(d, "manifest.json"), encoding="utf-8") as f:
        return json.load(f)


def _summed_dictionary(d) -> pd.DataFrame:
    """(term, field) → (Σ df, Σ cf) over every row of ``dictionary/``."""
    import pyarrow.dataset as pads

    t = pads.dataset(os.path.join(d, "dictionary"), format="parquet").to_table()
    return (t.to_pandas().groupby(["term", "field"], as_index=False)
            [["df", "cf"]].sum().sort_values(["term", "field"])
            .reset_index(drop=True))


def _rederived_copy(spark, d, dst) -> str:
    """A copy of ``d`` whose dictionary and stats come from a full
    ``finalize_metadata`` re-derive."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(d, dst)
    st = _stats(d)
    finalize_metadata(spark, dst, st["n_docs"], BM25Params(),
                      num_buckets=st["num_buckets"],
                      field_col=st["field_col"])
    return dst


def _assert_commit_equals_rederive(spark, d, dst):
    ref = _rederived_copy(spark, d, dst)
    assert _stats(d) == _stats(ref)
    pd.testing.assert_frame_equal(_summed_dictionary(d),
                                  _summed_dictionary(ref))
    assert dictionary_deltas(ref) == []
    return ref


def _same(a, b):
    a, b = a.toPandas(), b.toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    np.testing.assert_array_equal(a["score"].to_numpy(),
                                  b["score"].to_numpy())


def _batches(pdf):
    """base + three batches: the first continues a base conversation and
    spans two buckets, the second adds a role value the base lacks, the
    third is stopwords only."""
    convs = sorted(pdf["conv_id"].unique())
    sizes = pdf.groupby("conv_id").size()
    split = next(c for c in convs[len(convs) // 2:] if sizes[c] >= 4)
    cut = convs.index(split)
    head = (pdf["conv_id"] == split) & (pdf["turn_idx"] < sizes[split] // 2)
    base = pdf[pdf["conv_id"].isin(convs[:cut]) | head]
    b1_convs = convs[cut + 1: cut + 1 + (len(convs) - cut) // 2]
    b1 = pdf[((pdf["conv_id"] == split) & ~head)
             | pdf["conv_id"].isin(b1_convs)]
    b2 = pdf[pdf["conv_id"].isin(convs[cut + 1 + len(b1_convs):])].copy()
    b2.loc[b2.index[::3], "role"] = "critic"
    b3 = pd.DataFrame({
        "conv_id": ["conv-zz-stop"] * 3, "turn_idx": [0, 1, 2],
        "role": ["user", "assistant", "user"],
        "text": ["the of and", "and the", "of the and to"],
        "tool": [None] * 3, "ts": [pd.Timestamp("2024-01-01")] * 3,
    })
    return base, [b1, b2, b3]


@pytest.fixture(scope="module", params=[None, "role"],
                ids=["unscoped", "role"])
def appended(request, spark, tmp_path_factory):
    """An index after 3 appends plus its re-derived copy; the stats and
    summed dictionary are checked against a re-derive after append 1
    and after append 3."""
    field_col = request.param
    root = tmp_path_factory.mktemp(f"appc_{field_col}")
    pdf = gen_transcripts_pandas(900, seed=51)
    base, batches = _batches(pdf)
    d = str(root / "idx")
    build_index(spark, spark.createDataFrame(base, TRANSCRIPT_SCHEMA), d,
                num_buckets=3, field_col=field_col)
    assert "critic" not in (_stats(d)["fields"] or {})
    n_buckets = [len(_manifest(d)["buckets"])]
    for i, b in enumerate(batches, 1):
        _append_batch(spark, spark.createDataFrame(b, TRANSCRIPT_SCHEMA), d,
                      BM25Params())
        n_buckets.append(len(_manifest(d)["buckets"]))
        if i == 1:
            _assert_commit_equals_rederive(spark, d, str(root / "ref1"))
    assert n_buckets[1] - n_buckets[0] == 2  # a two-bucket batch
    ref = _assert_commit_equals_rederive(spark, d, str(root / "ref3"))
    return d, ref, field_col, len(pdf)


def test_append_commit_equals_rederive(appended):
    d, _ref, field_col, n = appended
    st = _stats(d)
    assert st["n_docs"] == n + 3
    # one delta per append that produced postings (not the stopword one)
    assert len(dictionary_deltas(d)) == 2
    if field_col:
        assert st["fields"]["critic"]["n_docs"] > 0
    import pyarrow.dataset as pads

    ids = pads.dataset(os.path.join(d, "doc_map"), format="parquet",
                       partitioning="hive").to_table(columns=["doc_id"])
    assert len(set(ids["doc_id"].to_pylist())) == ids.num_rows == n + 3


def test_append_commit_queries_bit_equal(spark, appended):
    from anisearch_model_spark.query.boolean import boolean_topk
    from anisearch_model_spark.query.phrase import phrase_topk
    from anisearch_model_spark.query.spell import did_you_mean

    d, ref, field_col, _n = appended
    a, b = IndexStore(spark, d), IndexStore(spark, ref)
    field = "user" if field_col else None
    for q in QUERIES:
        _same(topk_bmw(a, q, 10, field=field), topk_bmw(b, q, 10, field=field))
        _same(topk_exhaustive(a, q, 10), topk_exhaustive(b, q, 10))
    _same(phrase_topk(a, "hero battle", 10), phrase_topk(b, "hero battle", 10))
    _same(boolean_topk(a, "+hero battle -robot", 10),
          boolean_topk(b, "+hero battle -robot", 10))
    _same(topk_exhaustive(a, "he* dragon", 10),
          topk_exhaustive(b, "he* dragon", 10))
    _same(topk_exhaustive(a, "herro~ space", 10),
          topk_exhaustive(b, "herro~ space", 10))
    assert did_you_mean(a, "herro battle") == did_you_mean(b, "herro battle")


def test_append_one_bucket_batch_runs_at_most_five_jobs(spark, tmp_path,
                                                        monkeypatch):
    pdf = gen_transcripts_pandas(600, seed=52)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) * 3 // 4]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[pdf["conv_id"] < cut],
                                             TRANSCRIPT_SCHEMA),
                d, num_buckets=2)
    batch = spark.createDataFrame(pdf[pdf["conv_id"] >= cut],
                                  TRANSCRIPT_SCHEMA)

    def boom(*a, **k):
        raise AssertionError("append must not re-derive the dictionary")

    monkeypatch.setattr(store_mod, "finalize_metadata", boom)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(dag.nextJobId())
    _append_batch(spark, batch, d, BM25Params())
    jobs = int(dag.nextJobId()) - before
    assert len(_manifest(d)["buckets"]) == 3  # a one-bucket batch
    assert jobs <= 5, jobs
    monkeypatch.undo()
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))


def test_purge_and_compact_fold_the_deltas(spark, tmp_path):
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.tombstones import (
        delete_docs, purge_deleted)

    pdf = gen_transcripts_pandas(600, seed=53)
    convs = sorted(pdf["conv_id"].unique())
    c1, c2 = convs[len(convs) // 2], convs[len(convs) * 3 // 4]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[pdf["conv_id"] < c1],
                                             TRANSCRIPT_SCHEMA),
                d, num_buckets=2)
    for lo, hi in ((c1, c2), (c2, "~")):
        part = pdf[(pdf["conv_id"] >= lo) & (pdf["conv_id"] < hi)]
        _append_batch(spark, spark.createDataFrame(part, TRANSCRIPT_SCHEMA),
                      d, BM25Params())
    assert len(dictionary_deltas(d)) == 2
    before = {q: topk_exhaustive(IndexStore(spark, d), q, 10).toPandas()
              for q in QUERIES}

    # compact with nothing to merge or purge still folds the deltas
    compact_index(spark, d, target_docs=1)
    assert dictionary_deltas(d) == []
    for q in QUERIES:
        got = topk_exhaustive(IndexStore(spark, d), q, 10).toPandas()
        pd.testing.assert_frame_equal(got, before[q])

    # purge folds them too
    _append_batch(spark, spark.createDataFrame(
        pdf[pdf["conv_id"] >= c2].assign(conv_id=lambda x: "z" + x["conv_id"]),
        TRANSCRIPT_SCHEMA), d, BM25Params())
    assert len(dictionary_deltas(d)) == 1
    delete_docs(spark, d, [0, 1])
    purge_deleted(spark, d)
    assert dictionary_deltas(d) == []
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))


def test_append_after_purge_gets_unique_ids(spark, tmp_path):
    from anisearch_model_spark.index.tombstones import (
        delete_docs, purge_deleted)

    pdf = gen_transcripts_pandas(400, seed=54)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) * 3 // 4]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[pdf["conv_id"] < cut],
                                             TRANSCRIPT_SCHEMA),
                d, num_buckets=2)
    n_base = _stats(d)["n_docs"]
    delete_docs(spark, d, range(5, 25))
    purge_deleted(spark, d)
    batch = pdf[pdf["conv_id"] >= cut]
    _append_batch(spark, spark.createDataFrame(batch, TRANSCRIPT_SCHEMA), d,
                  BM25Params())
    ids = IndexStore(spark, d).doc_map.select("doc_id").toPandas()["doc_id"]
    assert ids.is_unique
    assert len(ids) == n_base - 20 + len(batch) == _stats(d)["n_docs"]
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))


def test_purge_that_empties_a_bucket(spark, tmp_path):
    from anisearch_model_spark.index.tombstones import (
        delete_docs, purge_deleted)

    pdf = gen_transcripts_pandas(400, seed=55)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) * 3 // 4]
    base = pdf[pdf["conv_id"] < cut]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base, TRANSCRIPT_SCHEMA), d,
                num_buckets=4)
    lo, n = _manifest(d)["buckets"]["0"]
    assert n > 0
    dead = IndexStore(spark, d).doc_map.filter(
        f"doc_id >= {lo} AND doc_id < {lo + n}").select(
        "doc_id", "conv_id", "turn_idx").toPandas()
    delete_docs(spark, d, dead["doc_id"].tolist())
    purge_deleted(spark, d)
    idx = IndexStore(spark, d)  # opens: the emptied bucket left the manifest
    assert len(_manifest(d)["buckets"]) == 3

    keys = set(zip(dead["conv_id"], dead["turn_idx"]))
    survivors = base[[k not in keys for k in zip(base["conv_id"],
                                                 base["turn_idx"])]]
    f = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(survivors, TRANSCRIPT_SCHEMA), f,
                num_buckets=3)
    fresh = IndexStore(spark, f)
    assert _stats(d)["n_docs"] == _stats(f)["n_docs"]
    assert _stats(d)["avgdl"] == _stats(f)["avgdl"]

    def keyed(ix, q):
        top = topk_exhaustive(ix, q, 10).toPandas()
        dm = ix.doc_map.select("doc_id", "conv_id", "turn_idx").toPandas()
        m = top.merge(dm, on="doc_id")
        return list(zip(m["conv_id"], m["turn_idx"])), m["score"].to_numpy()

    for q in QUERIES:
        ka, sa = keyed(idx, q)
        kb, sb = keyed(fresh, q)
        assert ka == kb, q
        np.testing.assert_array_equal(sa, sb)

    batch = pdf[pdf["conv_id"] >= cut]
    _append_batch(spark, spark.createDataFrame(batch, TRANSCRIPT_SCHEMA), d,
                  BM25Params())
    ids = IndexStore(spark, d).doc_map.select("doc_id").toPandas()["doc_id"]
    assert ids.is_unique and len(ids) == len(survivors) + len(batch)


def test_long_lived_reader_follows_an_append(spark, tmp_path):
    from anisearch_model_spark.query.engine import search

    pdf = gen_transcripts_pandas(600, seed=56)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) // 2]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[pdf["conv_id"] < cut],
                                             TRANSCRIPT_SCHEMA),
                d, num_buckets=2)
    stale = IndexStore(spark, d)
    for q in QUERIES:  # fill the df cache and stats of the old snapshot
        search(stale, q, 10).collect()
    _append_batch(spark, spark.createDataFrame(pdf[pdf["conv_id"] >= cut],
                                               TRANSCRIPT_SCHEMA),
                  d, BM25Params())
    fresh = IndexStore(spark, d)
    assert stale.stats == fresh.stats
    for q in QUERIES:
        a = search(stale, q, 10).toPandas()
        b = search(fresh, q, 10).toPandas()
        pd.testing.assert_frame_equal(a, b)


def test_token_total_exact_near_2_pow_50():
    """``round(avgdl × n_docs)`` recovers the integer token total that
    ``avgdl = total / n_docs`` came from, up to 2**51 tokens."""
    rng = random.Random(7)
    for _ in range(20000):
        total = (1 << 50) + rng.randrange(-(1 << 40), 1 << 40)
        n = rng.randrange(1, 1 << 40)
        assert token_total(float(total) / n, n) == total
    for total, n in (((1 << 51) - 1, 3), ((1 << 50) + 1, 7), (1, 1),
                     (0, 5), ((1 << 50) - 1, (1 << 50) - 3)):
        assert token_total(float(total) / n, n) == total
