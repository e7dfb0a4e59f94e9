"""A doc whose ``field_col`` value is null still gets postings on a
field-qualified index: the build, the append's driver path and its
cluster path each store them with a null field (Hive's default
partition), so an unscoped search finds the doc and ``avgdl`` counts its
tokens, as on an unscoped build of the same corpus.  An empty field
value is stored the same way, so it is no field of stats.json either:
a search scoped to ``""`` is refused like one to a missing field."""

import pandas as pd
import pytest

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA, gen_transcripts_pandas
from anisearch_model_spark.index.store import build_index
from anisearch_model_spark.query.engine import (
    IndexStore, topk_bmw, topk_exhaustive)
from anisearch_model_spark.streaming.incremental import _append_batch
from tests.test_append_commit import _assert_commit_equals_rederive, _stats
from tests.test_driver_append import _force_cluster

_WORD = "uniquenullword"


def _corpus(role):
    """200 datagen turns plus one ``role=role`` turn holding ``_WORD``,
    in a conversation that sorts after every datagen one."""
    pdf = gen_transcripts_pandas(200, seed=91)
    extra = pdf.iloc[[0]].assign(conv_id="zzz-null", turn_idx=0, role=role,
                                 text=f"{_WORD} appears")
    return pd.concat([pdf, extra], ignore_index=True)


@pytest.fixture(scope="module")
def corpus():
    return _corpus(None)


@pytest.fixture(scope="module")
def unscoped_avgdl(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nullf") / "unscoped")
    build_index(spark, spark.createDataFrame(corpus, TRANSCRIPT_SCHEMA), d,
                num_buckets=1)
    return _stats(d)["avgdl"]


def _assert_found(spark, d, corpus, unscoped_avgdl, where="role IS NULL"):
    idx = IndexStore(spark, d)
    assert idx.stats["avgdl"] == unscoped_avgdl
    assert idx.stats["n_docs"] == len(corpus)
    doc_map = idx.doc_map.filter(where).toPandas()
    assert doc_map["conv_id"].tolist() == ["zzz-null"]
    for scorer in (topk_exhaustive, topk_bmw):
        hits = scorer(idx, _WORD, 10).toPandas()
        assert hits["doc_id"].tolist() == doc_map["doc_id"].tolist(), scorer


def test_build_keeps_null_field_postings(spark, corpus, unscoped_avgdl,
                                         tmp_path):
    d = str(tmp_path / "role")
    build_index(spark, spark.createDataFrame(corpus, TRANSCRIPT_SCHEMA), d,
                num_buckets=1, field_col="role")
    _assert_found(spark, d, corpus, unscoped_avgdl)


@pytest.mark.parametrize("path", ["driver", "cluster"])
def test_append_keeps_null_field_postings(spark, corpus, unscoped_avgdl,
                                          tmp_path, monkeypatch, path):
    if path == "cluster":
        _force_cluster(monkeypatch)
    cut = corpus["conv_id"] >= sorted(corpus["conv_id"].unique())[-4]
    d = str(tmp_path / "role")
    build_index(spark, spark.createDataFrame(corpus[~cut], TRANSCRIPT_SCHEMA),
                d, num_buckets=1, field_col="role")
    got = _append_batch(spark, spark.createDataFrame(
        corpus[cut], TRANSCRIPT_SCHEMA), d, BM25Params())
    assert got == (path, int(cut.sum()), 0)
    _assert_found(spark, d, corpus, unscoped_avgdl)
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))


def _assert_empty_field_reads_as_null(spark, d, corpus, unscoped_avgdl):
    _assert_found(spark, d, corpus, unscoped_avgdl, where="role = ''")
    idx = IndexStore(spark, d)
    assert "" not in idx.stats["fields"]
    for role in ("", "no-such-role"):
        with pytest.raises(ValueError, match="not field-qualified"):
            topk_bmw(idx, _WORD, 10, field=role)


def test_build_stores_empty_field_as_null(spark, unscoped_avgdl, tmp_path):
    corpus = _corpus("")
    d = str(tmp_path / "role")
    build_index(spark, spark.createDataFrame(corpus, TRANSCRIPT_SCHEMA), d,
                num_buckets=1, field_col="role")
    _assert_empty_field_reads_as_null(spark, d, corpus, unscoped_avgdl)


@pytest.mark.parametrize("path", ["driver", "cluster"])
def test_append_stores_empty_field_as_null(spark, unscoped_avgdl, tmp_path,
                                           monkeypatch, path):
    if path == "cluster":
        _force_cluster(monkeypatch)
    corpus = _corpus("")
    cut = corpus["conv_id"] >= sorted(corpus["conv_id"].unique())[-4]
    d = str(tmp_path / "role")
    build_index(spark, spark.createDataFrame(corpus[~cut], TRANSCRIPT_SCHEMA),
                d, num_buckets=1, field_col="role")
    got = _append_batch(spark, spark.createDataFrame(
        corpus[cut], TRANSCRIPT_SCHEMA), d, BM25Params())
    assert got == (path, int(cut.sum()), 0)
    _assert_empty_field_reads_as_null(spark, d, corpus, unscoped_avgdl)
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))
