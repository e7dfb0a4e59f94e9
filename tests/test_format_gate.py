"""One stats reader (index/store.load_stats) gates every writer as well as
the query store: a write on an index in an older format is refused with
"rebuild" before it touches anything, so no write can stamp the current
format version onto blocks that lack ``pos_deltas``."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA, gen_transcripts_pandas
from anisearch_model_spark.index.store import build_index

_REFUSED = "format version 2.*rebuild"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One current-format build and the corpus it was built from."""
    root = tmp_path_factory.mktemp("gate")
    pdf = gen_transcripts_pandas(300, seed=71)
    d = str(root / "base")
    build_index(spark, spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA), d,
                num_buckets=2)
    return d, pdf


def _v2_copy(src, dst) -> bytes:
    """A copy of ``src`` whose stats.json says format 2; returns the
    file's bytes."""
    shutil.copytree(src, dst)
    path = os.path.join(dst, "stats.json")
    with open(path, encoding="utf-8") as f:
        stats = json.load(f)
    stats["index_format_version"] = 2
    with open(path, "w", encoding="utf-8") as f:
        json.dump(stats, f)
    with open(path, "rb") as f:
        return f.read()


def _stats_bytes(d) -> bytes:
    with open(os.path.join(d, "stats.json"), "rb") as f:
        return f.read()


def test_merge_refuses_v2_source(spark, built, tmp_path):
    """Two format-2 sources agree with each other, yet the merge must not
    write a format-3 index from them; one format-2 source among current
    ones is refused the same way."""
    from anisearch_model_spark.index.merge import merge_indexes

    d, pdf = built
    other = str(tmp_path / "other")
    build_index(spark, spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).withColumn(
        "conv_id", F.concat(F.lit("z-"), F.col("conv_id"))), other,
        num_buckets=1)
    old, old_other = str(tmp_path / "old"), str(tmp_path / "old_other")
    _v2_copy(d, old)
    _v2_copy(other, old_other)
    out = str(tmp_path / "merged")
    for srcs in ([old, old_other], [old, other], [other, old]):
        with pytest.raises(ValueError, match=_REFUSED):
            merge_indexes(spark, srcs, out)
        assert not os.path.exists(out)


def test_compact_and_purge_refuse_v2_index(spark, built, tmp_path):
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.tombstones import (
        delete_docs, load_tombstones, purge_deleted)

    d, _pdf = built
    old = str(tmp_path / "old")
    raw = _v2_copy(d, old)
    delete_docs(spark, old, [0, 1, 2])
    with pytest.raises(ValueError, match=_REFUSED):
        compact_index(spark, old)
    with pytest.raises(ValueError, match=_REFUSED):
        purge_deleted(spark, old)
    assert _stats_bytes(old) == raw
    assert len(load_tombstones(old)) == 3


def test_append_and_resume_refuse_v2_index(spark, built, tmp_path):
    from anisearch_model_spark.streaming.incremental import _append_batch

    d, pdf = built
    old = str(tmp_path / "old")
    raw = _v2_copy(d, old)
    with open(os.path.join(old, "manifest.json"), "rb") as f:
        manifest = f.read()
    batch = pdf.assign(conv_id="zz-" + pdf["conv_id"]).head(20)
    with pytest.raises(ValueError, match=_REFUSED):
        _append_batch(spark, spark.createDataFrame(batch, TRANSCRIPT_SCHEMA),
                      old, BM25Params())
    with pytest.raises(ValueError, match=_REFUSED):
        build_index(spark, spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA), old,
                    num_buckets=2)
    assert _stats_bytes(old) == raw
    with open(os.path.join(old, "manifest.json"), "rb") as f:
        assert f.read() == manifest
    assert sorted(os.listdir(os.path.join(old, "doc_map"))) == sorted(
        os.listdir(os.path.join(d, "doc_map")))
