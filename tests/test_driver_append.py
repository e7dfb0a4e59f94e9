"""The append's driver path (streaming/incremental.py): a micro-batch
that fits one Arrow batch and one bucket is written with pyarrow on the
driver, through the same kernel the executors run.  It must leave the
index the cluster path leaves — doc_map rows, block rows, dictionary,
stats and every scorer's results — and route everything else to the
cluster path.  Also: crash recovery of both paths and the append's
counters."""

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pytest

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA, gen_transcripts_pandas
from anisearch_model_spark.index.store import build_index
from anisearch_model_spark.query.engine import (
    IndexStore, topk_bmw, topk_exhaustive)
from anisearch_model_spark.streaming import incremental
from anisearch_model_spark.streaming.incremental import (
    _append_batch, incremental_append)
from tests.test_append_commit import (
    QUERIES, _assert_commit_equals_rederive, _same, _stats, _summed_dictionary)


def _force_cluster(mp):
    """Every batch is over the bound: the cluster path writes it."""
    mp.setattr(incremental, "_driver_bound", lambda spark: 0)


def _table(d, table) -> pd.DataFrame:
    t = pads.dataset(os.path.join(d, table), format="parquet",
                     partitioning="hive").to_table().to_pandas()
    keys = (["doc_id"] if table == "doc_map"
            else ["bucket", "field", "term", "block_id"])
    return t.sort_values(keys).reset_index(drop=True)


def _split(pdf):
    """base + two batches; the first continues a base conversation."""
    convs = sorted(pdf["conv_id"].unique())
    sizes = pdf.groupby("conv_id").size()
    split = next(c for c in convs[len(convs) * 2 // 3:] if sizes[c] >= 4)
    c1, c2 = convs.index(split), convs[len(convs) * 5 // 6]
    head = (pdf["conv_id"] == split) & (pdf["turn_idx"] < sizes[split] // 2)
    base = pdf[pdf["conv_id"].isin(convs[:c1]) | head]
    b1 = pdf[((pdf["conv_id"] == split) & ~head)
             | (pdf["conv_id"].isin(convs[c1 + 1:]) & (pdf["conv_id"] < c2))]
    return base, [b1, pdf[pdf["conv_id"] >= c2]]


@pytest.fixture(scope="module", params=[None, "role"],
                ids=["unscoped", "role"])
def both_paths(request, spark, tmp_path_factory):
    """The same base and two appends, once per path, written and read
    with the process time zone away from UTC (a naive-timestamp slip
    would shift ``ts`` by 5 hours)."""
    field_col = request.param
    root = tmp_path_factory.mktemp(f"drv_{field_col}")
    base, batches = _split(gen_transcripts_pandas(900, seed=61))
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("TZ", "EST+5")
        time.tzset()
        for path in ("driver", "cluster"):
            if path == "cluster":
                _force_cluster(mp)
            d = str(root / path)
            build_index(spark, spark.createDataFrame(base, TRANSCRIPT_SCHEMA),
                        d, num_buckets=2, field_col=field_col)
            for b in batches:
                got = _append_batch(spark, spark.createDataFrame(
                    b, TRANSCRIPT_SCHEMA), d, BM25Params())
                assert got == (path, len(b), 0)
            out[path] = (d, _table(d, "doc_map"))
    time.tzset()
    return out, field_col, root


def test_driver_and_cluster_paths_write_equal_indexes(spark, both_paths):
    out, _field_col, root = both_paths
    (a, dm_a), (b, dm_b) = out["driver"], out["cluster"]
    pd.testing.assert_frame_equal(dm_a, dm_b)
    assert dm_a["doc_id"].is_unique
    pd.testing.assert_frame_equal(_table(a, "postings"), _table(b, "postings"))
    pd.testing.assert_frame_equal(_summed_dictionary(a), _summed_dictionary(b))
    assert _stats(a) == _stats(b)
    _assert_commit_equals_rederive(spark, a, str(root / "ref"))
    # Spark reads the pyarrow-written doc_map exactly as its own
    pd.testing.assert_frame_equal(
        IndexStore(spark, a).doc_map.orderBy("doc_id").toPandas(),
        IndexStore(spark, b).doc_map.orderBy("doc_id").toPandas())


def test_driver_and_cluster_paths_score_bit_equal(spark, both_paths):
    from anisearch_model_spark.query.boolean import boolean_topk
    from anisearch_model_spark.query.phrase import phrase_topk

    out, field_col, _root = both_paths
    a, b = IndexStore(spark, out["driver"][0]), IndexStore(spark, out["cluster"][0])
    field = "user" if field_col else None
    for q in QUERIES:
        _same(topk_bmw(a, q, 10, field=field), topk_bmw(b, q, 10, field=field))
        _same(topk_exhaustive(a, q, 10), topk_exhaustive(b, q, 10))
    _same(phrase_topk(a, "hero battle", 10), phrase_topk(b, "hero battle", 10))
    _same(boolean_topk(a, "+hero battle -robot", 10),
          boolean_topk(b, "+hero battle -robot", 10))


def test_driver_path_append_runs_one_job(spark, tmp_path):
    pdf = gen_transcripts_pandas(600, seed=62)
    base, (b1, _b2) = _split(pdf)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base, TRANSCRIPT_SCHEMA), d,
                num_buckets=2)
    src = str(tmp_path / "batch")
    spark.createDataFrame(b1, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(src)
    batch = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(dag.nextJobId())
    assert _append_batch(spark, batch, d, BM25Params())[0] == "driver"
    assert int(dag.nextJobId()) - before <= 1
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))


@pytest.mark.parametrize("case", ["over_bound", "multi_bucket", "null_key"])
def test_batches_the_driver_cannot_take_go_to_the_cluster(spark, tmp_path,
                                                          monkeypatch, case):
    pdf = gen_transcripts_pandas(400, seed=63)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) * 3 // 4]
    base, batch = pdf[pdf["conv_id"] < cut], pdf[pdf["conv_id"] >= cut].copy()
    if case == "over_bound":
        monkeypatch.setattr(incremental, "_driver_bound",
                            lambda spark: len(batch) - 1)
    elif case == "multi_bucket":
        base = base[base["conv_id"] < convs[len(convs) // 8]]
    else:
        batch["turn_idx"] = batch["turn_idx"].astype(object)
        batch.iloc[0, batch.columns.get_loc("turn_idx")] = None
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base, TRANSCRIPT_SCHEMA), d,
                num_buckets=1)
    got = _append_batch(spark, spark.createDataFrame(batch, TRANSCRIPT_SCHEMA),
                        d, BM25Params())
    assert got == ("cluster", len(batch), 0)
    with open(os.path.join(d, "manifest.json"), encoding="utf-8") as f:
        n_buckets = len(json.load(f)["buckets"])
    assert (n_buckets > 2) == (case == "multi_bucket")
    assert _stats(d)["n_docs"] == len(base) + len(batch)
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))


def test_odd_field_values_round_trip_through_partition_paths(spark, tmp_path,
                                                             monkeypatch):
    odd = ["*", "a b", "x/y", "50%"]
    pdf = gen_transcripts_pandas(300, seed=64)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) * 2 // 3]
    base, batch = pdf[pdf["conv_id"] < cut], pdf[pdf["conv_id"] >= cut].copy()
    batch["role"] = [odd[i % len(odd)] for i in range(len(batch))]
    dirs, hits = {}, {}
    for path in ("driver", "cluster"):
        if path == "cluster":
            _force_cluster(monkeypatch)
        d = str(tmp_path / path)
        build_index(spark, spark.createDataFrame(base, TRANSCRIPT_SCHEMA), d,
                    num_buckets=1, field_col="role")
        got = _append_batch(spark, spark.createDataFrame(
            batch, TRANSCRIPT_SCHEMA), d, BM25Params())
        assert got[0] == path
        dirs[path] = sorted(os.listdir(os.path.join(d, "postings", "bucket=1")))
        idx = IndexStore(spark, d)
        assert set(odd) <= set(idx.stats["fields"])
        hits[path] = {r: topk_exhaustive(idx, "hero battle", 50, field=r)
                      .toPandas() for r in odd}
        for r in odd:
            top = hits[path][r]
            assert len(top)
            dm = idx.doc_map
            roles = dm.filter(dm["doc_id"].isin(top["doc_id"].tolist())
                              ).select("role").distinct().toPandas()
            assert roles["role"].tolist() == [r]
    assert dirs["driver"] == dirs["cluster"]
    assert "field=%2A" in dirs["driver"] and "field=x%2Fy" in dirs["driver"]
    for r in odd:
        pd.testing.assert_frame_equal(hits["driver"][r], hits["cluster"][r])


def test_crashed_append_leaves_no_ghost_postings(spark, tmp_path, monkeypatch):
    """An append that crashed before its manifest commit left doc_map AND
    postings dirs; the next append reuses the bucket id and must not
    inherit the crashed batch's ``field=`` partitions."""
    from anisearch_model_spark.index import compact

    pdf = gen_transcripts_pandas(400, seed=65)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) * 3 // 4]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[pdf["conv_id"] < cut],
                                             TRANSCRIPT_SCHEMA),
                d, num_buckets=2, field_col="role")
    ghost = pd.DataFrame({
        "conv_id": [f"zz-ghost-{i}" for i in range(10)], "turn_idx": 0,
        "role": "system", "text": "ghostword appears here",
        "tool": None, "ts": pd.Timestamp("2024-01-01")})

    def crash(*a, **k):
        raise RuntimeError("crash before the manifest commit")

    with monkeypatch.context() as mp:
        mp.setattr(compact, "_write_manifest", crash)
        with pytest.raises(RuntimeError):
            _append_batch(spark, spark.createDataFrame(ghost, TRANSCRIPT_SCHEMA),
                          d, BM25Params())
    users = pdf[pdf["conv_id"] >= cut].assign(role="user")
    _append_batch(spark, spark.createDataFrame(users, TRANSCRIPT_SCHEMA), d,
                  BM25Params())
    idx = IndexStore(spark, d)
    assert topk_exhaustive(idx, "ghostword", 10).count() == 0
    assert os.listdir(os.path.join(d, "postings", "bucket=2")) == ["field=user"]
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))


def _stream(spark, pdf, path):
    spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(path)
    return path


@pytest.mark.parametrize("path", ["driver", "cluster"])
def test_replay_after_crash_past_the_manifest_commit_appends_once(
        spark, tmp_path, monkeypatch, path):
    """A crash between the manifest commit and the stats write: the
    replayed epoch is recognised from the manifest's append record,
    writes no data and finishes the commit."""
    pdf = gen_transcripts_pandas(600, seed=66)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) * 3 // 4]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[pdf["conv_id"] < cut],
                                             TRANSCRIPT_SCHEMA),
                d, num_buckets=2, field_col="role")
    stream = _stream(spark, pdf[pdf["conv_id"] >= cut], str(tmp_path / "in"))
    ckpt = str(tmp_path / "ckpt")
    if path == "cluster":
        _force_cluster(monkeypatch)
    real, calls = incremental._commit_append, []

    def crash_once(*a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash after the manifest commit")
        return real(*a, **k)

    monkeypatch.setattr(incremental, "_commit_append", crash_once)
    with pytest.raises(Exception, match="crash after the manifest commit"):
        incremental_append(spark, stream, d, checkpoint_dir=ckpt)
    counts = incremental_append(spark, stream, d, checkpoint_dir=ckpt)
    keys = _table(d, "doc_map")[["conv_id", "turn_idx"]]
    assert not keys.duplicated().any() and len(keys) == len(pdf)
    assert _stats(d)["n_docs"] == len(pdf)
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))
    assert len(calls) == 2
    assert counts == {"batches": 1, "rows": 0, "driver_batches": 0,
                      "cluster_batches": 0, "fallbacks": 0}
    # a later replay of the same epoch is a no-op
    assert incremental._append_batch(
        spark, spark.read.parquet(stream), d, BM25Params(),
        txn=(os.path.abspath(ckpt), 0)) == ("replay", 0, 0)
    assert _stats(d)["n_docs"] == len(pdf)


def test_failed_driver_write_falls_back_and_is_counted(spark, tmp_path,
                                                       monkeypatch):
    import pyarrow.parquet as pq

    pdf = gen_transcripts_pandas(400, seed=67)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) * 3 // 4]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[pdf["conv_id"] < cut],
                                             TRANSCRIPT_SCHEMA),
                d, num_buckets=1, field_col="role")
    stream = _stream(spark, pdf[pdf["conv_id"] >= cut], str(tmp_path / "in"))
    real, calls = pq.write_table, []

    def fail_second(*a, **k):  # the doc_map file lands, a blocks file fails
        calls.append(1)
        if len(calls) == 2:
            raise OSError("disk full")
        return real(*a, **k)

    monkeypatch.setattr(pq, "write_table", fail_second)
    counts = incremental_append(spark, stream, d,
                                checkpoint_dir=str(tmp_path / "ckpt"))
    assert counts == {"batches": 1, "rows": len(pdf) - len(
        pdf[pdf["conv_id"] < cut]), "driver_batches": 0,
        "cluster_batches": 1, "fallbacks": 1}
    keys = _table(d, "doc_map")[["conv_id", "turn_idx"]]
    assert not keys.duplicated().any() and len(keys) == len(pdf)
    monkeypatch.undo()
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "ref"))


def test_cli_append_prints_the_counts(spark, tmp_path, capsys):
    from anisearch_model_spark import cli

    pdf = gen_transcripts_pandas(300, seed=68)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[len(convs) // 2]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf[pdf["conv_id"] < cut],
                                             TRANSCRIPT_SCHEMA),
                d, num_buckets=1)
    stream = _stream(spark, pdf[pdf["conv_id"] >= cut], str(tmp_path / "in"))
    capsys.readouterr()
    assert cli.main(["append", "--stream-dir", stream, "--index", d]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n = int((pdf["conv_id"] >= cut).sum())
    assert out == {"batches": 1, "rows": n, "driver_batches": 1,
                   "cluster_batches": 0, "fallbacks": 0}
    assert IndexStore(spark, d).stats["n_docs"] == len(pdf)
    np.testing.assert_array_equal(
        sorted(IndexStore(spark, d).doc_map.toPandas()["doc_id"]),
        np.arange(len(pdf)))
