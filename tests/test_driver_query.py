"""Driver-side request scoring (query/engine.py): a plain, phrase or
boolean request whose terms' summed df is within the driver bound reads
its blocks with pyarrow and runs the bucket kernels on the driver.  The
answers must be bit-identical to the cluster path's — on an unscoped and
a field-qualified index with odd field values, with tombstones, boosts,
an ``allow`` filter and pages past the first — and such a request must
run no Spark job.  Its result is an ``engine.LocalFrame``: a served
request sends no py4j command at all, and the frame's local ``collect``
equals a JVM ``collect``.  A failed driver-side read (blocks, dictionary
or metadata) must give the cluster answer plus one counted fallback."""

import io
import json
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pytest

from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA, gen_transcripts_pandas
from anisearch_model_spark.index.store import build_index
from anisearch_model_spark.index.tombstones import delete_docs
from anisearch_model_spark.query import engine
from anisearch_model_spark.query.boolean import boolean_search, boolean_topk
from anisearch_model_spark.query.engine import (
    IndexStore, search, topk_bmw, topk_exhaustive)
from anisearch_model_spark.query.phrase import phrase_search, phrase_topk

ODD_ROLES = ["*", "a b", "x/y", "50%"]


def _force(mp, path):
    """Pin every request to one path through the driver-scoring bound."""
    mp.setattr(engine, "LOCAL_MAX_POSTINGS",
               0 if path == "cluster" else 1 << 40)


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(dag.nextJobId())
    out = fn()
    return int(dag.nextJobId()) - before, out


@pytest.fixture(scope="module")
def unscoped(spark, index_dir, tmp_path_factory):
    """The shared index, copied, with a few hot docs deleted."""
    d = str(tmp_path_factory.mktemp("drvq") / "unscoped")
    shutil.copytree(index_dir, d)
    hot = topk_exhaustive(IndexStore(spark, d), "hero battle", 6).toPandas()
    delete_docs(spark, d, hot["doc_id"].tolist()[::2])
    return d


@pytest.fixture(scope="module")
def odd(spark, tmp_path_factory):
    """A role-qualified index whose roles need escaping in partition
    paths, with a few hot docs deleted."""
    pdf = gen_transcripts_pandas(900, seed=71)
    pdf["role"] = [(ODD_ROLES + ["user"])[i % 5] for i in range(len(pdf))]
    d = str(tmp_path_factory.mktemp("drvq") / "odd")
    build_index(spark, spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA), d,
                num_buckets=3, field_col="role")
    hot = topk_exhaustive(IndexStore(spark, d), "hero battle", 6).toPandas()
    delete_docs(spark, d, hot["doc_id"].tolist()[1::2])
    return d


def _requests(field, allow):
    """(name, request) pairs; each request maps a store to a frame."""
    return [
        ("bmw", lambda i: topk_bmw(i, "hero battle magic world", 10,
                                   field=field)),
        ("exhaustive", lambda i: topk_exhaustive(i, "hero battle story", 10,
                                                 field=field)),
        ("boosts", lambda i: topk_bmw(i, "hero battle", 10, field=field,
                                      boosts={"battle": 2.5})),
        ("boosts_exhaustive", lambda i: topk_exhaustive(
            i, "hero battle", 10, field=field, boosts={"hero": 0.5})),
        ("allow", lambda i: topk_bmw(i, "hero battle story", 10, field=field,
                                     allow=allow)),
        ("search_page2", lambda i: search(i, "hero battle story", k=5, page=2,
                                          role=field)),
        ("exhaustive_page3", lambda i: search(i, "hero dragon", k=4, page=3,
                                              role=field, pruned=False)),
        ("phrase", lambda i: phrase_topk(i, "hero battle", 10, field=field)),
        ("phrase_page2", lambda i: phrase_search(i, "hero battle", k=3,
                                                 page=2, field=field)),
        ("phrase_slop", lambda i: phrase_topk(i, "hero magic", 10,
                                              field=field, slop=3)),
        ("boolean", lambda i: boolean_topk(i, "+hero battle -dragon", 10,
                                           field=field)),
        ("boolean_page2", lambda i: boolean_search(
            i, "+hero magic story -world", k=3, page=2, field=field)),
    ]


def _both_paths(spark, d, field, monkeypatch):
    """{path: {request name: pandas frame}}, and the path counts."""
    allow = np.arange(0, 4000, 3, dtype="int64")
    got, counts = {}, {}
    for path in ("cluster", "local"):
        with monkeypatch.context() as mp:
            _force(mp, path)
            idx = IndexStore(spark, d)
            got[path] = {name: req(idx).toPandas()
                         for name, req in _requests(field, allow)}
            counts[path] = dict(idx.path_counts)
    return got, counts


def _assert_same(got):
    for name, want in got["cluster"].items():
        pd.testing.assert_frame_equal(got["local"][name], want,
                                      check_exact=True, obj=name)
    assert any(len(f) for f in got["cluster"].values())


def test_local_equals_cluster_unscoped(spark, unscoped, monkeypatch):
    got, counts = _both_paths(spark, unscoped, None, monkeypatch)
    _assert_same(got)
    assert len(got["cluster"]["search_page2"]) == 5
    assert len(got["cluster"]["phrase_page2"]) == 3
    assert counts["local"]["cluster"] == counts["cluster"]["local"] == 0
    assert counts["local"]["local"] == counts["cluster"]["cluster"] > 0
    assert counts["local"]["fallbacks"] == counts["cluster"]["fallbacks"] == 0


@pytest.mark.parametrize("field", [None, "user"] + ODD_ROLES)
def test_local_equals_cluster_odd_fields(spark, odd, monkeypatch, field):
    got, _ = _both_paths(spark, odd, field, monkeypatch)
    _assert_same(got)
    if field is not None:
        roles = set(got["local"]["search_page2"]["role"])
        assert roles <= {field}


def test_local_path_respects_tombstones(spark, unscoped):
    idx = IndexStore(spark, unscoped)
    dead = set(idx.tombstones.tolist())
    assert dead
    for f in (topk_bmw(idx, "hero battle", 20),
              topk_exhaustive(idx, "hero battle", 20),
              boolean_topk(idx, "hero battle", 20)):
        assert not dead & set(f.toPandas()["doc_id"])
    assert idx.path_counts["local"] == 3


_SERVED = [json.dumps(r) for r in (
    {"query": "hero battle", "k": 5},
    {"query": "hero battle", "k": 5, "page": 2},
    {"query": "hero battle", "k": 5, "phrase": True},
    {"query": "+hero -dragon battle", "k": 5, "boolean": True},
    {"query": "zzzunseenword", "k": 5},
    {"query": "zzzunseenword other", "k": 5, "phrase": True},
    {"query": "+zzzunseenword hero", "k": 5, "boolean": True},
)]


def test_served_requests_run_no_spark_job(spark, unscoped, tmp_path,
                                          monkeypatch):
    """plain, phrase and boolean requests through ``serve_loop`` (query
    log on), pages past the first and absent terms: 0 Spark jobs, 0
    py4j commands and 0 ``createDataFrame`` calls.  py4j's own thread
    may release JVM objects that earlier work dropped meanwhile; only
    the serving thread's commands count."""
    import threading

    from anisearch_model_spark import cli

    d = str(tmp_path / "idx")
    shutil.copytree(unscoped, d)
    out = io.StringIO()
    cli.serve_loop(spark, d, _SERVED[:1], io.StringIO(), log=True)  # warm-up
    client = spark.sparkContext._gateway._gateway_client
    commands, frames = [], []
    send, create = client.send_command, type(spark).createDataFrame

    def serve():
        with monkeypatch.context() as mp:
            mp.setattr(client, "send_command", lambda c, *a, **kw: (
                commands.append((threading.current_thread(), c)),
                send(c, *a, **kw))[1])
            mp.setattr(type(spark), "createDataFrame", lambda *a, **kw: (
                frames.append(a), create(*a, **kw))[1])
            return cli.serve_loop(spark, d, _SERVED, out, log=True)

    jobs, n = _jobs(spark, serve)
    assert n == len(_SERVED) and jobs == 0
    main = threading.current_thread()
    assert [c for t, c in commands if t is main] == [] and frames == []
    resp = [json.loads(x) for x in out.getvalue().splitlines()]
    assert [len(r["results"]) for r in resp] == [5, 5, 5, 5, 0, 0, 0]


def test_served_results_equal_on_both_paths(spark, unscoped, each_path):
    """Over the bound the same requests score on the cluster: the
    served results are unchanged."""
    from anisearch_model_spark import cli

    got = {}
    for path in each_path():
        out = io.StringIO()
        cli.serve_loop(spark, unscoped, _SERVED, out, log=False)
        got[path] = [json.loads(x)["results"]
                     for x in out.getvalue().splitlines()]
    assert got["local"] == got["cluster"]
    assert [len(r) for r in got["local"]] == [5, 5, 5, 5, 0, 0, 0]


def _results(idx):
    """(name, frame) pairs: plain, phrase and boolean results with k
    over the match count, a page past the first and an empty result."""
    return [
        ("plain", search(idx, "hero battle", k=8)),
        ("plain_all", search(idx, "hero battle", k=5000)),
        ("plain_page3", search(idx, "hero battle", k=4, page=3)),
        ("plain_none", search(idx, "zzzunseenword", k=5)),
        ("ranked_only", search(idx, "hero", k=6, with_metadata=False)),
        ("phrase_all", phrase_search(idx, "hero battle", k=5000)),
        ("phrase_page2", phrase_search(idx, "hero battle", k=3, page=2)),
        ("phrase_none", phrase_search(idx, "zzzunseen word", k=5)),
        ("boolean_all", boolean_search(idx, "+hero battle -dragon", k=5000)),
        ("boolean_page2", boolean_search(idx, "+hero -dragon", k=3, page=2)),
        ("boolean_none", boolean_search(idx, "+zzzunseenword hero", k=5)),
    ]


def _typed(rows):
    return [[(v, type(v)) for v in r] for r in rows]


def test_local_collect_equals_jvm_collect(spark, unscoped):
    """A driver-scored result's ``collect`` answers from its pandas
    frame; ``select("*")`` materializes the JVM frame and collects that.
    Values, field names and the type of every value agree."""
    idx = IndexStore(spark, unscoped)
    n_all = 0
    for name, df in _results(idx):
        assert isinstance(df, engine.LocalFrame), name
        local, jvm = df.collect(), df.select("*").collect()
        assert _typed(local) == _typed(jvm), name
        assert [r.asDict() for r in local] == [r.asDict() for r in jvm], name
        assert df.schema == df.select("*").schema, name
        n_all += name.endswith("_all") and 0 < len(local) < 5000
    assert n_all == 3


def test_local_frame_operations_equal_jvm_frame(spark, unscoped):
    """Operations that need a JVM plan build it on first use and answer
    as a ``createDataFrame`` of the same pandas frame does."""
    from pyspark.sql import functions as F

    idx = IndexStore(spark, unscoped)
    others = spark.range(0, 4000).withColumnRenamed("id", "doc_id").filter(
        "doc_id % 2 = 0")
    ops = {
        "filter": lambda f: f.filter(F.col("rank") > 2).collect(),
        "orderBy": lambda f: f.orderBy(F.desc("doc_id")).collect(),
        "join": lambda f: f.join(others, "doc_id").orderBy("rank").collect(),
        "count": lambda f: f.count(),
        "columns": lambda f: f.columns,
        "toPandas": lambda f: f.toPandas(),
    }
    results = dict(_results(idx))
    for name in ("plain", "plain_none", "phrase_page2", "boolean_all"):
        pdf, struct = results[name]._pdf, results[name].schema
        ref = spark.createDataFrame(pdf, struct)
        for op, fn in ops.items():
            got, want = fn(engine.local_frame(spark, pdf, struct)), fn(ref)
            if op == "toPandas":
                pd.testing.assert_frame_equal(got, want, check_exact=True)
            else:
                assert got == want, (name, op)


def test_empty_frame_keeps_non_nullable_struct(spark):
    """An empty result under a struct with a non-nullable field (a JVM
    plan's, as ``probe_doc_map`` passes) builds a JVM frame of that
    struct and answers as ``createDataFrame([], struct)`` does."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType)

    struct = StructType([StructField("field", StringType(), False),
                         StructField("doc_id", LongType()),
                         StructField("score", DoubleType())])
    df, ref = engine.local_frame(spark, None, struct), \
        spark.createDataFrame([], struct)
    assert df.collect() == [] and df.count() == 0
    assert df.select("*").schema == ref.schema == struct
    assert df.join(ref, "doc_id").collect() == []


def test_empty_multi_field_search(spark, odd, each_path):
    """A multi-field search with no match returns no rows on both
    paths; its candidate frame has a non-nullable ``field`` column."""
    from anisearch_model_spark.query.multifield import search_fields

    for path in each_path():
        got = search_fields(IndexStore(spark, odd), "zzzunseenword",
                            ["user", "a b"], k=5).collect()
        assert got == [], path


def test_absent_term_runs_no_spark_job(spark, unscoped):
    idx = IndexStore(spark, unscoped)
    for req in (lambda: search(idx, "zzzunseenword", k=5).collect(),
                lambda: topk_exhaustive(idx, "zzzunseenword", 5).collect(),
                lambda: phrase_search(idx, "zzzunseen word", k=5).collect(),
                lambda: boolean_search(idx, "+zzzunseenword", k=5).collect()):
        jobs, rows = _jobs(spark, req)
        assert (jobs, rows) == (0, [])


def test_over_the_bound_takes_the_cluster_path(spark, unscoped, monkeypatch):
    """The bound is the terms' summed dictionary df: one posting over it
    sends the request to the cluster, at it the request stays local."""
    idx = IndexStore(spark, unscoped)
    n = sum(idx.term_dfs(["battle", "hero"]).values())
    for bound, path in ((n - 1, "cluster"), (n, "local")):
        monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", bound)
        before = dict(idx.path_counts)
        topk_bmw(idx, "hero battle", 5).collect()
        assert idx.path_counts[path] == before[path] + 1


def _fail_reads_of(monkeypatch, table, exc):
    """Make pyarrow dataset reads under ``<index>/<table>/`` fail."""
    real = pads.dataset

    def dataset(source, *a, **kw):
        if f"/{table}/" in str(source):
            raise exc
        return real(source, *a, **kw)

    monkeypatch.setattr(pads, "dataset", dataset)


@pytest.mark.parametrize("table,exc", [
    ("postings", OSError("bucket dir removed by a compaction")),
    ("dictionary", pa.ArrowInvalid("unreadable footer")),
    ("doc_map", FileNotFoundError("doc_map file vanished")),
])
def test_failed_driver_read_falls_back_counted(spark, unscoped, monkeypatch,
                                               table, exc):
    with monkeypatch.context() as mp:
        _force(mp, "cluster")
        want = search(IndexStore(spark, unscoped), "hero battle", k=7
                      ).toPandas()
    idx = IndexStore(spark, unscoped)  # cold caches: every fast path runs
    _fail_reads_of(monkeypatch, table, exc)
    got = search(idx, "hero battle", k=7).toPandas()
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert idx.path_counts["fallbacks"] == 1
    assert idx.path_counts["cluster" if table == "postings" else "local"] == 1
