"""The query log's driver-side writer: no Spark job per append, one
visible file per record, rows readable next to those the earlier Spark
writer left behind, and safe under concurrent appenders and failed
writes."""

import datetime as dt
import io
import json
import os
import re
import shutil
import threading
import time

import pytest

from anisearch_model_spark.query.log import (
    QUERY_LOG_SCHEMA, log_query, read_query_log)

TS = dt.datetime(2024, 5, 6, 7, 8, 9, 123456)


def _log(spark, d, text, ts=TS):
    log_query(spark, d, ts=ts, query_text=text, k=5, n_results=2,
              res_hash="h0", wall_ms=3.0, field="user", scorer="phrase")


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture
def non_utc_local_time():
    """Python's local time 5 h behind UTC, so a naive ``ts`` taken as
    UTC instead of local time reads back shifted."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "EST+5"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def test_log_query_runs_no_spark_job(spark, tmp_path):
    d = str(tmp_path)
    before = _job_ids(spark)
    _log(spark, d, "hero battle")
    assert _job_ids(spark) == before
    files = os.listdir(os.path.join(d, "query_log"))
    assert len(files) == 1
    assert re.fullmatch(r"part-[0-9a-f-]{36}\.parquet", files[0])
    # the probe does see jobs: the read-back runs at least one
    rows = read_query_log(spark, d).collect()
    assert _job_ids(spark) != before
    assert [(r.query_text, r.k, r.page, r.field, r.scorer, r.n_results,
             r.result_hash, r.wall_ms) for r in rows] == [
        ("hero battle", 5, 1, "user", "phrase", 2, "h0", 3.0)]


@pytest.mark.parametrize("ts", [TS, TS.replace(tzinfo=dt.timezone.utc)],
                         ids=["naive", "utc"])
def test_reads_rows_of_both_writers(spark, tmp_path, non_utc_local_time,
                                    ts):
    """A directory holding a row the Spark writer appended and rows from
    ``log_query`` reads back with the fixed schema, and the same ``ts``
    reads back equal from both writers (naive = local time)."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(ts, "old", 5, 1, "user", "phrase", 2, "h0", 3.0)],
        QUERY_LOG_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(os.path.join(d, "query_log"))
    _log(spark, d, "new", ts)
    _log(spark, d, "new2", ts)
    log = read_query_log(spark, d)
    assert log.schema == spark.createDataFrame([], QUERY_LOG_SCHEMA).schema
    rows = {r.query_text: r.asDict() for r in log.collect()}
    assert set(rows) == {"old", "new", "new2"}
    old = rows.pop("old")
    for r in rows.values():
        r.pop("query_text")
        assert r == {k: v for k, v in old.items() if k != "query_text"}
    want = ts if ts.tzinfo is None else ts.astimezone().replace(tzinfo=None)
    assert old["ts"] == want


def test_concurrent_appends_each_land_once(spark, tmp_path):
    d = str(tmp_path)
    errors = []

    def appender(t):
        try:
            for i in range(25):
                _log(spark, d, f"t{t}-q{i}")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(t,))
               for t in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    names = os.listdir(os.path.join(d, "query_log"))
    assert len(names) == 100
    assert not [n for n in names if n.startswith(".")]
    log = read_query_log(spark, d).toPandas()
    assert len(log) == 100
    assert set(log["query_text"]) == {f"t{t}-q{i}" for t in range(4)
                                      for i in range(25)}


def test_failed_log_write_keeps_results(spark, index_dir, tmp_path,
                                        monkeypatch, capsys):
    """A log write that fails part-way leaves no file behind, warns on
    stderr, and the served response lines are the ones a working log
    would have given."""
    import pyarrow.parquet as pq

    from anisearch_model_spark.cli import serve_loop

    reqs = "\n".join([
        "hero battle magic",
        json.dumps({"query": "robot space", "k": 3, "exhaustive": True}),
        json.dumps({"query": "+hero battle", "k": 2, "boolean": True}),
    ])

    def serve(d):
        out = io.StringIO()
        assert serve_loop(spark, d, io.StringIO(reqs), out) == 3
        return [{k: v for k, v in json.loads(line).items() if k != "wall_ms"}
                for line in out.getvalue().splitlines()]

    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    shutil.copytree(index_dir, good)
    shutil.copytree(index_dir, bad)
    want = serve(good)
    assert read_query_log(spark, good).count() == 3
    capsys.readouterr()

    def partial_write(table, where, *args, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", partial_write)
    got = serve(bad)
    assert got == want
    assert all("error" not in line for line in got)
    err = capsys.readouterr().err
    assert err.count("warning: query_log append failed: disk full") == 3
    assert os.listdir(os.path.join(bad, "query_log")) == []
