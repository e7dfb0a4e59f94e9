"""Batch query-set evaluation + incremental streaming append."""

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_batch_topk_matches_single_query(spark, index_dir):
    from anisearch_model_spark.query.batch import batch_topk
    from anisearch_model_spark.query.engine import IndexStore, topk_exhaustive

    idx = IndexStore(spark, index_dir)
    queries = pd.DataFrame(
        {
            "query_id": [1, 2, 3, 4],
            "query_text": [
                "hero battle magic world",
                "robot space pirate",
                "the and of",           # stopword-only → no rows
                "shadow light dragon",
            ],
        }
    )
    got = batch_topk(idx, queries, k=10).toPandas()
    for qid, qtext in zip(queries["query_id"], queries["query_text"]):
        single = topk_exhaustive(idx, qtext, 10).toPandas()
        mine = got[got["query_id"] == qid].sort_values("rank").reset_index(drop=True)
        assert mine["doc_id"].tolist() == single["doc_id"].tolist(), qtext
        if len(single):
            np.testing.assert_array_equal(
                mine["score"].to_numpy(), single["score"].to_numpy()
            )


def test_incremental_append_equals_full_rebuild(spark, tmp_path):
    """Append half the corpus via streaming; queries must return the same
    results as a from-scratch build over the full corpus (doc_ids align
    because both orderings are (conv_id, turn_idx) with the stream half
    sorting strictly after the base half)."""
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_exhaustive
    from anisearch_model_spark.streaming.incremental import incremental_append

    full_pdf = gen_transcripts_pandas(2000, seed=21)
    convs = sorted(full_pdf["conv_id"].unique())
    cut = convs[len(convs) // 2]
    base_pdf = full_pdf[full_pdf["conv_id"] < cut]
    extra_pdf = full_pdf[full_pdf["conv_id"] >= cut]

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    d_full = str(tmp_path / "full_idx")
    d_inc = str(tmp_path / "inc_idx")
    stream_dir = str(tmp_path / "stream_in")
    for d in (d_full, d_inc, stream_dir):
        shutil.rmtree(d, ignore_errors=True)

    build_index(spark, spark.createDataFrame(full_pdf, schema), d_full, num_buckets=4)
    build_index(spark, spark.createDataFrame(base_pdf, schema), d_inc, num_buckets=4)
    spark.createDataFrame(extra_pdf, schema).write.mode("overwrite").parquet(stream_dir)
    incremental_append(spark, stream_dir, d_inc)

    full = IndexStore(spark, d_full)
    inc = IndexStore(spark, d_inc)
    assert inc.stats["n_docs"] == full.stats["n_docs"]
    assert inc.stats["avgdl"] == pytest.approx(full.stats["avgdl"], abs=1e-9)

    for q in ["hero battle magic", "robot space", "term0042 dragon"]:
        a = topk_exhaustive(full, q, 10).toPandas()
        b = topk_exhaustive(inc, q, 10).toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), q
        np.testing.assert_allclose(a["score"], b["score"], atol=1e-9)

    # doc_map integrity: every appended row readable (bucket-partitioned
    # append — root-level files would be dropped by partition discovery)
    fm = full.doc_map.select("doc_id", "conv_id", "turn_idx", "text").toPandas()
    im = inc.doc_map.select("doc_id", "conv_id", "turn_idx", "text").toPandas()
    assert len(im) == len(fm)
    pd.testing.assert_frame_equal(
        fm.sort_values("doc_id").reset_index(drop=True),
        im.sort_values("doc_id").reset_index(drop=True),
    )

    # second append run: stream drained, nothing changes (exactly-once)
    incremental_append(spark, stream_dir, d_inc)
    inc2 = IndexStore(spark, d_inc)
    assert inc2.stats["n_docs"] == full.stats["n_docs"]


def test_cli_build_and_search(spark, tmp_path, capsys):
    from anisearch_model_spark import cli
    from anisearch_model_spark.datagen import write_transcripts

    src = str(tmp_path / "cli_in")
    idx = str(tmp_path / "cli_idx")
    write_transcripts(spark, src, 1000, seed=9)
    rc = cli.main(["build", "--input", src, "--index", idx, "--num-buckets", "4"])
    assert rc == 0
    # plain search is a pure read: NO query_log dir appears
    rc = cli.main(["search", "--index", idx, "--query", "hero battle", "--k", "3"])
    assert rc == 0
    import os

    assert not os.path.exists(os.path.join(idx, "query_log"))
    # opt-in logging writes one query-log record (reference S6 query half)
    rc = cli.main(["search", "--index", idx, "--query", "hero battle",
                   "--k", "3", "--log"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    import json

    build_line = json.loads(out[0])
    assert build_line["n_docs"] == 1000
    hits = [json.loads(x) for x in out[1:] if "conv_id" in x]
    assert 1 <= len(hits) <= 6  # two searches' hits, ≤3 each

    from anisearch_model_spark.query.log import read_query_log

    log = read_query_log(spark, idx).toPandas()
    assert len(log) == 1
    assert log.loc[0, "query_text"] == "hero battle"
    assert log.loc[0, "scorer"] == "bmw"
    # wall_ms measures the whole search (construction executes the
    # expensive top-k eagerly), not just the final collect
    assert log.loc[0, "wall_ms"] > 1.0


def test_query_log_append_only(spark, index_dir, tmp_path):
    """The query log is an append-only table: every logged query adds
    exactly one row with the fixed schema; earlier rows never change."""
    import datetime as dt
    import shutil
    from anisearch_model_spark.query.engine import IndexStore
    from anisearch_model_spark.query.log import (
        QUERY_LOG_SCHEMA, read_query_log, timed_logged_search)

    d = str(tmp_path / "qlog_idx")
    shutil.copytree(index_dir, d)
    idx = IndexStore(spark, d)
    r1 = timed_logged_search(spark, idx, "hero battle", k=5)
    r2 = timed_logged_search(spark, idx, "robot space", k=3)
    log = read_query_log(spark, d).orderBy("ts").toPandas()
    assert len(log) == 2
    assert set(log.columns) == {
        f.split()[0] for f in QUERY_LOG_SCHEMA.split(", ")
    }
    assert log["n_results"].tolist() == [len(r1), len(r2)]
    assert log["k"].tolist() == [5, 3]
    first_hash = log.loc[0, "result_hash"]
    # identical repeat query → same result hash, third row appended
    timed_logged_search(spark, idx, "hero battle", k=5)
    log2 = read_query_log(spark, d).orderBy("ts").toPandas()
    assert len(log2) == 3
    assert log2.loc[2, "result_hash"] == first_hash
    assert log2.loc[0, "result_hash"] == first_hash  # old row untouched


def test_append_replay_after_midbatch_crash_is_idempotent(spark, tmp_path):
    """A crash between the doc_map append and the manifest commit leaves
    orphan doc_map bucket dirs; the repair pass at batch start must delete
    them so the foreachBatch REPLAY converges to exactly the clean state
    (no duplicate doc_ids fanning out in search()'s metadata join).  Runs
    on both append paths: the second half of the conversations onto a
    three-bucket base spans three buckets (the cluster path); the last
    third onto a one-bucket base fits one bucket (the driver path)."""
    for num_buckets, cut_at, path in ((3, 1 / 2, "cluster"),
                                      (1, 2 / 3, "driver")):
        _replay_after_midbatch_crash(spark, tmp_path / path, num_buckets,
                                     cut_at, path)


def _replay_after_midbatch_crash(spark, tmp_path, num_buckets, cut_at, path):
    import json, os
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_exhaustive
    from anisearch_model_spark.streaming.incremental import _append_batch
    from anisearch_model_spark.config import BM25Params

    full_pdf = gen_transcripts_pandas(1200, seed=33)
    convs = sorted(full_pdf["conv_id"].unique())
    cut = convs[int(len(convs) * cut_at)]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    d = str(tmp_path / "crash_idx")
    build_index(spark, spark.createDataFrame(full_pdf[full_pdf["conv_id"] < cut], schema),
                d, num_buckets=num_buckets)
    batch = spark.createDataFrame(full_pdf[full_pdf["conv_id"] >= cut], schema)

    # snapshot the commit point, run the batch, then roll the commit back
    # — exactly the state a crash after the doc_map and postings writes
    # leaves
    commit_files = ["manifest.json", "stats.json"]
    saved = {n: open(os.path.join(d, n)).read() for n in commit_files}
    assert _append_batch(spark, batch, d, BM25Params())[0] == path
    for n, text in saved.items():
        open(os.path.join(d, n), "w").write(text)

    # replay (what foreachBatch does after restart)
    assert _append_batch(spark, batch, d, BM25Params())[0] == path

    idx = IndexStore(spark, d)
    dm = idx.doc_map.select("doc_id").toPandas()
    assert dm["doc_id"].is_unique, "orphan doc_map rows survived replay"
    assert len(dm) == len(full_pdf) == idx.stats["n_docs"]

    # the replay overwrote its own dictionary delta: one file, and the
    # summed dictionary and stats equal a full re-derive
    from anisearch_model_spark.index.store import dictionary_deltas
    from tests.test_append_commit import _assert_commit_equals_rederive

    assert len(dictionary_deltas(d)) == 1
    _assert_commit_equals_rederive(spark, d, str(tmp_path / "crash_ref"))

    # and the replayed index equals a from-scratch build
    d_full = str(tmp_path / "crash_full")
    build_index(spark, spark.createDataFrame(full_pdf, schema), d_full, num_buckets=3)
    full = IndexStore(spark, d_full)
    for q in ["hero battle magic", "robot space"]:
        a = topk_exhaustive(full, q, 10).toPandas()
        b = topk_exhaustive(idx, q, 10).toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), q
        np.testing.assert_allclose(a["score"], b["score"], atol=1e-9)

    # positions: the replayed blocks carry them, no positions table was
    # written, and phrases match the from-scratch build bit for bit
    from anisearch_model_spark.functions.normalize import tokenize_series
    from anisearch_model_spark.query.phrase import phrase_topk

    assert not os.path.exists(os.path.join(d, "positions"))
    appended = full_pdf[full_pdf["conv_id"] >= cut]["text"]
    toks = [t for t in tokenize_series(appended.reset_index(drop=True))
            if len(t) >= 2]
    for ph in sorted({" ".join(t[:2]) for t in toks[::len(toks) // 4]}):
        a = phrase_topk(full, ph, 10).toPandas()
        b = phrase_topk(idx, ph, 10).toPandas()
        assert len(b) and a["doc_id"].tolist() == b["doc_id"].tolist(), ph
        np.testing.assert_array_equal(a["score"].to_numpy(),
                                      b["score"].to_numpy())


def test_windowed_stream_agg_with_watermark(spark, tmp_path):
    """Watermark + tumbling-window agg over a file stream (append mode):
    a window emits once the watermark passes its end; a straggler landing
    while its window is still open is COUNTED; one arriving after the
    window closed is DROPPED; already-emitted windows never re-emit."""
    import datetime as dt
    import os
    from anisearch_model_spark.streaming.windowed import (
        EVENT_SCHEMA, finalized_windows, windowed_event_counts)

    events_dir = str(tmp_path / "ev_in")
    out_dir = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    os.makedirs(events_dir)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    seq = [0]

    def feed(specs):
        rows = []
        for m, et in specs:
            rows.append((seq[0], t0 + dt.timedelta(minutes=m), 1, et, 1.0, None))
            seq[0] += 1
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append").parquet(events_dir)
        windowed_event_counts(spark, events_dir, out_dir, ckpt,
                              window_size="1 hour",
                              late_tolerance="30 minutes")

    def snapshot():
        try:
            rows = finalized_windows(spark, out_dir).collect()
        except Exception:
            return {}
        out = {}
        for r in rows:
            key = (r["window_start"].hour, r["event_type"])
            assert key not in out, f"window re-emitted: {key}"
            out[key] = r["n"]
        return out

    # batch 1: hours 0 and 1 (max ts 01:10 → watermark 00:40, all open)
    feed([(5, "click"), (20, "click"), (25, "error"), (70, "click")])
    assert snapshot() == {}

    # batch 2: in-window straggler for hour 0 (00:15 — hour-0 is still
    # OPEN, watermark 00:40 < window end → counted) + hour-3 events that
    # advance the watermark to 02:35, closing hours 0 and 1
    feed([(15, "click"), (180, "click"), (185, "click")])
    got = snapshot()
    assert got[(0, "click")] == 3   # straggler counted: window was open
    assert got[(0, "error")] == 1
    assert got[(1, "click")] == 1
    assert (3, "click") not in got  # hour 3 still open

    # batch 3: a TOO-LATE hour-0 row (window closed at watermark 02:35)
    # must be dropped; hour-5 events advance the watermark to 04:40 and
    # finalize hour 3 — hour-0 counts must NOT change or re-emit
    feed([(10, "click"), (300, "click"), (310, "click")])
    got = snapshot()
    assert got[(0, "click")] == 3   # dropped: arrived after window close
    assert got[(3, "click")] == 2
    assert (5, "click") not in got  # hour 5 still open


def test_stateful_streaming_sessionization(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions MERGE across
    micro-batches via state, close by inactivity gap when a later event
    arrives, and close by event-time TIMEOUT when the watermark passes
    last_ts + gap with no further events."""
    import datetime as dt
    import os
    from anisearch_model_spark.streaming.stateful import (
        closed_sessions, sessionize_stream)
    from anisearch_model_spark.streaming.windowed import EVENT_SCHEMA

    events_dir = str(tmp_path / "st_in")
    out_dir = str(tmp_path / "st_out")
    ckpt = str(tmp_path / "st_ckpt")
    os.makedirs(events_dir)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    seq = [0]

    def feed(specs):
        rows = []
        for uid, m in specs:
            rows.append((seq[0], t0 + dt.timedelta(minutes=m), uid,
                         "click", 1.0, None))
            seq[0] += 1
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append").parquet(events_dir)
        sessionize_stream(spark, events_dir, out_dir, ckpt,
                          gap="30 minutes", late_tolerance="1 minute")

    def got():
        try:
            return [(r["user_id"], r["session_start"].minute + 60 * r["session_start"].hour,
                     r["session_end"].minute + 60 * r["session_end"].hour, r["n_events"])
                    for r in closed_sessions(spark, out_dir).collect()]
        except Exception:
            return []

    # batch 1: two users, sessions open
    feed([(1, 0), (1, 10), (2, 5)])
    assert got() == []

    # batch 2: u1 continues its batch-1 session (state merge) then starts
    # a new one 3h later — the old session closes BY GAP in this batch;
    # u2's 3h-later event closes its old session the same way
    feed([(1, 20), (1, 180), (2, 185)])
    assert sorted(got()) == [(1, 0, 20, 3), (2, 5, 5, 1)]

    # batch 3: only an unrelated user far in the future — the watermark
    # passes last_ts+gap for u1/u2, so their OPEN sessions flush by
    # event-time timeout; u99's own session stays open (never emitted)
    feed([(99, 360)])
    assert sorted(got()) == [
        (1, 0, 20, 3), (1, 180, 180, 1), (2, 5, 5, 1), (2, 185, 185, 1)
    ]


def test_stateful_sessionizer_late_event_merge(spark, tmp_path):
    """A late-but-within-watermark event arriving in a LATER micro-batch
    with t inside the open session's span must merge with min/max: it may
    extend session_start backwards but must never shrink session_end or
    mis-anchor the next gap check (events are only sorted within a batch,
    not across batches)."""
    import datetime as dt
    import os
    from anisearch_model_spark.streaming.stateful import (
        closed_sessions, sessionize_stream)
    from anisearch_model_spark.streaming.windowed import EVENT_SCHEMA

    events_dir = str(tmp_path / "lt_in")
    out_dir = str(tmp_path / "lt_out")
    ckpt = str(tmp_path / "lt_ckpt")
    os.makedirs(events_dir)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    seq = [0]

    def feed(specs):
        rows = [(seq[0] + i, t0 + dt.timedelta(minutes=m), uid, "click", 1.0, None)
                for i, (uid, m) in enumerate(specs)]
        seq[0] += len(specs)
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append").parquet(events_dir)
        sessionize_stream(spark, events_dir, out_dir, ckpt,
                          gap="30 minutes", late_tolerance="5 minutes")

    # batch 1: session spans [8, 10]; watermark advances to 10-5=5
    feed([(1, 8), (1, 10)])
    # batch 2: LATE event at minute 7 (≥ watermark) — precedes the stored
    # session start; must extend start to 7 and keep end at 10
    feed([(1, 7)])
    # batch 3: minute 41 — past the gap, so [7, 10] can no longer grow
    # FORWARD, but the watermark is only 36 (41-5) afterwards: an
    # admissible event at e.g. 38 could still merge with it, so it must
    # NOT close yet (premature close here mis-fragments vs a batch run)
    feed([(1, 41)])
    assert closed_sessions(spark, out_dir).count() == 0
    # batch 4: minute 100 lifts the watermark to 95 > both 10+30 and
    # 41+30 — now [7, 10] and [41, 41] are watermark-final and close;
    # with the old min/max-anchor bug last_ms was 7 and the first
    # session came out as (8, 7) — end before start
    feed([(1, 100)])
    rows = [(r["session_start"], r["session_end"], r["n_events"])
            for r in closed_sessions(spark, out_dir).collect()]
    assert rows == [
        (t0 + dt.timedelta(minutes=7), t0 + dt.timedelta(minutes=10), 3),
        (t0 + dt.timedelta(minutes=41), t0 + dt.timedelta(minutes=41), 1),
    ]


def test_stateful_sessionizer_pre_gap_late_event_own_session(spark, tmp_path):
    """A late-but-within-watermark event OLDER than the open session's
    start by more than the gap (reachable whenever late_tolerance > gap)
    must close as its OWN earlier session — not extend the open session
    backwards across a silence longer than the gap."""
    import datetime as dt
    import os
    from anisearch_model_spark.streaming.stateful import (
        closed_sessions, sessionize_stream)
    from anisearch_model_spark.streaming.windowed import EVENT_SCHEMA

    events_dir = str(tmp_path / "pg_in")
    out_dir = str(tmp_path / "pg_out")
    ckpt = str(tmp_path / "pg_ckpt")
    os.makedirs(events_dir)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    seq = [0]

    def feed(specs):
        rows = [(seq[0] + i, t0 + dt.timedelta(minutes=m), uid, "click", 1.0, None)
                for i, (uid, m) in enumerate(specs)]
        seq[0] += len(specs)
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append").parquet(events_dir)
        sessionize_stream(spark, events_dir, out_dir, ckpt,
                          gap="10 minutes", late_tolerance="60 minutes")

    # batch 1: open session [100, 100]; watermark advances to 100-60=40
    feed([(1, 100)])
    # batch 2: late event at minute 50 — admitted (>= watermark 40) but
    # 50 min BEFORE the open session's start, far beyond the 10-min gap:
    # it must emit as its own closed session (50, 50, 1)
    feed([(1, 50)])
    # batch 3: minute 200 closes the [100, 100] session by gap
    feed([(1, 200)])
    rows = sorted(
        (r["session_start"], r["session_end"], r["n_events"])
        for r in closed_sessions(spark, out_dir).collect()
    )
    assert rows == [
        (t0 + dt.timedelta(minutes=50), t0 + dt.timedelta(minutes=50), 1),
        (t0 + dt.timedelta(minutes=100), t0 + dt.timedelta(minutes=100), 1),
    ]


def test_stateful_sessionizer_pre_gap_late_events_merge_across_batches(
        spark, tmp_path):
    """Two pre-gap late events within the gap of EACH OTHER but arriving
    in separate micro-batches must come out as ONE merged session (what a
    batch sessionizer produces) — closing each the moment it trails the
    open session would emit two fragments within the gap of each other."""
    import datetime as dt
    import os
    from anisearch_model_spark.streaming.stateful import (
        closed_sessions, sessionize_stream)
    from anisearch_model_spark.streaming.windowed import EVENT_SCHEMA

    events_dir = str(tmp_path / "pm_in")
    out_dir = str(tmp_path / "pm_out")
    ckpt = str(tmp_path / "pm_ckpt")
    os.makedirs(events_dir)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    seq = [0]

    def feed(specs):
        rows = [(seq[0] + i, t0 + dt.timedelta(minutes=m), uid, "click", 1.0, None)
                for i, (uid, m) in enumerate(specs)]
        seq[0] += len(specs)
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append").parquet(events_dir)
        sessionize_stream(spark, events_dir, out_dir, ckpt,
                          gap="10 minutes", late_tolerance="60 minutes")

    # batch 1: open session [100, 100]; watermark advances to 40
    feed([(1, 100)])
    # batches 2 and 3: late events at 50 then 55 — separate micro-batches,
    # both > gap before the open session, but only 5 min apart
    feed([(1, 50)])
    feed([(1, 55)])
    # batch 4: minute 200 lifts the watermark to 140 — [50, 55] and
    # [100, 100] are final; [200, 200] stays open
    feed([(1, 200)])
    rows = sorted(
        (r["session_start"], r["session_end"], r["n_events"])
        for r in closed_sessions(spark, out_dir).collect()
    )
    assert rows == [
        (t0 + dt.timedelta(minutes=50), t0 + dt.timedelta(minutes=55), 2),
        (t0 + dt.timedelta(minutes=100), t0 + dt.timedelta(minutes=100), 1),
    ]


def test_serve_loop_many_queries_one_session(spark, tmp_path):
    """serve mode: ≥3 queries through ONE session/IndexStore — results
    match direct search, the hot dictionary cache is reused, a log row
    appends per served query, and admission errors don't kill the loop."""
    import io
    import json as _json
    from anisearch_model_spark.cli import serve_loop
    from anisearch_model_spark.datagen import write_transcripts
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, search
    from anisearch_model_spark.query.log import read_query_log

    src = str(tmp_path / "srv_in")
    idx_dir = str(tmp_path / "srv_idx")
    write_transcripts(spark, src, 800, seed=5)
    build_index(spark, spark.read.parquet(src), idx_dir, num_buckets=4)

    reqs = [
        "hero battle magic",
        _json.dumps({"query": "robot space", "k": 3}),
        _json.dumps({"query": "hero battle", "k": 2, "exhaustive": True}),
        _json.dumps({"query": "hero battle", "k": 2, "conversations": True}),
        "x" * 3000,  # over the 2000-char admission limit → error line
        _json.dumps({"query": "hero", "k": "abc"}),      # bad k → error line
        _json.dumps({"query": "hero", "fields": 42}),    # bad fields type
        _json.dumps({"query": "hero battle", "k": 2,     # string fields OK:
                     "fields": "user,assistant"}),       # split on commas
        "quit",
        "never reached",
    ]
    out = io.StringIO()
    served = serve_loop(spark, idx_dir, io.StringIO("\n".join(reqs)), out)
    assert served == 8  # quit stops the loop before the last line
    lines = [_json.loads(x) for x in out.getvalue().strip().splitlines()]
    assert len(lines) == 8
    assert "error" in lines[4] and "2000" in lines[4]["error"]
    # parameter-coercion failures are ADMISSION errors, not loop killers
    assert "error" in lines[5]
    assert "error" in lines[6] and "fields" in lines[6]["error"]
    # a comma-separated fields STRING parses as a field list (not
    # per-character iteration) — the index isn't field-qualified, so the
    # response is a clean per-request error naming the missing field
    assert "error" in lines[7] and "user" in lines[7]["error"]
    conv_hits = lines[3]["results"]
    assert 1 <= len(conv_hits) <= 2
    assert len({r["conv_id"] for r in conv_hits}) == len(conv_hits)

    idx = IndexStore(spark, idx_dir)
    want = search(idx, "robot space", k=3).collect()
    assert lines[1]["results"] == [
        {k: (str(v) if not isinstance(v, (int, float)) else v)
         for k, v in r.asDict().items()} for r in want
    ]
    assert [r["rank"] for r in lines[0]["results"]] == list(range(1, 11))

    log = read_query_log(spark, idx_dir).toPandas()
    assert len(log) == 4  # the admission error is not logged
    assert set(log["query_text"]) == {"hero battle magic", "robot space",
                                      "hero battle"}
    assert set(log["scorer"]) == {"bmw", "exhaustive"}
    assert (log["wall_ms"] > 1.0).all()


def test_append_onto_empty_base_index(spark, tmp_path):
    """Streaming append onto a 0-doc base index must work AND must not
    degenerate into one-doc buckets (the old span=n_existing//buckets
    heuristic hit 1 on an empty base → n_new single-row buckets)."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA, gen_transcripts
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_exhaustive
    from anisearch_model_spark.streaming.incremental import incremental_append

    d = str(tmp_path / "eb_idx")
    stream_dir = str(tmp_path / "eb_stream")
    build_index(spark, spark.createDataFrame([], TRANSCRIPT_SCHEMA), d,
                num_buckets=4)
    gen_transcripts(spark, 500, seed=5).write.parquet(stream_dir)
    incremental_append(spark, stream_dir, d)
    idx = IndexStore(spark, d)
    assert idx.stats["n_docs"] == 500
    assert idx.stats["num_buckets"] < 60  # not one bucket per doc
    assert topk_exhaustive(idx, "hero battle", 5).count() > 0
