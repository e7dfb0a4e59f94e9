"""Index compaction: N streaming appends → tiny buckets → compact →
byte-identical query results with bucket count back at the target."""

import json
import os

import numpy as np
import pandas as pd


def test_plan_groups_merges_adjacent_and_tail():
    from anisearch_model_spark.index.compact import plan_groups

    buckets = {"0": [0, 100], "1": [100, 100], "2": [200, 10], "3": [210, 10],
               "4": [220, 10], "5": [230, 5]}
    groups = plan_groups(buckets, 100)
    # full buckets stay singletons; the small tail folds into one group
    assert groups[0] == [0] and groups[1] == [1]
    assert groups[2] == [2, 3, 4, 5]  # 35 docs < target → tail-folded
    # ordering is by doc range, not by id value
    shuffled = {"7": [200, 50], "3": [0, 50], "9": [100, 50]}
    assert plan_groups(shuffled, 100) == [[3, 9], [7]]


def test_compaction_field_qualified_index(spark, tmp_path):
    """Compaction on a field-qualified index: per-(bucket, field)
    partitions merge per field, and field-SCOPED queries stay bit-equal
    (per-field stats re-derived by finalize are unchanged)."""
    import numpy as np
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw
    from anisearch_model_spark.streaming.incremental import _append_batch

    full_pdf = gen_transcripts_pandas(1200, seed=55)
    convs = sorted(full_pdf["conv_id"].unique())
    cut1, cut2 = convs[len(convs) // 2], convs[len(convs) * 3 // 4]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    d = str(tmp_path / "fq_idx")
    build_index(spark, spark.createDataFrame(
        full_pdf[full_pdf["conv_id"] < cut1], schema), d, num_buckets=2,
        field_col="role")
    for lo, hi in [(cut1, cut2), (cut2, chr(0x10FFFF))]:
        s = full_pdf[(full_pdf["conv_id"] >= lo) & (full_pdf["conv_id"] < hi)]
        _append_batch(spark, spark.createDataFrame(s, schema), d, BM25Params())

    idx = IndexStore(spark, d)
    want = {
        f: topk_bmw(idx, "hero battle magic", 10, field=f).toPandas()
        for f in ("user", "assistant", None)
    }
    out = compact_index(spark, d)
    assert out["buckets_after"] < out["buckets_before"]
    after = IndexStore(spark, d)
    assert after.stats["fields"] == idx.stats["fields"]
    for f, w in want.items():
        got = topk_bmw(after, "hero battle magic", 10, field=f).toPandas()
        assert got["doc_id"].tolist() == w["doc_id"].tolist(), f
        np.testing.assert_array_equal(
            got["score"].to_numpy(), w["score"].to_numpy())


def test_streaming_append_auto_compacts(spark, tmp_path):
    """incremental_append(auto_compact=True) keeps a long-lived streaming
    index's bucket count bounded (≤ compact_factor × base + the current
    append) while results stay equal to a from-scratch build."""
    import numpy as np
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw
    from anisearch_model_spark.streaming.incremental import incremental_append

    full_pdf = gen_transcripts_pandas(1600, seed=13)
    convs = sorted(full_pdf["conv_id"].unique())
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    d = str(tmp_path / "sc_idx")
    stream_dir = str(tmp_path / "sc_stream")
    cutpoints = [convs[len(convs) * i // 8] for i in range(4, 8)] + [chr(0x10FFFF)]
    build_index(spark, spark.createDataFrame(
        full_pdf[full_pdf["conv_id"] < cutpoints[0]], schema), d, num_buckets=2)
    for a, b in zip(cutpoints, cutpoints[1:]):
        s = full_pdf[(full_pdf["conv_id"] >= a) & (full_pdf["conv_id"] < b)]
        spark.createDataFrame(s, schema).write.mode("append").parquet(stream_dir)
        incremental_append(spark, stream_dir, d, auto_compact=True)

    manifest = json.load(open(os.path.join(d, "manifest.json")))
    assert len(manifest["buckets"]) <= 2 * 2 + 2  # bounded, not one per batch

    d_full = str(tmp_path / "sc_full")
    build_index(spark, spark.createDataFrame(full_pdf, schema), d_full,
                num_buckets=2)
    a = topk_bmw(IndexStore(spark, d_full), "hero battle magic", 10).toPandas()
    b = topk_bmw(IndexStore(spark, d), "hero battle magic", 10).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    np.testing.assert_array_equal(a["score"].to_numpy(), b["score"].to_numpy())


def _dir_ids(table_dir):
    return {e[len("bucket="):] for e in os.listdir(table_dir)
            if e.startswith("bucket=")}


def test_compaction_crash_safety(spark, tmp_path, monkeypatch):
    """The atomic manifest replace is the snapshot commit point and the
    manifest-listed copy of every doc range is never destroyed: a crash
    BEFORE the commit leaves the staged merged bucket unlisted (readers
    never saw it; recovery deletes it = rollback); a crash AFTER the
    commit leaves the superseded source buckets unlisted (readers already
    moved on; recovery deletes them = roll-forward).  Queries are
    bit-identical in both cases."""
    import anisearch_model_spark.index.compact as compact_mod
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.compact import (
        compact_index, recover_compaction)
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw
    from anisearch_model_spark.streaming.incremental import _append_batch

    full_pdf = gen_transcripts_pandas(1200, seed=31)
    convs = sorted(full_pdf["conv_id"].unique())
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    d = str(tmp_path / "crash_idx")
    cuts = [convs[len(convs) // 2], convs[len(convs) * 3 // 4]]
    build_index(spark, spark.createDataFrame(
        full_pdf[full_pdf["conv_id"] < cuts[0]], schema), d, num_buckets=2)
    for a, b in zip(cuts, cuts[1:] + [chr(0x10FFFF)]):
        s = full_pdf[(full_pdf["conv_id"] >= a) & (full_pdf["conv_id"] < b)]
        _append_batch(spark, spark.createDataFrame(s, schema), d, BM25Params())

    want = topk_bmw(IndexStore(spark, d), "hero battle magic", 10).toPandas()
    manifest_before = json.load(open(os.path.join(d, "manifest.json")))
    postings_dir = os.path.join(d, "postings")

    # --- crash 1: die at the manifest write (post-adopt, PRE-commit) ---
    def boom(*a, **k):
        raise RuntimeError("simulated crash at commit")

    monkeypatch.setattr(compact_mod, "_write_manifest", boom)
    try:
        compact_index(spark, d)
        raise AssertionError("crash did not propagate")
    except RuntimeError:
        pass
    monkeypatch.undo()
    # the staged merged bucket was adopted but is UNLISTED (uncommitted)
    assert _dir_ids(postings_dir) - set(manifest_before["buckets"])
    assert recover_compaction(d) == "healed"
    assert _dir_ids(postings_dir) == set(manifest_before["buckets"])
    assert json.load(open(os.path.join(d, "manifest.json"))) == manifest_before
    got = topk_bmw(IndexStore(spark, d), "hero battle magic", 10).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(),
                                  want["score"].to_numpy())

    # --- crash 2: die AFTER the manifest commit, before cleanup ---
    monkeypatch.setattr(compact_mod, "_drop_buckets", boom)
    try:
        compact_index(spark, d)
        raise AssertionError("crash did not propagate")
    except RuntimeError:
        pass
    monkeypatch.undo()
    committed = json.load(open(os.path.join(d, "manifest.json")))
    # superseded source dirs linger, unlisted
    assert _dir_ids(postings_dir) - set(committed["buckets"])
    # the committed snapshot already answers queries correctly
    got = topk_bmw(IndexStore(spark, d), "hero battle magic", 10).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    # a plain re-run heals (drops the unlisted dirs) and finishes
    compact_index(spark, d)
    manifest_after = json.load(open(os.path.join(d, "manifest.json")))
    assert _dir_ids(postings_dir) == set(manifest_after["buckets"])
    assert len(manifest_after["buckets"]) < len(manifest_before["buckets"])
    got = topk_bmw(IndexStore(spark, d), "hero battle magic", 10).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(),
                                  want["score"].to_numpy())
    # idempotent after heal
    assert compact_index(spark, d)["groups_rewritten"] == 0

    # --- legacy rename-aside remnant (pre-snapshot layout): if the live
    # dir is missing and the id is listed, the aside copy is the last
    # one — recovery must restore, not delete ---
    some = sorted(_dir_ids(postings_dir))[0]
    live = os.path.join(postings_dir, f"bucket={some}")
    os.rename(live, live + ".old")
    assert recover_compaction(d) == "healed"
    assert os.path.isdir(live) and not os.path.isdir(live + ".old")
    got = topk_bmw(IndexStore(spark, d), "hero battle magic", 10).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


def test_compaction_preserves_results_and_shrinks_buckets(spark, tmp_path):
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import (
        IndexStore, topk_bmw, topk_exhaustive)
    from anisearch_model_spark.streaming.incremental import _append_batch

    full_pdf = gen_transcripts_pandas(2400, seed=77)
    convs = sorted(full_pdf["conv_id"].unique())
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    d = str(tmp_path / "cmp_idx")

    # base build over the first half, then 4 micro-appends of the rest —
    # each append lands in NEW buckets, so the bucket count balloons
    cuts = [convs[len(convs) // 2], convs[len(convs) * 5 // 8],
            convs[len(convs) * 3 // 4], convs[len(convs) * 7 // 8]]
    build_index(spark, spark.createDataFrame(
        full_pdf[full_pdf["conv_id"] < cuts[0]], schema), d, num_buckets=4)
    slices = [
        full_pdf[(full_pdf["conv_id"] >= a) & (full_pdf["conv_id"] < b)]
        for a, b in zip(cuts, cuts[1:] + [chr(0x10FFFF)])
    ]
    for s in slices:
        _append_batch(spark, spark.createDataFrame(s, schema), d, BM25Params())

    manifest = json.load(open(os.path.join(d, "manifest.json")))
    n_before = len(manifest["buckets"])
    assert n_before > 4  # appends created extra buckets

    idx = IndexStore(spark, d)
    queries = ["hero battle magic", "robot space pirate", "term0042 dragon"]
    want = {q: topk_exhaustive(idx, q, 10).toPandas() for q in queries}

    out = compact_index(spark, d)
    assert out["buckets_before"] == n_before
    assert out["buckets_after"] <= 5  # back near the base target
    assert out["buckets_after"] < n_before

    after = IndexStore(spark, d)
    assert after.stats["n_docs"] == idx.stats["n_docs"]
    for q in queries:
        for fn in (topk_exhaustive, topk_bmw):
            got = fn(after, q, 10).toPandas()
            assert got["doc_id"].tolist() == want[q]["doc_id"].tolist(), q
            np.testing.assert_array_equal(
                got["score"].to_numpy(), want[q]["score"].to_numpy())

    # doc_map content unchanged (only the bucket label moved)
    dm = after.doc_map.select("doc_id", "conv_id", "turn_idx").toPandas()
    assert len(dm) == 2400 and dm["doc_id"].is_unique

    # idempotent: a second compaction finds nothing to rewrite
    out2 = compact_index(spark, d)
    assert out2["groups_rewritten"] == 0
    assert out2["buckets_after"] == out["buckets_after"]

    # and the compacted index keeps accepting appends
    extra = gen_transcripts_pandas(2600, seed=77).iloc[2400:]
    _append_batch(spark, spark.createDataFrame(extra, schema), d, BM25Params())
    idx3 = IndexStore(spark, d)
    assert idx3.stats["n_docs"] == 2600
    assert topk_exhaustive(idx3, "hero battle", 5).count() > 0


def test_concurrent_reader_during_compaction(spark, tmp_path, monkeypatch):
    """A live IndexStore keeps answering queries, bit-identically, while
    compact_index swaps buckets under it in another thread.  The
    interleaving is made DETERMINISTIC with events: one query runs while
    the merged bucket is adopted-but-uncommitted (reader must stay on the
    old snapshot), one runs after the commit while the superseded source
    dirs still exist (reader must use the new snapshot and never
    double-read), and several run unsynchronized before/after."""
    import threading

    import anisearch_model_spark.index.compact as compact_mod
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw
    from anisearch_model_spark.streaming.incremental import _append_batch

    full_pdf = gen_transcripts_pandas(1200, seed=47)
    convs = sorted(full_pdf["conv_id"].unique())
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    d = str(tmp_path / "ccr_idx")
    cuts = [convs[len(convs) // 2], convs[len(convs) * 3 // 4]]
    build_index(spark, spark.createDataFrame(
        full_pdf[full_pdf["conv_id"] < cuts[0]], schema), d, num_buckets=2)
    for a, b in zip(cuts, cuts[1:] + [chr(0x10FFFF)]):
        s = full_pdf[(full_pdf["conv_id"] >= a) & (full_pdf["conv_id"] < b)]
        _append_batch(spark, spark.createDataFrame(s, schema), d, BM25Params())

    idx = IndexStore(spark, d)  # ONE long-lived reader (serve-mode shape)
    queries = ["hero battle magic", "robot space"]
    want = {q: topk_bmw(idx, q, 10).toPandas() for q in queries}

    def check(tag):
        for q in queries:
            got = topk_bmw(idx, q, 10).toPandas()
            assert got["doc_id"].tolist() == want[q]["doc_id"].tolist(), (tag, q)
            np.testing.assert_array_equal(
                got["score"].to_numpy(), want[q]["score"].to_numpy())

    adopted = threading.Event()      # staged bucket adopted, NOT committed
    commit_go = threading.Event()    # reader done → let the commit proceed
    committed = threading.Event()    # committed, source dirs NOT deleted
    cleanup_go = threading.Event()   # reader done → let the cleanup run
    orig_write = compact_mod._write_manifest
    orig_drop = compact_mod._drop_buckets
    state = {"first_write": True, "first_drop": True}

    def gated_write(index_dir, manifest):
        if state["first_write"]:
            state["first_write"] = False
            adopted.set()
            assert commit_go.wait(120)
        orig_write(index_dir, manifest)

    def gated_drop(table_dir, ids):
        if state["first_drop"]:
            state["first_drop"] = False
            committed.set()
            assert cleanup_go.wait(120)
        orig_drop(table_dir, ids)

    monkeypatch.setattr(compact_mod, "_write_manifest", gated_write)
    monkeypatch.setattr(compact_mod, "_drop_buckets", gated_drop)

    result = {}

    def run():
        result["out"] = compact_index(spark, d)

    t = threading.Thread(target=run)
    t.start()
    try:
        assert adopted.wait(300), "compaction never reached the commit"
        check("adopted-uncommitted")   # old snapshot still authoritative
        commit_go.set()
        assert committed.wait(300), "compaction never reached cleanup"
        check("committed-undeleted")   # new snapshot; no double-read
        cleanup_go.set()
    finally:
        commit_go.set()
        cleanup_go.set()
        t.join(600)
    assert not t.is_alive()
    assert "out" in result and result["out"]["groups_rewritten"] >= 1
    check("after")


def test_index_open_detects_missing_listed_bucket(spark, tmp_path):
    """Opening an index whose manifest lists a doc_map bucket dir that is
    not on disk (a legacy rename-aside crash shape) must raise loudly —
    the snapshot reader would otherwise silently drop that bucket's docs
    from every query.  recover_compaction restores the aside copy and the
    index reopens."""
    import pytest
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.compact import recover_compaction
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw

    d = str(tmp_path / "open_idx")
    build_index(spark, gen_transcripts(spark, 400, seed=19), d, num_buckets=2)
    want = topk_bmw(IndexStore(spark, d), "hero battle", 5).toPandas()
    dm = os.path.join(d, "doc_map", "bucket=0")
    os.rename(dm, dm + ".old")  # legacy mid-crash shape
    with pytest.raises(ValueError, match="missing doc_map bucket"):
        IndexStore(spark, d)
    assert recover_compaction(d) == "healed"
    got = topk_bmw(IndexStore(spark, d), "hero battle", 5).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
