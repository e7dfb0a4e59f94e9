"""Tombstone deletes: delete → queries exclude the doc immediately
(scores of survivors unchanged, Lucene live-docs semantics) → compact →
the doc is physically gone and the index is consistent."""

import json
import os

import numpy as np
import pandas as pd


def _build(spark, tmp_path, n=800, buckets=4):
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index

    d = str(tmp_path / "tomb_idx")
    build_index(spark, gen_transcripts(spark, n, seed=21), d,
                num_buckets=buckets)
    return d


def test_delete_excludes_doc_then_purge_drops_it(spark, tmp_path, each_path):
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.tombstones import delete_docs
    from anisearch_model_spark.query.engine import (
        IndexStore, topk_bmw, topk_exhaustive)

    d = _build(spark, tmp_path)
    idx = IndexStore(spark, d)
    q = "hero battle magic"
    before = topk_exhaustive(idx, q, 10).toPandas()
    victim = int(before.loc[0, "doc_id"])  # delete the TOP hit

    delete_docs(spark, d, [victim])
    # same IndexStore instance: the tombstone mtime check reloads
    for path in each_path():
        for fn in (topk_exhaustive, topk_bmw):
            after = fn(idx, q, 10).toPandas()
            assert victim not in set(after["doc_id"]), path
            # survivors keep their as-built scores (stats untouched until
            # purge) — the old ranks 2..10 shift up by one
            want = before[before["doc_id"] != victim].head(9)
            assert after.head(9)["doc_id"].tolist() == \
                want["doc_id"].tolist(), path
            np.testing.assert_array_equal(
                after.head(9)["score"].to_numpy(), want["score"].to_numpy(),
                path)
            assert len(after) == 10, path  # a fresh doc fills the freed slot

    # ---- physical purge via compaction ----
    n_docs_before = idx.stats["n_docs"]
    out = compact_index(spark, d)
    assert out["purged_docs"] == 1
    assert not os.path.isdir(os.path.join(d, "tombstones"))

    idx2 = IndexStore(spark, d)
    assert idx2.stats["n_docs"] == n_docs_before - 1
    # doc_map row physically gone
    assert idx2.doc_map.filter(f"doc_id = {victim}").count() == 0
    # no posting block still covers the doc
    from anisearch_model_spark.index.codec import decode_posting_block

    for row in idx2.postings.collect():
        ids, _t, _dl = decode_posting_block(
            {"first_doc_id": row["first_doc_id"],
             "doc_deltas": row["doc_deltas"], "tfs": row["tfs"],
             "dls": row["dls"]})
        assert victim not in ids
    # engine still healthy, doc still absent, scorers still agree
    a = topk_exhaustive(idx2, q, 10).toPandas()
    b = topk_bmw(idx2, q, 10).toPandas()
    assert victim not in set(a["doc_id"]) and len(a) == 10
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    np.testing.assert_array_equal(a["score"].to_numpy(), b["score"].to_numpy())
    # idempotent: nothing left to purge
    from anisearch_model_spark.index.tombstones import purge_deleted

    assert purge_deleted(spark, d) == {"purged_docs": 0,
                                       "buckets_rewritten": 0}


def test_batch_topk_respects_tombstones(spark, tmp_path):
    from anisearch_model_spark.index.tombstones import delete_docs
    from anisearch_model_spark.query.batch import batch_topk
    from anisearch_model_spark.query.engine import IndexStore

    d = _build(spark, tmp_path, n=600, buckets=2)
    idx = IndexStore(spark, d)
    queries = pd.DataFrame({"query_id": [1, 2],
                            "query_text": ["hero battle", "robot space"]})
    before = batch_topk(idx, queries, k=5).toPandas()
    victims = [int(before.loc[0, "doc_id"]), int(before.iloc[-1]["doc_id"])]
    delete_docs(spark, d, victims)
    after = batch_topk(idx, queries, k=5).toPandas()
    assert not set(victims) & set(after["doc_id"])
    assert sorted(after["query_id"].unique()) == [1, 2]


def test_delete_conversations_tombstones_every_turn(spark, tmp_path):
    """Takedown by the user-facing key: every turn of the conversation is
    tombstoned and both scorers exclude them."""
    from anisearch_model_spark.index.tombstones import (
        delete_conversations, load_tombstones)
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw

    d = _build(spark, tmp_path, n=600, buckets=2)
    idx = IndexStore(spark, d)
    top = topk_bmw(idx, "hero battle magic", 5).toPandas()
    victim_doc = int(top.loc[0, "doc_id"])
    conv = idx.doc_map.filter(f"doc_id = {victim_doc}").collect()[0]["conv_id"]
    n_turns = idx.doc_map.filter(f"conv_id = '{conv}'").count()

    assert delete_conversations(spark, d, [conv]) == n_turns
    tomb = load_tombstones(d)
    assert len(tomb) == n_turns and victim_doc in tomb
    after = topk_bmw(idx, "hero battle magic", 5).toPandas()
    dead = set(int(t) for t in tomb)
    assert not dead & set(after["doc_id"])
    # unknown conversation: no-op
    assert delete_conversations(spark, d, ["no-such-conv"]) == 0


def test_lifecycle_field_qualified_append_delete_purge_compact(spark, tmp_path):
    """The whole long-lived-index story on a FIELD-QUALIFIED index:
    build → append → delete → purge (per-(bucket, field) rewrite) →
    compact → append again, with field-scoped queries consistent and the
    dead doc gone throughout."""
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.index.tombstones import delete_docs
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw
    from anisearch_model_spark.streaming.incremental import _append_batch

    full_pdf = gen_transcripts_pandas(1000, seed=41)
    convs = sorted(full_pdf["conv_id"].unique())
    cut = convs[len(convs) // 2]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    d = str(tmp_path / "lc_idx")
    build_index(spark, spark.createDataFrame(
        full_pdf[full_pdf["conv_id"] < cut], schema), d, num_buckets=2,
        field_col="role")
    _append_batch(spark, spark.createDataFrame(
        full_pdf[full_pdf["conv_id"] >= cut], schema), d, BM25Params())

    idx = IndexStore(spark, d)
    q = "hero battle magic"
    top_user = topk_bmw(idx, q, 5, field="user").toPandas()
    victim = int(top_user.loc[0, "doc_id"])
    # read before the compact: a store's stats follow every commit
    user_docs = idx.stats["fields"]["user"]["n_docs"]
    delete_docs(spark, d, [victim])
    out = compact_index(spark, d)  # purge + merge in one maintenance op
    assert out["purged_docs"] == 1

    idx2 = IndexStore(spark, d)
    assert idx2.stats["n_docs"] == 999
    # per-field stats re-derived: the victim was a user-field doc
    assert idx2.stats["fields"]["user"]["n_docs"] == user_docs - 1
    for f in ("user", "assistant", None):
        got = topk_bmw(idx2, q, 5, field=f).toPandas()
        assert victim not in set(got["doc_id"]), f
        assert len(got) == 5, f

    # the purged+compacted index keeps accepting appends
    extra = gen_transcripts_pandas(1200, seed=41).iloc[1000:]
    _append_batch(spark, spark.createDataFrame(extra, schema), d, BM25Params())
    idx3 = IndexStore(spark, d)
    assert idx3.stats["n_docs"] == 1199
    assert topk_bmw(idx3, q, 5, field="user").count() == 5

    # every write carried positions in its blocks: field-scoped phrase
    # search runs with no repair pass and sees only live docs of that
    # field, and no positions table was ever written
    from anisearch_model_spark.functions.normalize import tokenize_series
    from anisearch_model_spark.query.phrase import phrase_topk

    assert not os.path.exists(os.path.join(d, "positions"))
    dm = idx3.doc_map.select("doc_id", "role", "text").toPandas()
    toks = tokenize_series(dm[dm["role"] == "user"]["text"].reset_index(
        drop=True))
    phrase = " ".join(next(t for t in toks if len(t) >= 2)[:2])
    got = phrase_topk(idx3, phrase, 10, field="user").toPandas()
    roles = dm.set_index("doc_id")["role"]
    assert len(got) and victim not in set(got["doc_id"])
    assert all(roles[i] == "user" for i in got["doc_id"])


def test_purge_only_rewrites_affected_buckets(spark, tmp_path):
    """Purge is bounded I/O: buckets whose doc-range holds no tombstone
    keep their ids AND files untouched (mtime-stable); the affected
    bucket is rewritten under a FRESH snapshot id with the SAME doc-id
    span (doc ids are never renumbered, so range pruning stays valid)."""
    from anisearch_model_spark.index.tombstones import (
        delete_docs, purge_deleted)
    from anisearch_model_spark.query.engine import IndexStore

    d = _build(spark, tmp_path, n=800, buckets=4)
    manifest = json.load(open(os.path.join(d, "manifest.json")))
    # pick a victim from the FIRST bucket's range
    affected_id, (lo, n) = sorted(manifest["buckets"].items(),
                                  key=lambda kv: kv[1][0])[0]
    victim = int(lo)
    postings_dir = os.path.join(d, "postings")
    untouched = [b for b, (blo, bn) in manifest["buckets"].items()
                 if not (blo <= victim < blo + bn)]
    stamp = {b: os.path.getmtime(os.path.join(postings_dir, f"bucket={b}"))
             for b in untouched}

    delete_docs(spark, d, [victim])
    out = purge_deleted(spark, d)
    assert out == {"purged_docs": 1, "buckets_rewritten": 1}
    for b, t in stamp.items():
        assert os.path.getmtime(
            os.path.join(postings_dir, f"bucket={b}")) == t, b
    manifest2 = json.load(open(os.path.join(d, "manifest.json")))
    # untouched buckets keep their ids; the affected id moved to a fresh
    # snapshot id carrying the SAME [lo, n] span
    for b in untouched:
        assert manifest2["buckets"][b] == manifest["buckets"][b]
    assert affected_id not in manifest2["buckets"]
    new_ids = set(manifest2["buckets"]) - set(manifest["buckets"])
    assert len(new_ids) == 1
    assert manifest2["buckets"][new_ids.pop()] == [lo, n]
    assert not os.path.isdir(
        os.path.join(postings_dir, f"bucket={affected_id}"))
    idx = IndexStore(spark, d)
    assert idx.stats["n_docs"] == 799
