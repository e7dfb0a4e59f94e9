"""One build kernel (index/build.write_buckets): a single tokenize pass
writes position blocks and copies postings out of them.  Every write path
(build, append, purge) creates a bucket's postings this way and compaction
and merge carry position blocks like posting blocks, so:

  * postings are byte-identical to ``encode_bucket_frame`` over each
    (bucket, field)'s tf rows, and positions to ``encode_positions_bucket``
    over its occurrence rows;
  * positions stay ready after every write, with no ``build_positions``;
  * phrase results equal a fresh build of the same corpus, bit for bit.
"""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from anisearch_model_spark.config import POSTING_BLOCK_SIZE
from anisearch_model_spark.datagen import gen_transcripts
from anisearch_model_spark.index.build import POSTINGS_SCHEMA, UNSCOPED_FIELD
from anisearch_model_spark.index.positions import (
    POSITIONS_SCHEMA,
    build_positions,
    positions_ready,
)
from anisearch_model_spark.index.store import build_index

_POST_COLS = [
    "term", "bucket", "field", "block_id", "n", "cf", "first_doc_id",
    "last_doc_id", "max_tf", "min_dl", "doc_deltas", "tfs", "dls",
]
_POS_COLS = [
    "term", "bucket", "field", "block_id", "n", "first_doc_id",
    "last_doc_id", "doc_deltas", "tfs", "dls", "pos_deltas",
]
_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")


def _canon(df, cols):
    rows = df.select(*cols).collect()
    return sorted(
        tuple(bytes(x) if isinstance(x, (bytearray, bytes)) else x for x in r)
        for r in rows
    )


def _canon_pdf(pdf, cols):
    return sorted(
        tuple(x.item() if isinstance(x, np.generic) else x for x in r)
        for r in pdf[cols].itertuples(index=False)
    )


def _live_buckets(d):
    with open(os.path.join(d, "manifest.json"), encoding="utf-8") as f:
        return sorted(int(b) for b in json.load(f)["buckets"])


def _table(spark, d, table, schema):
    """The committed snapshot of one bucket-partitioned table."""
    return spark.read.schema(schema).parquet(f"{d}/{table}").filter(
        F.col("bucket").isin(_live_buckets(d)))


def _reference_tables(spark, d):
    """(postings, positions) re-encoded driver-side from the index's own
    doc_map: per (bucket, field), ``encode_bucket_frame`` over
    ``term_frequency_frame`` and ``encode_positions_bucket`` over
    ``positions_frame`` — the byte-identity reference for the kernel."""
    from anisearch_model_spark.functions.normalize import (
        positions_frame,
        term_frequency_frame,
    )
    from anisearch_model_spark.index.codec import encode_bucket_frame
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA
    from anisearch_model_spark.index.positions import encode_positions_bucket

    with open(os.path.join(d, "stats.json"), encoding="utf-8") as f:
        stats = json.load(f)
    field_col, codec = stats.get("field_col"), stats.get("codec", "varint")
    dm = _table(spark, d, "doc_map", BUCKETED_SCHEMA).toPandas()
    dm["field"] = dm[field_col] if field_col else UNSCOPED_FIELD
    post, pos = [], []
    for (b, fld), g in dm.groupby(["bucket", "field"], sort=True):
        ids, texts = g["doc_id"].reset_index(drop=True), g["text"].reset_index(
            drop=True)
        tf = term_frequency_frame(ids, texts).assign(bucket=b)
        enc = encode_bucket_frame(tf, POSTING_BLOCK_SIZE, codec=codec)
        post += _canon_pdf(enc.assign(field=fld), _POST_COLS)
        occ = positions_frame(ids, texts).assign(bucket=b)
        penc = encode_positions_bucket(occ, codec=codec)
        pos += _canon_pdf(penc.assign(field=fld), _POS_COLS)
    return sorted(post), sorted(pos)


def _assert_kernel_identical(spark, d):
    """Stored postings and positions == the driver-side reference."""
    ref_post, ref_pos = _reference_tables(spark, d)
    assert _canon(_table(spark, d, "postings", POSTINGS_SCHEMA),
                  _POST_COLS) == ref_post and ref_post
    assert _canon(_table(spark, d, "positions", POSITIONS_SCHEMA),
                  _POS_COLS) == ref_pos and ref_pos


def _doc_keys(spark, d):
    """doc_id → (conv_id, turn_idx) over the committed doc_map."""
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA

    dm = _table(spark, d, "doc_map", BUCKETED_SCHEMA).select(
        "doc_id", "conv_id", "turn_idx").toPandas()
    return {int(i): (c, int(t)) for i, c, t in dm.itertuples(index=False)}


def _decoded_postings(spark, d):
    """Every posting as (term, field, (conv_id, turn_idx), tf, dl), sorted:
    the index's logical content, independent of bucket layout and of
    doc-id gaps left by a purge."""
    from anisearch_model_spark.index.codec import decode_posting_block

    keys = _doc_keys(spark, d)
    out = []
    for r in _table(spark, d, "postings", POSTINGS_SCHEMA).collect():
        ids, tfs, dls = decode_posting_block(r.asDict())
        out += [(r["term"], r["field"], keys[int(i)], int(t), int(dl))
                for i, t, dl in zip(ids, tfs, dls)]
    return sorted(out)


def _corpus_bigrams(spark, d, n=6):
    """``n`` consecutive token pairs from docs spread over the corpus."""
    from anisearch_model_spark.functions.normalize import tokenize_series
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA

    texts = (_table(spark, d, "doc_map", BUCKETED_SCHEMA)
             .orderBy("doc_id").select("text").toPandas()["text"])
    toks = [t for t in tokenize_series(texts) if len(t) >= 2]
    step = max(1, len(toks) // n)
    out = sorted({" ".join(t[:2]) for t in toks[::step]})
    assert len(out) >= 5
    return out


def _phrase_pages(spark, d, phrases, by_key):
    from anisearch_model_spark.query.engine import IndexStore
    from anisearch_model_spark.query.phrase import phrase_topk

    idx = IndexStore(spark, d)
    keys = _doc_keys(spark, d) if by_key else None
    pages = []
    for ph in phrases:
        page = phrase_topk(idx, ph, k=10).toPandas()
        ids = [keys[int(i)] if by_key else int(i) for i in page["doc_id"]]
        pages.append((page["rank"].tolist(), ids, page["score"].to_numpy()))
    return pages


def _assert_in_step(spark, d, fresh, by_key=False):
    """Positions were kept ready by the write itself; phrase pages and
    decoded postings equal a fresh build of the same corpus (doc ids
    compared directly, or by (conv_id, turn_idx) after a purge)."""
    ok, reason = positions_ready(d)
    assert ok, reason
    phrases = _corpus_bigrams(spark, fresh)
    got = _phrase_pages(spark, d, phrases, by_key)
    want = _phrase_pages(spark, fresh, phrases, by_key)
    for ph, (gr, gi, gs), (wr, wi, ws) in zip(phrases, got, want):
        assert gr == wr and gi == wi and len(gi), ph
        assert np.array_equal(gs, ws), ph
    assert _decoded_postings(spark, d) == _decoded_postings(spark, fresh)
    assert build_positions(spark, d)["buckets_built"] == 0


def test_fused_build_byte_identical(spark, tmp_path):
    tr = gen_transcripts(spark, 4000, seed=7)
    d = str(tmp_path / "new")
    build_index(spark, tr, d, num_buckets=4)

    # the build stamps the positions commit point itself ...
    ok, reason = positions_ready(d)
    assert ok, reason
    # ... and a subsequent build_positions is a pure re-stamp, no tokenize
    assert build_positions(spark, d)["buckets_built"] == 0
    _assert_kernel_identical(spark, d)


def test_fused_build_partial_then_resume(spark, tmp_path):
    """A fail_after_buckets crash leaves positions UNSTAMPED (phrase
    search refuses); the resumed build completes the remaining buckets
    and stamps — identical tables to a clean one-shot build."""
    tr = gen_transcripts(spark, 3000, seed=9)
    d = str(tmp_path / "crash")
    build_index(spark, tr, d, num_buckets=4, fail_after_buckets=2)
    ok, _reason = positions_ready(d)
    assert not ok
    build_index(spark, tr, d, num_buckets=4)  # resume
    ok, reason = positions_ready(d)
    assert ok, reason

    ref = str(tmp_path / "ref")
    shutil.rmtree(ref, ignore_errors=True)
    build_index(spark, tr, ref, num_buckets=4)
    a = _canon(spark.read.schema(POSTINGS_SCHEMA).parquet(
        f"{d}/postings"), _POST_COLS)
    b = _canon(spark.read.schema(POSTINGS_SCHEMA).parquet(
        f"{ref}/postings"), _POST_COLS)
    assert a == b and len(a) > 0
    pa = _canon(spark.read.schema(POSITIONS_SCHEMA).parquet(
        f"{d}/positions"), _POS_COLS)
    pb = _canon(spark.read.schema(POSITIONS_SCHEMA).parquet(
        f"{ref}/positions"), _POS_COLS)
    assert pa == pb and len(pa) > 0


def test_fused_build_pfor_codec(spark, tmp_path):
    """Codec parameter flows through the fused pass to BOTH tables, and
    a positions repair re-encodes in the codec stats.json records."""
    from anisearch_model_spark.index.codec import FLAG_PFOR

    tr = gen_transcripts(spark, 1500, seed=11)
    d = str(tmp_path / "pfor")
    build_index(spark, tr, d, num_buckets=2, codec="pfor")
    ok, reason = positions_ready(d)
    assert ok, reason
    post = spark.read.schema(POSTINGS_SCHEMA).parquet(f"{d}/postings")
    row = post.limit(1).collect()[0]
    assert bytes(row["doc_deltas"])[:1] == FLAG_PFOR
    pos = spark.read.schema(POSITIONS_SCHEMA).parquet(f"{d}/positions")
    prow = pos.limit(1).collect()[0]
    assert bytes(prow["pos_deltas"])[:1] == FLAG_PFOR
    want = _canon(pos, _POS_COLS)

    shutil.rmtree(f"{d}/positions")
    assert build_positions(spark, d)["buckets_built"] == 2
    pos = spark.read.schema(POSITIONS_SCHEMA).parquet(f"{d}/positions")
    assert _canon(pos, _POS_COLS) == want


@pytest.fixture(scope="module")
def lifecycle(spark, tmp_path_factory):
    """A base build plus the rest of the corpus as an appended stream;
    the stream half sorts after the base half, so doc ids align with a
    fresh build of the whole corpus."""
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.streaming.incremental import incremental_append

    root = tmp_path_factory.mktemp("lifecycle")
    full = gen_transcripts_pandas(1500, seed=61)
    convs = sorted(full["conv_id"].unique())
    cut = convs[len(convs) * 2 // 3]
    d, fresh = str(root / "idx"), str(root / "fresh")
    build_index(spark, spark.createDataFrame(full[full["conv_id"] < cut],
                                             _SCHEMA), d, num_buckets=3)
    stream = str(root / "stream")
    spark.createDataFrame(full[full["conv_id"] >= cut], _SCHEMA).write.parquet(
        stream)
    incremental_append(spark, stream, d,
                       checkpoint_dir=str(root / "ckpt"))
    build_index(spark, spark.createDataFrame(full, _SCHEMA), fresh,
                num_buckets=3)
    return root, full, d, fresh


def test_append_keeps_positions_in_step(spark, lifecycle):
    _root, _full, d, fresh = lifecycle
    _assert_in_step(spark, d, fresh)
    _assert_kernel_identical(spark, d)


def test_purge_then_compact_keep_positions_in_step(spark, lifecycle):
    """Purge re-tokenizes the affected buckets' surviving rows; compaction
    carries position blocks.  Both leave positions ready and equal to a
    fresh build of the surviving corpus."""
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.tombstones import (
        delete_conversations,
        purge_deleted,
    )

    root, full, d, _fresh = lifecycle
    convs = sorted(full["conv_id"].unique())
    gone = [convs[len(convs) // 5], convs[len(convs) // 2], convs[-3]]
    delete_conversations(spark, d, gone)
    assert purge_deleted(spark, d)["buckets_rewritten"] >= 2
    survivors = str(root / "survivors")
    build_index(spark, spark.createDataFrame(
        full[~full["conv_id"].isin(gone)], _SCHEMA), survivors, num_buckets=3)
    _assert_in_step(spark, d, survivors, by_key=True)
    _assert_kernel_identical(spark, d)

    assert compact_index(spark, d)["groups_rewritten"] >= 1
    _assert_in_step(spark, d, survivors, by_key=True)


def test_merge_keeps_positions_in_step(spark, tmp_path):
    from anisearch_model_spark.index.merge import merge_indexes

    def prefixed(n, seed, prefix):
        return gen_transcripts(spark, n, seed=seed).withColumn(
            "conv_id", F.concat(F.lit(prefix), F.col("conv_id")))

    a, b = prefixed(700, 3, "a-"), prefixed(500, 4, "b-")
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    dm, fresh = str(tmp_path / "merged"), str(tmp_path / "fresh")
    build_index(spark, a, da, num_buckets=2)
    build_index(spark, b, db, num_buckets=2)
    merge_indexes(spark, [da, db], dm)
    build_index(spark, a.unionByName(b), fresh, num_buckets=4)
    _assert_in_step(spark, dm, fresh)


def test_crash_between_commit_and_stamp_heals(spark, tmp_path, monkeypatch):
    """A crash after a compaction's manifest commit but before its
    positions stamp leaves phrase search refusing with "stale";
    build_positions heals it as a re-stamp (every bucket's positions were
    already adopted) and phrase results are a fresh build's."""
    import anisearch_model_spark.index.positions as positions_mod
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.query.engine import IndexStore
    from anisearch_model_spark.query.phrase import phrase_match
    from anisearch_model_spark.streaming.incremental import _append_batch

    full = gen_transcripts_pandas(900, seed=71)
    convs = sorted(full["conv_id"].unique())
    cuts = [convs[len(convs) // 2], convs[len(convs) * 3 // 4]]
    d, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(full[full["conv_id"] < cuts[0]],
                                             _SCHEMA), d, num_buckets=2)
    for lo, hi in zip(cuts, cuts[1:] + [chr(0x10FFFF)]):
        part = full[(full["conv_id"] >= lo) & (full["conv_id"] < hi)]
        _append_batch(spark, spark.createDataFrame(part, _SCHEMA), d,
                      BM25Params())

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the positions stamp")

    monkeypatch.setattr(positions_mod, "stamp_positions_meta", boom)
    with pytest.raises(RuntimeError, match="positions stamp"):
        compact_index(spark, d)
    monkeypatch.undo()
    ok, reason = positions_ready(d)
    assert not ok and "stale" in reason
    with pytest.raises(ValueError, match="stale"):
        phrase_match(IndexStore(spark, d), "hero battle")

    assert build_positions(spark, d)["buckets_built"] == 0
    build_index(spark, spark.createDataFrame(full, _SCHEMA), fresh,
                num_buckets=2)
    _assert_in_step(spark, d, fresh)
