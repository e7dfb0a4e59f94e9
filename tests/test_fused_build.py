"""One build kernel (index/build.write_buckets) and one block table: a
single tokenize pass writes each bucket's blocks, positions included,
under ``postings/``.  Every write path (build, append, purge)
creates a bucket's blocks this way and compaction and merge carry them,
so:

  * block rows are byte-identical to ``encode_positions_bucket`` over
    each (bucket, field)'s occurrence rows, and their BM25 projection to
    ``encode_bucket_frame`` over its tf rows;
  * no write path creates a ``positions/`` table or a positions stamp;
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
from anisearch_model_spark.index.build import (
    BLOCK_SCHEMA,
    POSTINGS_SCHEMA,
    UNSCOPED_FIELD,
)
from anisearch_model_spark.index.store import build_index

_POST_COLS = [
    "term", "bucket", "field", "block_id", "n", "cf", "first_doc_id",
    "last_doc_id", "max_tf", "min_dl", "doc_deltas", "tfs", "dls",
]
_BLOCK_COLS = _POST_COLS + ["pos_deltas"]
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
    """(posting projection, block rows) re-encoded driver-side from the
    index's own doc_map: per (bucket, field), ``encode_bucket_frame`` over
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
    field_col = stats.get("field_col")
    dm = _table(spark, d, "doc_map", BUCKETED_SCHEMA).toPandas()
    dm["field"] = dm[field_col] if field_col else UNSCOPED_FIELD
    post, blocks = [], []
    for (b, fld), g in dm.groupby(["bucket", "field"], sort=True):
        ids, texts = g["doc_id"].reset_index(drop=True), g["text"].reset_index(
            drop=True)
        tf = term_frequency_frame(ids, texts).assign(bucket=b)
        enc = encode_bucket_frame(tf, POSTING_BLOCK_SIZE)
        post += _canon_pdf(enc.assign(field=fld), _POST_COLS)
        occ = positions_frame(ids, texts).assign(bucket=b)
        penc = encode_positions_bucket(occ)
        blocks += _canon_pdf(penc.assign(field=fld), _BLOCK_COLS)
    return sorted(post), sorted(blocks)


def _assert_one_table(d):
    """The index has one block table: no positions table or stamp."""
    assert not os.path.exists(os.path.join(d, "positions"))
    assert not os.path.exists(os.path.join(d, "positions_meta.json"))


def _assert_kernel_identical(spark, d):
    """Stored block rows (and their BM25 projection) == the driver-side
    reference."""
    ref_post, ref_blocks = _reference_tables(spark, d)
    assert _canon(_table(spark, d, "postings", POSTINGS_SCHEMA),
                  _POST_COLS) == ref_post and ref_post
    assert _canon(_table(spark, d, "postings", BLOCK_SCHEMA),
                  _BLOCK_COLS) == ref_blocks and ref_blocks
    _assert_one_table(d)


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
    """Phrase pages and decoded postings equal a fresh build of the same
    corpus (doc ids compared directly, or by (conv_id, turn_idx) after a
    purge), with one block table."""
    _assert_one_table(d)
    phrases = _corpus_bigrams(spark, fresh)
    got = _phrase_pages(spark, d, phrases, by_key)
    want = _phrase_pages(spark, fresh, phrases, by_key)
    for ph, (gr, gi, gs), (wr, wi, ws) in zip(phrases, got, want):
        assert gr == wr and gi == wi and len(gi), ph
        assert np.array_equal(gs, ws), ph
    assert _decoded_postings(spark, d) == _decoded_postings(spark, fresh)


def test_fused_build_byte_identical(spark, tmp_path):
    tr = gen_transcripts(spark, 4000, seed=7)
    d = str(tmp_path / "new")
    build_index(spark, tr, d, num_buckets=4)
    _assert_kernel_identical(spark, d)


def test_postings_rows_equal_block_reference(spark, tmp_path):
    """Every stored ``postings/`` row of a field-qualified build —
    positions included — equals ``encode_positions_bucket`` over the
    (bucket, field)'s occurrence rows, byte for byte."""
    from anisearch_model_spark.index.codec import FLAG_VARINT

    tr = gen_transcripts(spark, 1200, seed=13)
    d = str(tmp_path / "fq")
    build_index(spark, tr, d, num_buckets=2, field_col="role")
    rows = _table(spark, d, "postings", BLOCK_SCHEMA)
    assert rows.select("field").distinct().count() >= 2
    assert bytes(rows.limit(1).collect()[0]["pos_deltas"])[:1] == FLAG_VARINT
    _assert_kernel_identical(spark, d)


def test_fused_build_partial_then_resume(spark, tmp_path):
    """A fail_after_buckets crash writes only the first buckets' blocks;
    the resumed build completes the remaining buckets — block rows,
    positions included, identical to a clean one-shot build."""
    tr = gen_transcripts(spark, 3000, seed=9)
    d = str(tmp_path / "crash")
    build_index(spark, tr, d, num_buckets=4, fail_after_buckets=2)
    part = spark.read.schema(BLOCK_SCHEMA).parquet(f"{d}/postings")
    assert sorted(r["bucket"] for r in
                  part.select("bucket").distinct().collect()) == [0, 1]
    build_index(spark, tr, d, num_buckets=4)  # resume

    ref = str(tmp_path / "ref")
    shutil.rmtree(ref, ignore_errors=True)
    build_index(spark, tr, ref, num_buckets=4)
    a = _canon(spark.read.schema(BLOCK_SCHEMA).parquet(
        f"{d}/postings"), _BLOCK_COLS)
    b = _canon(spark.read.schema(BLOCK_SCHEMA).parquet(
        f"{ref}/postings"), _BLOCK_COLS)
    assert a == b and len(a) > 0
    _assert_one_table(d)


def test_fused_build_varint_flags(spark, tmp_path):
    """The fused pass writes every buffer of a block, positions included,
    as b'V'-flagged varint, and stats.json records no codec; the
    ``build_positions`` no-op reports every bucket."""
    from anisearch_model_spark.index.codec import FLAG_VARINT
    from anisearch_model_spark.index.positions import build_positions

    tr = gen_transcripts(spark, 1500, seed=11)
    d = str(tmp_path / "varint")
    build_index(spark, tr, d, num_buckets=2)
    blocks = spark.read.schema(BLOCK_SCHEMA).parquet(f"{d}/postings")
    for row in blocks.limit(20).collect():
        for col in ("doc_deltas", "tfs", "dls", "pos_deltas"):
            assert bytes(row[col])[:1] == FLAG_VARINT, col
    with open(os.path.join(d, "stats.json"), encoding="utf-8") as f:
        assert "codec" not in json.load(f)
    assert build_positions(spark, d) == {"buckets_built": 0,
                                         "buckets_total": 2}
    _assert_one_table(d)


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
    """A crash after a compaction's manifest commit but before its old
    bucket ids are dropped leaves superseded directories behind;
    ``recover_compaction`` deletes them, and phrase and BMW results then
    equal a fresh build's — there is no positions stamp to lose."""
    import anisearch_model_spark.index.compact as compact_mod
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw
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
    before = set(os.listdir(f"{d}/postings"))

    def boom(*a, **k):
        raise RuntimeError("simulated crash after the manifest commit")

    monkeypatch.setattr(compact_mod, "_drop_buckets", boom)
    with pytest.raises(RuntimeError, match="manifest commit"):
        compact_mod.compact_index(spark, d)
    monkeypatch.undo()
    live = {f"bucket={b}" for b in _live_buckets(d)}
    assert live != before and before <= set(os.listdir(f"{d}/postings"))

    assert compact_mod.recover_compaction(d) == "healed"
    assert set(os.listdir(f"{d}/postings")) == live
    build_index(spark, spark.createDataFrame(full, _SCHEMA), fresh,
                num_buckets=2)
    _assert_in_step(spark, d, fresh)
    idx, ref = IndexStore(spark, d), IndexStore(spark, fresh)
    for q in ("hero battle magic", "robot space"):
        got = topk_bmw(idx, q, 10).toPandas()
        want = topk_bmw(ref, q, 10).toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), q
        assert np.array_equal(got["score"].to_numpy(),
                              want["score"].to_numpy()), q


def test_no_positions_table_after_any_write(spark, tmp_path):
    """Build, append, purge, compact and merge each leave one
    block table: no ``positions/`` directory, no ``positions_meta.json``."""
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.datagen import gen_transcripts_pandas
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.index.merge import merge_indexes
    from anisearch_model_spark.index.tombstones import (
        delete_conversations,
        purge_deleted,
    )
    from anisearch_model_spark.streaming.incremental import _append_batch

    full = gen_transcripts_pandas(600, seed=83)
    convs = sorted(full["conv_id"].unique())
    cut = convs[len(convs) // 2]
    d, other = str(tmp_path / "idx"), str(tmp_path / "other")
    build_index(spark, spark.createDataFrame(full[full["conv_id"] < cut],
                                             _SCHEMA), d, num_buckets=2)
    _assert_one_table(d)
    _append_batch(spark, spark.createDataFrame(full[full["conv_id"] >= cut],
                                               _SCHEMA), d, BM25Params())
    _assert_one_table(d)
    delete_conversations(spark, d, [convs[1]])
    assert purge_deleted(spark, d)["buckets_rewritten"] >= 1
    _assert_one_table(d)
    assert compact_index(spark, d)["groups_rewritten"] >= 1
    _assert_one_table(d)
    build_index(spark, gen_transcripts(spark, 200, seed=5).withColumn(
        "conv_id", F.concat(F.lit("z-"), F.col("conv_id"))), other,
        num_buckets=1)
    merged = str(tmp_path / "merged")
    merge_indexes(spark, [d, other], merged)
    _assert_one_table(merged)
