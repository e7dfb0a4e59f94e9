"""Varint / posting-block codec round-trip properties (SURVEY.md §5)
and the format gate that refuses any other codec or format version."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from anisearch_model_spark.index.codec import (
    decode_posting_block,
    encode_posting_blocks,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=100, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_boundaries():
    arr = np.array([0, 1, 127, 128, 16383, 16384, 2**62], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@pytest.mark.parametrize("n", [1, 127, 128, 129, 400, 1000])
def test_posting_block_roundtrip(n):
    rng = np.random.default_rng(n)
    docs = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 40, n)
    dls = rng.integers(1, 300, n)
    blocks = encode_posting_blocks(docs, tfs, dls, block_size=128)
    assert len(blocks) == (n + 127) // 128
    d2, t2, l2 = zip(*(decode_posting_block(b) for b in blocks))
    assert np.array_equal(np.concatenate(d2), docs)
    assert np.array_equal(np.concatenate(t2), tfs)
    assert np.array_equal(np.concatenate(l2), dls)
    for b in blocks:
        d, t, dl = decode_posting_block(b)
        # block-max metadata correctness: recorded bound == true block max/min
        assert b["max_tf"] == t.max()
        assert b["min_dl"] == dl.min()
        assert b["first_doc_id"] == d[0] and b["last_doc_id"] == d[-1]


def test_unsorted_input_is_sorted():
    docs = np.array([5, 1, 9], dtype=np.int64)
    blocks = encode_posting_blocks(docs, [1, 2, 3], [10, 10, 10])
    d, t, _ = decode_posting_block(blocks[0])
    assert d.tolist() == [1, 5, 9] and t.tolist() == [2, 1, 3]


def test_index_store_format_version_gate(spark, tmp_path):
    """stats.json version gate: the engine opens only its own format.  A
    MISSING version, an older one or an unknown one fails at open with
    "rebuild" — no buffer sniff, since a flag-prefixed index from before
    the one block table has no ``pos_deltas`` in its postings."""
    import json, os
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import (
        INDEX_FORMAT_VERSION, build_index)
    from anisearch_model_spark.query.engine import IndexStore

    d = str(tmp_path / "ver_idx")
    build_index(spark, gen_transcripts(spark, 50, seed=3), d, num_buckets=2)
    IndexStore(spark, d)  # fresh build opens fine
    path = os.path.join(d, "stats.json")
    stats = json.load(open(path))
    assert stats["index_format_version"] == INDEX_FORMAT_VERSION
    del stats["index_format_version"]  # pre-stamp index
    json.dump(stats, open(path, "w"))
    with pytest.raises(ValueError, match="format version None.*rebuild"):
        IndexStore(spark, d)
    stats["index_format_version"] = "bogus-v0"  # genuinely incompatible
    json.dump(stats, open(path, "w"))
    with pytest.raises(ValueError, match="format version.*rebuild"):
        IndexStore(spark, d)


def test_v2_index_refused_at_open(spark, tmp_path):
    """A format-2 index (postings without ``pos_deltas``, positions in a
    separate table) is refused at open with "rebuild"."""
    import json, os
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore

    d = str(tmp_path / "v2_idx")
    build_index(spark, gen_transcripts(spark, 50, seed=3), d, num_buckets=1)
    path = os.path.join(d, "stats.json")
    stats = json.load(open(path))
    stats["index_format_version"] = 2
    json.dump(stats, open(path, "w"))
    with pytest.raises(ValueError, match="format version 2.*rebuild"):
        IndexStore(spark, d)


def test_pfor_codec_index_refused_at_open(spark, tmp_path):
    """A format-3 index whose stats.json records the retired ``pfor``
    codec is refused at open with "rebuild" (varint is the only codec;
    a missing codec key, as fresh builds write it, reads as varint)."""
    import json, os
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore

    d = str(tmp_path / "pfor_idx")
    build_index(spark, gen_transcripts(spark, 50, seed=3), d, num_buckets=1)
    path = os.path.join(d, "stats.json")
    stats = json.load(open(path))
    assert "codec" not in stats
    stats["codec"] = "varint"  # what builds before the change recorded
    json.dump(stats, open(path, "w"))
    IndexStore(spark, d)
    stats["codec"] = "pfor"
    json.dump(stats, open(path, "w"))
    with pytest.raises(ValueError, match="'pfor'.*rebuild"):
        IndexStore(spark, d)


def test_pfor_flagged_buffer_refused():
    """Every buffer is b'V'-flagged varint; a buffer with the retired
    PFor flag b'P' (or no flag) is refused with "rebuild"."""
    from anisearch_model_spark.index.codec import decode_values, encode_values

    arr = np.array([1, 127, 128, 300000], dtype=np.uint64)
    buf = encode_values(arr)
    assert buf[:1] == b"V"
    assert np.array_equal(decode_values(buf), arr)
    for bad in (b"P" + buf[1:], buf[1:]):
        with pytest.raises(ValueError, match="rebuild"):
            decode_values(bad)


def test_bucket_frame_matches_per_term_blocks(spark):
    """encode_bucket_frame stays byte-identical to the per-term reference
    encoder, ``encode_posting_blocks``."""
    import pandas as pd
    from anisearch_model_spark.index.codec import encode_bucket_frame

    rng = np.random.default_rng(3)
    rows = []
    for term in ["alpha", "beta", "gamma"]:
        docs = np.sort(rng.choice(4000, size=300, replace=False))
        for d in docs:
            rows.append((int(d), term, int(rng.integers(1, 30)),
                         int(rng.integers(5, 400)), 0))
    pdf = pd.DataFrame(rows, columns=["doc_id", "term", "tf", "doc_len", "bucket"])
    out = encode_bucket_frame(pdf, block_size=128)
    for term, grp in pdf.groupby("term"):
        expect = encode_posting_blocks(
            grp["doc_id"].to_numpy(), grp["tf"].to_numpy(),
            grp["doc_len"].to_numpy(), block_size=128)
        got = out[out["term"] == term].sort_values("block_id")
        assert len(got) == len(expect)
        for row, exp in zip(got.itertuples(index=False), expect):
            assert row.doc_deltas == exp["doc_deltas"]
            assert row.tfs == exp["tfs"]
            assert row.dls == exp["dls"]
            assert row.max_tf == exp["max_tf"] and row.min_dl == exp["min_dl"]
