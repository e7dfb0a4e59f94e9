"""Posting-list block codec: NumPy-vectorized varint / PFor bit-packing
plus block-max metadata.

Replaces the reference's index artifact — a dense float32 embedding matrix
persisted with ``np.save`` (``src/sbert.py:344-347``) and positionally
aligned with the corpus (``src/api.py:248-267``) — with compressed posting
blocks: sorted docID deltas + term frequencies in blocks of
``POSTING_BLOCK_SIZE`` docs, each block carrying ``(first_doc_id, max_tf,
min_dl)`` so the scorer can compute a block-max BM25 upper bound (score is
monotone ↑ in tf and ↓ in dl, so score(max_tf, min_dl) bounds every doc in
the block).

Two value codecs, self-described by a 1-byte flag prefix on every buffer:

  * ``varint``  — LEB128 (SURVEY Phase 2 baseline); byte-aligned, cheap to
    encode whole-bucket (one vectorized pass slices all blocks);
  * ``pfor``    — PForDelta-style bit packing: low ``width`` bits of every
    value packed contiguously (width = 90th-percentile bit length),
    outliers patched from an exception list — the classic decode-speed
    codec for the query hot loop (one unpackbits + dot per block instead
    of a data-dependent byte walk).

All encode/decode paths are vectorized (no per-value Python loops beyond a
≤10-round byte sweep), since they run inside executor-side pandas UDFs.
"""

from __future__ import annotations

import numpy as np

from anisearch_model_spark.config import POSTING_BLOCK_SIZE

_MAX_VARINT_BYTES = 10

# 1-byte buffer flags (self-describing buffers keep old/new blocks mixable,
# e.g. an incremental append with a different codec than the base build)
FLAG_VARINT = b"V"
FLAG_PFOR = b"P"
CODECS = ("varint", "pfor")


def varint_encode_packed(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array → (bytes, per-value byte lengths)."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(a)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    remaining = a.copy()
    finished = np.zeros(n, dtype=bool)
    lens = np.zeros(n, dtype=np.int64)
    cols = []
    for _ in range(_MAX_VARINT_BYTES):
        active = ~finished
        if not active.any():
            break
        byte = (remaining & np.uint64(0x7F)).astype(np.uint8)
        remaining = remaining >> np.uint64(7)
        more = remaining > 0
        byte = np.where(more, byte | 0x80, byte)
        cols.append(np.where(active, byte, 0).astype(np.uint8))
        lens[active] += 1
        finished |= active & ~more
    mat = np.stack(cols, axis=1)  # (n, rounds)
    mask = np.arange(mat.shape[1]) < lens[:, None]
    return mat[mask].tobytes(), lens


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array → bytes (vectorized)."""
    return varint_encode_packed(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.array([], dtype=np.uint64)
    ends = (b & 0x80) == 0
    value_id = np.cumsum(ends) - ends  # per-byte owning value index
    n_values = int(ends.sum())
    starts = np.zeros(len(b), dtype=np.int64)
    end_pos = np.nonzero(ends)[0]
    # start position of each value's byte run
    run_starts = np.concatenate([[0], end_pos[:-1] + 1])
    pos_in_value = np.arange(len(b)) - run_starts[value_id]
    payload = (b & 0x7F).astype(np.uint64) << (7 * pos_in_value).astype(np.uint64)
    out = np.zeros(n_values, dtype=np.uint64)
    np.bitwise_or.at(out, value_id, payload)
    return out


def encode_posting_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = POSTING_BLOCK_SIZE,
    codec: str = "varint",
) -> list[dict]:
    """Split one term's postings (sorted by doc_id asc) into encoded blocks.

    Returns a list of dicts with keys
    ``block_id, n, first_doc_id, last_doc_id, max_tf, min_dl,
    doc_deltas, tfs`` — directly rows of the ``postings`` table.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order]
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    dls = np.asarray(dls, dtype=np.int64)[order]
    blocks = []
    for bi, start in enumerate(range(0, len(doc_ids), block_size)):
        d = doc_ids[start : start + block_size]
        t = tfs[start : start + block_size]
        dl = dls[start : start + block_size]
        deltas = np.diff(d)  # n-1 gaps; first doc stored explicitly
        blocks.append(
            {
                "block_id": bi,
                "n": int(len(d)),
                "cf": int(t.sum()),  # block collection frequency: dictionary
                # df/cf derive from block metadata, no re-tokenize
                "first_doc_id": int(d[0]),
                "last_doc_id": int(d[-1]),
                "max_tf": int(t.max()),
                "min_dl": int(dl.min()),
                "doc_deltas": encode_values(deltas.astype(np.uint64), codec),
                "tfs": encode_values(t.astype(np.uint64), codec),
                "dls": encode_values(dl.astype(np.uint64), codec),
            }
        )
    return blocks


def encode_bucket_frame(pdf, block_size: int = POSTING_BLOCK_SIZE,
                        codec: str = "varint"):
    """Encode ALL terms of one bucket's tf frame in one vectorized pass.

    Input: pandas DataFrame with columns (doc_id, term, tf, doc_len,
    bucket).  Output: DataFrame of posting-block rows (term, bucket,
    block_id, n, cf, first_doc_id, last_doc_id, max_tf, min_dl,
    doc_deltas, tfs, dls) byte-identical to per-term
    ``encode_posting_blocks`` — but the per-(term, block) work is
    np.reduceat / lexsort over the whole bucket, not a Python loop per
    term (the encode half of index-build CPU).
    """
    import pandas as pd

    cols = [
        "term", "bucket", "block_id", "n", "cf", "first_doc_id", "last_doc_id",
        "max_tf", "min_dl", "doc_deltas", "tfs", "dls",
    ]
    if len(pdf) == 0:
        return pd.DataFrame(columns=cols)
    bucket = int(pdf["bucket"].iloc[0])
    doc = pdf["doc_id"].to_numpy(np.int64)
    tf = pdf["tf"].to_numpy(np.int64)
    dl = pdf["doc_len"].to_numpy(np.int64)
    tcodes, tuniq = pd.factorize(pdf["term"].to_numpy(), sort=True)

    order = np.lexsort((doc, tcodes))
    doc, tf, dl, tcodes = doc[order], tf[order], dl[order], tcodes[order]

    new_term = np.empty(len(doc), dtype=bool)
    new_term[0] = True
    new_term[1:] = tcodes[1:] != tcodes[:-1]
    seg_id = np.cumsum(new_term) - 1
    seg_start = np.nonzero(new_term)[0]
    pos_in_term = np.arange(len(doc)) - seg_start[seg_id]

    new_block = new_term | (pos_in_term % block_size == 0)
    bstart = np.nonzero(new_block)[0]
    bend = np.concatenate([bstart[1:], [len(doc)]])
    n_per_block = (bend - bstart).astype(np.int64)

    first_doc = doc[bstart]
    last_doc = doc[bend - 1]
    max_tf = np.maximum.reduceat(tf, bstart)
    min_dl = np.minimum.reduceat(dl, bstart)
    cf = np.add.reduceat(tf, bstart)
    block_term = tuniq[tcodes[bstart]]
    block_idx = (pos_in_term[bstart] // block_size).astype(np.int64)

    # in-block doc gaps: every row that does not start a block
    nonfirst = np.nonzero(~new_block)[0]
    deltas = (doc[nonfirst] - doc[nonfirst - 1]).astype(np.uint64)

    # per-block value ranges
    d_counts = n_per_block - 1
    d_ends_vals = np.cumsum(d_counts)
    d_starts_vals = d_ends_vals - d_counts
    r_ends = np.cumsum(n_per_block)
    r_starts = r_ends - n_per_block

    if codec == "pfor":
        # per-block vectorized pack (width varies per block, so the
        # whole-bucket slicing trick doesn't apply); each call is a few
        # numpy ops over ≤block_size values
        doc_deltas = [
            pfor_encode(deltas[a:b]) for a, b in zip(d_starts_vals, d_ends_vals)
        ]
        tfv = tf.astype(np.uint64)
        dlv = dl.astype(np.uint64)
        tfs = [pfor_encode(tfv[a:b]) for a, b in zip(r_starts, r_ends)]
        dls = [pfor_encode(dlv[a:b]) for a, b in zip(r_starts, r_ends)]
        return _assemble(block_term, bucket, block_idx, n_per_block, cf,
                         first_doc, last_doc, max_tf, min_dl,
                         doc_deltas, tfs, dls, cols)

    dbuf, dlens = varint_encode_packed(deltas)
    tbuf, tlens = varint_encode_packed(tf.astype(np.uint64))
    lbuf, llens = varint_encode_packed(dl.astype(np.uint64))
    d_off = np.concatenate([[0], np.cumsum(dlens)])
    t_off = np.concatenate([[0], np.cumsum(tlens)])
    l_off = np.concatenate([[0], np.cumsum(llens)])
    dmv, tmv, lmv = memoryview(dbuf), memoryview(tbuf), memoryview(lbuf)
    doc_deltas = [
        FLAG_VARINT + bytes(dmv[d_off[a] : d_off[b]])
        for a, b in zip(d_starts_vals, d_ends_vals)
    ]
    tfs = [FLAG_VARINT + bytes(tmv[t_off[a] : t_off[b]])
           for a, b in zip(r_starts, r_ends)]
    dls = [FLAG_VARINT + bytes(lmv[l_off[a] : l_off[b]])
           for a, b in zip(r_starts, r_ends)]

    return _assemble(block_term, bucket, block_idx, n_per_block, cf,
                     first_doc, last_doc, max_tf, min_dl,
                     doc_deltas, tfs, dls, cols)


def _assemble(block_term, bucket, block_idx, n_per_block, cf, first_doc,
              last_doc, max_tf, min_dl, doc_deltas, tfs, dls, cols):
    import pandas as pd

    return pd.DataFrame(
        {
            "term": block_term,
            "bucket": bucket,
            "block_id": block_idx,
            "n": n_per_block,
            "cf": cf.astype(np.int64),
            "first_doc_id": first_doc,
            "last_doc_id": last_doc,
            "max_tf": max_tf.astype(np.int32),
            "min_dl": min_dl.astype(np.int32),
            "doc_deltas": doc_deltas,
            "tfs": tfs,
            "dls": dls,
        }
    )[cols]


def pfor_encode(values: np.ndarray) -> bytes:
    """PFor-style bit-pack a uint64 array (flag byte included).

    Layout (all header fields fixed-width little-endian — decoding is pure
    ``np.frombuffer`` slicing, no data-dependent byte scans):

      'P' | width (1B) | n (uint32) | packed low bits (ceil(n*width/8) B,
      LSB-first) | n_exc (uint32) | ebytes (1B) | exception positions
      (n_exc × uint32) | exception high bits (n_exc × ebytes)

    width = bit length of the 90th-percentile value, so ≤10% of values
    become exceptions even under a skewed tail (classic PForDelta).
    """
    a = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(a)
    if n == 0:
        return FLAG_PFOR + bytes([0]) + (0).to_bytes(4, "little")
    p90 = int(np.quantile(a.astype("float64"), 0.9))
    width = min(max(int(p90).bit_length(), 1), 64)
    mask = np.uint64((1 << width) - 1) if width < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    low = a & mask
    # a >> 64 is a shift equal to the operand width — undefined in C and
    # platform-dependent in numpy (x86 masks the count to 0) — so width=64
    # is special-cased: every value fits the packed low bits, no exceptions
    high = a >> np.uint64(width) if width < 64 else np.zeros(n, dtype=np.uint64)
    # pack low bits LSB-first: value bytes → (n, 64) bit matrix → take the
    # low `width` bit columns → packbits (three vectorized byte ops, no
    # per-value shifts/dots)
    bits = np.unpackbits(low.view(np.uint8).reshape(n, 8), axis=1,
                         bitorder="little")
    packed = np.packbits(bits[:, :width].reshape(-1), bitorder="little").tobytes()
    exc_pos = np.nonzero(high)[0]
    exc_val = high[exc_pos]
    n_exc = len(exc_pos)
    if n_exc:
        emax = int(exc_val.max())
        ebytes = 1 if emax < 1 << 8 else 2 if emax < 1 << 16 else \
            4 if emax < 1 << 32 else 8
        edtype = {1: "<u1", 2: "<u2", 4: "<u4", 8: "<u8"}[ebytes]
        exc_tail = (bytes([ebytes])
                    + exc_pos.astype("<u4").tobytes()
                    + exc_val.astype(edtype).tobytes())
    else:
        exc_tail = bytes([0])
    return b"".join([
        FLAG_PFOR, bytes([width]), n.to_bytes(4, "little"), packed,
        n_exc.to_bytes(4, "little"), exc_tail,
    ])


def pfor_decode(buf: bytes) -> np.ndarray:
    """Inverse of ``pfor_encode`` (expects the flag byte present)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    width = int(b[1])
    n = int.from_bytes(buf[2:6], "little")
    if n == 0:
        return np.array([], dtype=np.uint64)
    pos = 6
    nbytes = (n * width + 7) // 8
    bits = np.unpackbits(b[pos : pos + nbytes], bitorder="little")[: n * width]
    m = np.zeros((n, 64), dtype=np.uint8)
    m[:, :width] = bits.reshape(n, width)
    out = np.packbits(m, axis=1, bitorder="little").view(np.uint64).ravel().copy()
    pos += nbytes
    n_exc = int.from_bytes(buf[pos : pos + 4], "little")
    pos += 4
    ebytes = int(b[pos])
    pos += 1
    if n_exc:
        exc_pos = np.frombuffer(buf, "<u4", count=n_exc, offset=pos)
        pos += 4 * n_exc
        edtype = {1: "<u1", 2: "<u2", 4: "<u4", 8: "<u8"}[ebytes]
        exc_val = np.frombuffer(buf, edtype, count=n_exc, offset=pos)
        out[exc_pos.astype(np.int64)] |= exc_val.astype(np.uint64) << np.uint64(width)
    return out


def encode_values(values: np.ndarray, codec: str = "varint") -> bytes:
    """Flag-prefixed encode with the chosen codec."""
    if codec == "pfor":
        return pfor_encode(values)
    return FLAG_VARINT + varint_encode(values)


def decode_values(buf: bytes) -> np.ndarray:
    """Decode any flag-prefixed buffer (codec self-described)."""
    if buf[:1] == FLAG_PFOR:
        return pfor_decode(buf)
    if buf[:1] == FLAG_VARINT:
        return varint_decode(buf[1:])
    raise ValueError(
        f"unknown codec flag {buf[:1]!r} — posting buffer is not "
        "flag-prefixed (index built by a pre-codec-flag version?); "
        "rebuild the index"
    )


def decode_posting_block(block: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64, dls int64)."""
    deltas = decode_values(block["doc_deltas"]).astype(np.int64)
    doc_ids = block["first_doc_id"] + np.concatenate([[0], np.cumsum(deltas)])
    tfs = decode_values(block["tfs"]).astype(np.int64)
    dls = decode_values(block["dls"]).astype(np.int64)
    return doc_ids, tfs, dls

