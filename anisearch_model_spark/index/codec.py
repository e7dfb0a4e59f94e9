"""Posting-list block codec: NumPy-vectorized varint (LEB128) plus
block-max metadata.

Replaces the reference's index artifact — a dense float32 embedding matrix
persisted with ``np.save`` (``src/sbert.py:344-347``) and positionally
aligned with the corpus (``src/api.py:248-267``) — with compressed posting
blocks: sorted docID deltas + term frequencies in blocks of
``POSTING_BLOCK_SIZE`` docs, each block carrying ``(first_doc_id, max_tf,
min_dl)`` so the scorer can compute a block-max BM25 upper bound (score is
monotone ↑ in tf and ↓ in dl, so score(max_tf, min_dl) bounds every doc in
the block).

Every buffer is LEB128 varint behind a 1-byte ``b'V'`` flag prefix
(SURVEY Phase 2 baseline): byte-aligned and cheap to encode whole-bucket,
since one vectorized pass is sliced into all blocks (``encode_ranges``).
A buffer with any other flag byte is refused with a "rebuild" error.

All encode/decode paths are vectorized (no per-value Python loops beyond a
≤10-round byte sweep), since they run inside executor-side pandas UDFs.
"""

from __future__ import annotations

import numpy as np

from anisearch_model_spark.config import POSTING_BLOCK_SIZE

_MAX_VARINT_BYTES = 10

FLAG_VARINT = b"V"  # 1-byte prefix of every stored buffer


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
                "doc_deltas": encode_values(deltas.astype(np.uint64)),
                "tfs": encode_values(t.astype(np.uint64)),
                "dls": encode_values(dl.astype(np.uint64)),
            }
        )
    return blocks


def encode_bucket_frame(pdf, block_size: int = POSTING_BLOCK_SIZE):
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
            "doc_deltas": encode_ranges(deltas, d_starts_vals, d_ends_vals),
            "tfs": encode_ranges(tf, r_starts, r_ends),
            "dls": encode_ranges(dl, r_starts, r_ends),
        }
    )[cols]


def encode_ranges(values: np.ndarray, starts: np.ndarray,
                  ends: np.ndarray) -> list[bytes]:
    """Flag-prefixed buffers of ``values`` sliced at [starts, ends): one
    vectorized varint pass over the whole array, sliced by byte offsets
    into one buffer per range (every block of a bucket at once)."""
    buf, lens = varint_encode_packed(np.asarray(values).astype(np.uint64))
    off = np.concatenate([[0], np.cumsum(lens)])
    mv = memoryview(buf)
    return [FLAG_VARINT + bytes(mv[off[a]: off[b]])
            for a, b in zip(starts, ends)]


def encode_values(values: np.ndarray) -> bytes:
    """One flag-prefixed varint buffer."""
    return FLAG_VARINT + varint_encode(values)


def decode_values(buf: bytes) -> np.ndarray:
    """Decode one flag-prefixed varint buffer; a buffer with any other
    flag byte, or with none, is refused."""
    if buf[:1] == FLAG_VARINT:
        return varint_decode(buf[1:])
    raise ValueError(
        f"unknown codec flag {buf[:1]!r} — this engine reads varint "
        "posting buffers only (b'V'); rebuild the index"
    )


def decode_posting_block(block: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64, dls int64)."""
    deltas = decode_values(block["doc_deltas"]).astype(np.int64)
    doc_ids = block["first_doc_id"] + np.concatenate([[0], np.cumsum(deltas)])
    tfs = decode_values(block["tfs"]).astype(np.int64)
    dls = decode_values(block["dls"]).astype(np.int64)
    return doc_ids, tfs, dls

