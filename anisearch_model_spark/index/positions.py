"""Positional postings — a separate ``positions/`` side table enabling
exact-phrase queries without touching the BM25 hot path.

The reference engine has no phrase search at all (its retrieval is a
dense-vector cosine over whole descriptions, ``src/api.py:270-313``); a
lexical fulltext engine is expected to offer it, and the classic design —
Lucene's ``.pos`` files next to ``.doc`` postings — keeps positions OUT of
the scoring-hot postings so BM25 scans never pay for them.  We follow the
same split:

    <index_dir>/positions/bucket=N/field=F/   position blocks
    <index_dir>/positions_meta.json           commit point + validity stamp

Each position block mirrors its term's posting block (same doc order, same
``block_size``-doc split) and is SELF-CONTAINED: it carries the block's
``doc_deltas``/``tfs``/``dls`` buffers again plus ``pos_deltas`` — flat
occurrence-level position gaps, doc-major (first position of a doc
absolute, subsequent ones delta-encoded).  Duplicating the ~3 B/posting
doc/tf/dl buffers costs a few percent of the position volume and lets a
phrase query read ONE table instead of aligning two scans.

Scale shape (this IS the main build's kernel, index/build.py):
  * ONE fused ``mapInPandas`` pass over the bucketed doc_map — tokenize +
    position-encode per bucket, ZERO shuffle of position data; the
    postings table is a columnar copy of its output;
  * written ``partitionBy(bucket, field)`` → phrase scans prune on the
    term IN pushdown + field directory pruning, score bucket-parallel;
  * resumable per bucket (directory-existence check; the meta stamp is
    written LAST and is the commit point);
  * positions are indices into the POST-stopword token stream, so "exact
    phrase" means *phrase with stopwords elided* — the only phrase
    semantics a stopword-eliding index can promise (and what Lucene with
    a stop filter gives).

Maintenance interplay: every write path keeps positions in step.
Build, incremental append and purge write a bucket's position blocks and
postings with the same kernel (index/build.write_buckets); compaction and
merge carry position blocks exactly as they carry posting blocks.  Each
re-stamps ``positions_meta.json`` right after its manifest commit when
positions were ready before it, so phrase search works after any write.
The stamp records the exact bucket-id set it covers, and the phrase
engine refuses to run when that set drifts from the committed manifest:
after ``recode_index`` (which renames every bucket and re-encodes only
postings), or after a crash between a manifest commit and its stamp.
``build_positions`` repairs both: it tokenizes only buckets with no
position directory, then stamps.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anisearch_model_spark.config import POSTING_BLOCK_SIZE, TOKENIZER_VERSION
from anisearch_model_spark.functions.normalize import positions_frame
from anisearch_model_spark.index.build import UNSCOPED_FIELD

POSITIONS_SCHEMA = (
    "term string, bucket int, field string, block_id int, n int, "
    "first_doc_id long, last_doc_id long, "
    "doc_deltas binary, tfs binary, dls binary, pos_deltas binary"
)

# written position blocks carry the three posting-only metadata columns
# too, so the postings table derives from the positions table by a pure
# columnar copy (index/build.write_buckets) — one tokenize pass for both
# tables.  Phrase readers of POSITIONS_SCHEMA never project the extras.
POSITIONS_FULL_SCHEMA = POSITIONS_SCHEMA + ", cf long, max_tf int, min_dl int"

_POSITION_COLS = [
    "term", "bucket", "field", "block_id", "n", "first_doc_id", "last_doc_id",
    "doc_deltas", "tfs", "dls", "pos_deltas", "cf", "max_tf", "min_dl",
]


def _encode_ranges(values: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                   codec: str) -> list[bytes]:
    """Per-block buffers for ``values`` sliced at [starts, ends) — one
    vectorized whole-bucket varint pass sliced by byte offsets (the same
    trick as codec.encode_bucket_frame), or per-block pfor packs."""
    from anisearch_model_spark.index.codec import (
        FLAG_VARINT,
        pfor_encode,
        varint_encode_packed,
    )

    v = values.astype(np.uint64)
    if codec == "pfor":
        return [pfor_encode(v[a:b]) for a, b in zip(starts, ends)]
    buf, lens = varint_encode_packed(v)
    off = np.concatenate([[0], np.cumsum(lens)])
    mv = memoryview(buf)
    return [FLAG_VARINT + bytes(mv[off[a]: off[b]]) for a, b in zip(starts, ends)]


def encode_positions_bucket(pdf: pd.DataFrame,
                            block_size: int = POSTING_BLOCK_SIZE,
                            codec: str = "varint") -> pd.DataFrame:
    """One bucket's occurrence frame (doc_id, term, pos, doc_len, bucket)
    → position-block rows.  Blocks split every ``block_size`` DOCS per
    term — the same split rule as the posting blocks — via numpy segment
    arithmetic over the whole bucket (no per-term Python loop)."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=_POSITION_COLS)
    bucket = int(pdf["bucket"].iloc[0])
    doc = pdf["doc_id"].to_numpy(np.int64)
    pos = pdf["pos"].to_numpy(np.int64)
    dl = pdf["doc_len"].to_numpy(np.int64)
    tcodes, tuniq = pd.factorize(pdf["term"].to_numpy(), sort=True)

    order = np.lexsort((pos, doc, tcodes))
    doc, pos, dl, tcodes = doc[order], pos[order], dl[order], tcodes[order]
    n_occ = len(doc)

    # occurrence-level boundaries
    new_term = np.empty(n_occ, dtype=bool)
    new_term[0] = True
    new_term[1:] = tcodes[1:] != tcodes[:-1]
    new_group = new_term.copy()  # (term, doc) group starts
    new_group[1:] |= doc[1:] != doc[:-1]
    g_start = np.nonzero(new_group)[0]          # occurrence idx of group start
    occ_bounds = np.concatenate([g_start, [n_occ]])
    n_groups = len(g_start)
    tf_per_group = np.diff(occ_bounds).astype(np.int64)

    # group-level arrays
    g_term = tcodes[g_start]
    g_doc = doc[g_start]
    g_dl = dl[g_start]
    g_new_term = new_term[g_start]
    g_seg_start = np.nonzero(g_new_term)[0]
    g_seg_id = np.cumsum(g_new_term) - 1
    doc_num_in_term = np.arange(n_groups) - g_seg_start[g_seg_id]

    new_block = g_new_term | (doc_num_in_term % block_size == 0)
    bstart = np.nonzero(new_block)[0]           # group idx of block start
    bend = np.concatenate([bstart[1:], [n_groups]])
    n_per_block = (bend - bstart).astype(np.int64)
    first_doc = g_doc[bstart]
    last_doc = g_doc[bend - 1]
    block_term = tuniq[g_term[bstart]]
    block_idx = (doc_num_in_term[bstart] // block_size).astype(np.int64)

    # in-block doc gaps at group level (first doc stored explicitly)
    g_nonfirst = np.nonzero(~new_block)[0]
    doc_gaps = (g_doc[g_nonfirst] - g_doc[g_nonfirst - 1]).astype(np.int64)
    gap_counts = n_per_block - 1
    gap_ends = np.cumsum(gap_counts)
    gap_starts = gap_ends - gap_counts

    # group-value ranges per block (tfs, dls buffers)
    grp_ends = np.cumsum(n_per_block)
    grp_starts = grp_ends - n_per_block

    # position deltas at occurrence level: absolute at each group start,
    # gap to the previous occurrence inside a group otherwise
    pos_delta = pos.copy()
    pos_delta[~new_group] = pos[~new_group] - pos[np.nonzero(~new_group)[0] - 1]
    # occurrence ranges per block
    occ_block_start = occ_bounds[bstart]
    occ_block_end = occ_bounds[bend]

    # posting-block metadata from the SAME group arrays the buffers encode
    # (tf_per_group ≡ the tf column of the posting build, g_dl ≡ dl), so
    # the fused build's derived postings are value-identical to a direct
    # encode_bucket_frame pass — same reduceat over the same sequences
    return pd.DataFrame(
        {
            "term": block_term,
            "bucket": bucket,
            "field": UNSCOPED_FIELD,  # caller overwrites per (bucket, field)
            "block_id": block_idx,
            "n": n_per_block,
            "first_doc_id": first_doc,
            "last_doc_id": last_doc,
            "doc_deltas": _encode_ranges(doc_gaps, gap_starts, gap_ends, codec),
            "tfs": _encode_ranges(tf_per_group, grp_starts, grp_ends, codec),
            "dls": _encode_ranges(g_dl, grp_starts, grp_ends, codec),
            "pos_deltas": _encode_ranges(
                pos_delta, occ_block_start, occ_block_end, codec
            ),
            "cf": np.add.reduceat(tf_per_group, bstart).astype(np.int64),
            "max_tf": np.maximum.reduceat(tf_per_group, bstart).astype(np.int32),
            "min_dl": np.minimum.reduceat(g_dl, bstart).astype(np.int32),
        }
    )[_POSITION_COLS]


def decode_positions_block(
    row,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One position-block row → (doc_ids, tfs, dls, flat_positions).

    ``flat_positions`` is occurrence-level, doc-major; split boundaries
    are ``cumsum(tfs)``.  All segment arithmetic, no per-doc loop."""
    from anisearch_model_spark.index.codec import decode_values

    n = int(row["n"] if isinstance(row, dict) else row.n)
    first = int(row["first_doc_id"] if isinstance(row, dict) else row.first_doc_id)
    get = (lambda k: row[k]) if isinstance(row, dict) else (lambda k: getattr(row, k))
    deltas = decode_values(get("doc_deltas")).astype(np.int64)
    doc_ids = np.empty(n, dtype=np.int64)
    doc_ids[0] = first
    if n > 1:
        doc_ids[1:] = first + np.cumsum(deltas)
    tfs = decode_values(get("tfs")).astype(np.int64)
    dls = decode_values(get("dls")).astype(np.int64)
    d = decode_values(get("pos_deltas")).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
    cs = np.cumsum(d)
    base = np.repeat(cs[starts] - d[starts], tfs)
    return doc_ids, tfs, dls, cs - base


def fused_tokenize_positions(docs_bucketed: DataFrame,
                             field_col: str | None = None,
                             codec: str = "varint") -> DataFrame:
    """Tokenize + position-encode each doc-range partition in ONE
    ``mapInPandas`` pass (every bucket whole within one partition, zero
    shuffle, only compressed blocks cross Arrow).  The blocks carry the
    posting-only metadata (cf, max_tf, min_dl) too, so the postings table
    derives from this one pass by a columnar copy
    (index/build.write_buckets)."""
    sel = ["bucket", "doc_id", "text"] + ([field_col] if field_col else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            occ = positions_frame(pdf["doc_id"], pdf["text"])
            meta_cols = ["doc_id", "bucket"] + ([field_col] if field_col else [])
            occ = occ.merge(
                pdf[meta_cols].drop_duplicates("doc_id"), on="doc_id", how="left"
            )
            occ["field"] = occ[field_col] if field_col else UNSCOPED_FIELD
            frames.append(occ)
        if not frames:
            yield pd.DataFrame(columns=_POSITION_COLS)
            return
        all_occ = pd.concat(frames, ignore_index=True)
        outs = []
        for (_b, fld), grp in all_occ.groupby(["bucket", "field"], sort=True):
            enc = encode_positions_bucket(grp, codec=codec)
            enc["field"] = fld
            outs.append(enc[_POSITION_COLS])
        yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
            columns=_POSITION_COLS
        )

    return docs_bucketed.select(*sel).mapInPandas(
        run, schema=POSITIONS_FULL_SCHEMA)


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, "positions_meta.json")


def positions_meta(index_dir: str) -> dict | None:
    path = _meta_path(index_dir)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def positions_ready(index_dir: str) -> tuple[bool, str]:
    """(ready, reason) — positions are usable iff the meta stamp exists
    and covers EXACTLY the committed manifest's bucket-id set with the
    current tokenizer.  Every write path re-stamps after its manifest
    commit, so drift means a write that skipped the stamp (recode_index,
    or a crash between the commit and the stamp)."""
    meta = positions_meta(index_dir)
    if meta is None:
        return False, "no positions built (run build_positions)"
    if meta.get("tokenizer_version") != TOKENIZER_VERSION:
        return False, "positions built with a different tokenizer version"
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    want = sorted(int(b) for b in manifest.get("buckets", {}))
    have = sorted(int(b) for b in meta.get("buckets", []))
    if want != have:
        return False, (
            "positions are stale: built over buckets "
            f"{have[:5]}{'...' if len(have) > 5 else ''} but the manifest "
            f"now lists {want[:5]}{'...' if len(want) > 5 else ''} — "
            "run build_positions to repair them"
        )
    return True, ""


def build_positions(spark: SparkSession, index_dir: str) -> dict:
    """Repair the positions table of the committed snapshot: tokenize
    only manifest buckets that have doc_map rows but no
    ``positions/bucket=N`` directory (every bucket after
    ``recode_index``), with the build's kernel and the index's own codec
    (stats.json — a bucket's positions and postings share one), then
    stamp.  Every write path keeps positions in step itself, so on a
    ready or merely unstamped index this is a re-stamp that builds 0
    buckets.  Idempotent and resumable: the stamp (commit point) is
    written LAST, after directories of bucket ids the manifest no longer
    lists are removed."""
    from anisearch_model_spark.index.build import write_bucket_partitions
    from anisearch_model_spark.index.docmap import BUCKETED_SCHEMA

    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    with open(os.path.join(index_dir, "stats.json"), encoding="utf-8") as f:
        stats = json.load(f)
    field_col = stats.get("field_col")
    codec = stats.get("codec", "varint")
    buckets = sorted(int(b) for b in manifest.get("buckets", {}))
    pos_root = os.path.join(index_dir, "positions")
    doc_map_root = os.path.join(index_dir, "doc_map")
    todo = [
        b for b in buckets
        if os.path.isdir(os.path.join(doc_map_root, f"bucket={b}"))
        and not os.path.isdir(os.path.join(pos_root, f"bucket={b}"))
    ]
    if todo:
        # a compacted bucket's doc_map dir can hold several files: cluster
        # by bucket so the kernel sees every bucket whole
        docs = (
            spark.read.schema(BUCKETED_SCHEMA).parquet(doc_map_root)
            .filter(F.col("bucket").isin(todo)).repartition("bucket")
        )
        write_bucket_partitions(
            fused_tokenize_positions(docs, field_col=field_col, codec=codec),
            pos_root)
    stamp_positions_meta(index_dir, codec, buckets, field_col)
    return {"buckets_built": len(todo), "buckets_total": len(buckets)}


def stamp_positions_meta(index_dir: str, codec: str, buckets,
                         field_col: str | None) -> None:
    """Commit point of positions: drop superseded bucket dirs (ids not in
    ``buckets``, the manifest's bucket ids) and atomically write the meta
    stamp covering exactly ``buckets``.  Every write path calls it right
    after its manifest commit; ``build_positions`` after its repair."""
    import shutil

    buckets = sorted(int(b) for b in buckets)
    pos_root = os.path.join(index_dir, "positions")
    keep = {f"bucket={b}" for b in buckets}
    if os.path.isdir(pos_root):
        for name in os.listdir(pos_root):
            if name.startswith("bucket=") and name not in keep:
                shutil.rmtree(os.path.join(pos_root, name), ignore_errors=True)
    meta = {
        "buckets": buckets,
        "codec": codec,
        "tokenizer_version": TOKENIZER_VERSION,
        "field_col": field_col,
    }
    mpath = _meta_path(index_dir)
    with open(mpath + ".tmp", "w", encoding="utf-8") as f:
        json.dump(meta, f, indent=2, sort_keys=True)
    os.replace(mpath + ".tmp", mpath)
