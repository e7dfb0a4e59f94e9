"""Positional postings: the ``pos_deltas`` column of the block table,
enabling exact-phrase queries without touching the BM25 hot path.

The reference engine has no phrase search at all (its retrieval is a
dense-vector cosine over whole descriptions, ``src/api.py:270-313``); a
lexical fulltext engine is expected to offer it.  Lucene keeps positions
in ``.pos`` files next to the ``.doc`` postings so BM25 scans never pay
for them; a columnar table gets the same split from column pruning:

    <index_dir>/postings/bucket=N/field=F/   blocks (index/build.BLOCK_SCHEMA)

Every posting block row also carries ``pos_deltas`` — flat
occurrence-level position gaps, doc-major (first position of a doc
absolute, subsequent ones delta-encoded), split at the same
``block_size``-doc boundaries as the doc/tf/dl buffers.  BM25 readers
project ``POSTINGS_SCHEMA`` and never read it; phrase readers project
``POSITIONS_SCHEMA`` from the same files.

Scale shape (this IS the main build's kernel, index/build.py):
  * ONE fused ``mapInPandas`` pass over the bucketed doc_map — tokenize +
    encode per bucket, ZERO shuffle of posting data;
  * written ``partitionBy(bucket, field)`` → phrase scans prune on the
    term IN pushdown + field directory pruning, score bucket-parallel;
  * positions are indices into the POST-stopword token stream, so "exact
    phrase" means *phrase with stopwords elided* — the only phrase
    semantics a stopword-eliding index can promise (and what Lucene with
    a stop filter gives).

Maintenance interplay: there is nothing to keep in step.  A bucket's
positions live in the same rows as its postings, so every write path
(build, append, purge, compaction, merge) that commits a
bucket's postings commits its positions, and phrase search sees the
same manifest snapshot as BM25.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from anisearch_model_spark.config import POSTING_BLOCK_SIZE
from anisearch_model_spark.functions.normalize import positions_frame
from anisearch_model_spark.index.build import BLOCK_SCHEMA, UNSCOPED_FIELD
from anisearch_model_spark.index.codec import decode_values, encode_ranges

# the phrase scorer's projection of the block table
POSITIONS_SCHEMA = (
    "term string, bucket int, field string, block_id int, n int, "
    "first_doc_id long, last_doc_id long, "
    "doc_deltas binary, tfs binary, dls binary, pos_deltas binary"
)

_BLOCK_COLS = [c.split()[0] for c in BLOCK_SCHEMA.split(", ")]


def encode_positions_bucket(pdf: pd.DataFrame,
                            block_size: int = POSTING_BLOCK_SIZE
                            ) -> pd.DataFrame:
    """One bucket's occurrence frame (doc_id, term, pos, doc_len, bucket)
    → block rows (index/build.BLOCK_SCHEMA).  Blocks split every
    ``block_size`` DOCS per term via numpy segment arithmetic over the
    whole bucket (no per-term Python loop)."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=_BLOCK_COLS)
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
    # (tf_per_group ≡ the tf column of a tf frame, g_dl ≡ dl), so the BM25
    # columns are value-identical to a direct codec.encode_bucket_frame
    # pass — same reduceat over the same sequences
    return pd.DataFrame(
        {
            "term": block_term,
            "bucket": bucket,
            "field": UNSCOPED_FIELD,  # caller overwrites per (bucket, field)
            "block_id": block_idx,
            "n": n_per_block,
            "first_doc_id": first_doc,
            "last_doc_id": last_doc,
            "doc_deltas": encode_ranges(doc_gaps, gap_starts, gap_ends),
            "tfs": encode_ranges(tf_per_group, grp_starts, grp_ends),
            "dls": encode_ranges(g_dl, grp_starts, grp_ends),
            "pos_deltas": encode_ranges(
                pos_delta, occ_block_start, occ_block_end),
            "cf": np.add.reduceat(tf_per_group, bstart).astype(np.int64),
            "max_tf": np.maximum.reduceat(tf_per_group, bstart).astype(np.int32),
            "min_dl": np.minimum.reduceat(g_dl, bstart).astype(np.int32),
        }
    )[_BLOCK_COLS]


def decode_positions_block(
    row,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One block row → (doc_ids, tfs, dls, flat_positions).

    ``flat_positions`` is occurrence-level, doc-major; split boundaries
    are ``cumsum(tfs)``.  All segment arithmetic, no per-doc loop."""
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


def tokenize_encode(batches: Iterable[pd.DataFrame],
                    field_col: str | None = None) -> pd.DataFrame:
    """The bucket kernel: doc_map frames (``bucket``, ``doc_id``,
    ``text`` [+ ``field_col``]) → their ``BLOCK_SCHEMA`` rows, one
    ``encode_positions_bucket`` pass per (bucket, field).

    The one tokenize+encode function of every write path: executors run
    it inside ``fused_tokenize_positions``' ``mapInPandas``, and the
    append's driver path (streaming/incremental.py) runs it on its
    collected micro-batch, so the two produce the same blocks by
    construction.  Memory: the batches' rows plus their occurrence frame
    (one row per kept token) and the encoded blocks."""
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
        return pd.DataFrame(columns=_BLOCK_COLS)
    all_occ = pd.concat(frames, ignore_index=True)
    outs = []
    # dropna=False: a doc whose field value is null still gets postings,
    # stored with a null field (Hive's default partition)
    for (_b, fld), grp in all_occ.groupby(["bucket", "field"], sort=True,
                                          dropna=False):
        enc = encode_positions_bucket(grp)
        enc["field"] = None if pd.isna(fld) else fld
        outs.append(enc[_BLOCK_COLS])
    return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
        columns=_BLOCK_COLS
    )


def fused_tokenize_positions(docs_bucketed: DataFrame,
                             field_col: str | None = None) -> DataFrame:
    """Tokenize + encode each doc-range partition in ONE ``mapInPandas``
    pass (every bucket whole within one partition, zero shuffle, only
    compressed blocks cross Arrow) into ``BLOCK_SCHEMA`` rows.  The
    per-partition work is ``tokenize_encode``, the same function the
    append's driver path calls."""
    sel = ["bucket", "doc_id", "text"] + ([field_col] if field_col else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield tokenize_encode(batches, field_col)

    return docs_bucketed.select(*sel).mapInPandas(
        run, schema=BLOCK_SCHEMA)


def build_positions(spark: SparkSession, index_dir: str) -> dict:
    """No-op: every write path writes positions with the postings, so
    there is never anything to build.  It stays because the benchmark
    scripts still call it.  Returns ``{"buckets_built": 0,
    "buckets_total": <manifest buckets>}``."""
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        n = len(json.load(f).get("buckets", {}))
    return {"buckets_built": 0, "buckets_total": n}
