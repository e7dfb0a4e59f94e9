"""Stable docID assignment + deterministic doc-range bucketing (doc_map).

The reference has NO stable document identity — its embedding matrix row i
is positionally aligned with corpus DataFrame row i and looked up with
``df.iloc[idx]`` (``src/api.py:430-431``), which silently breaks under any
re-sort.  Here identity is explicit and partition-independent:

    doc_id = rank of (conv_id, turn_idx) in global lexicographic order.

At 10^12-turn scale a single ``row_number() OVER (ORDER BY ...)`` window is
a one-reducer sort, so we implement zipWithIndex semantics over an
explicitly DETERMINISTIC range bucketing:

  1. boundary sample: rows where xxhash64(conv_id, turn_idx) % k == 0 —
     a deterministic pseudo-random sample (Spark's own RangePartitioner
     seeds its sampler with the RDD id, so its boundaries change between
     runs; ours are a pure function of the data);
  2. boundaries = every (sample/num_buckets)-th sampled key, sorted on
     the driver (sample size ≈ 128·num_buckets keys — bounded);
  3. bucket = #boundaries ≤ (conv_id, turn_idx) — for ≤ 512 boundaries
     this is ONE whole-stage-codegen sum of comparisons (no Python
     worker, no Arrow transfer of the text column); past that the plan
     would bloat linearly, so a vectorized searchsorted pandas UDF takes
     over with identical semantics;
  4. per-bucket counts from a map-side partial aggregate over the two
     KEY columns only (never a materialized shuffle of the corpus);
  5. ONE hash shuffle on bucket co-locates each whole bucket, then
     doc_id = offsets[bucket] + row_number() over (bucket | conv, turn)
     — the window reuses the shuffle's clustering, adding only the sort.

The assignment — and the bucket layout — depend only on the key ordering
(Spark's binary UTF8 string order == Unicode code-point order for valid
UTF-8): identical across parallelism levels AND across re-runs, which is
what makes resumable builds and local[8]-vs-local[32] rank identity
possible.  The input is scanned twice (counts pass, then the write pass)
— both passes are pure column-pruned JVM scans, which beats the previous
design's full-corpus persist + two Python/Arrow round-trips of every
text row (the dominant per-core memory-bandwidth consumer at 8+ local
cores).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DOC_MAP_SCHEMA = (
    "doc_id long, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

BUCKETED_SCHEMA = DOC_MAP_SCHEMA + ", bucket int"

_SAMPLE_PER_BUCKET = 128

# above this many boundaries the codegen comparison-sum stops being sane
# (plan literals grow linearly; same policy as similarity.py's
# broadcast-matrix switch) and the searchsorted pandas UDF takes over
_MAX_EXPR_BOUNDS = 512

_INPUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _boundaries(transcripts: DataFrame, num_buckets: int,
                total: int | None = None) -> list[tuple[str, int]]:
    """num_buckets-1 deterministic split keys (ascending); ``total`` is
    the row count when the caller already has it."""
    if num_buckets <= 1:
        return []
    if total is None:
        total = transcripts.count()
    target_sample = _SAMPLE_PER_BUCKET * num_buckets
    k = max(1, total // max(target_sample, 1))
    sampled = (
        transcripts.select("conv_id", "turn_idx")
        .filter(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(k)) == 0)
        .collect()
    )
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in sampled)
    if len(keys) < num_buckets:
        return keys[:-1] if keys else []
    step = len(keys) / num_buckets
    return [keys[int(i * step)] for i in range(1, num_buckets)]


def _bucket_expr(bounds: list[tuple[str, int]]) -> Column:
    """bucket = bisect_right(bounds, (conv_id, turn_idx)) as one
    whole-stage-codegen expression — a balanced ``when()`` tree, i.e.
    binary search: each row evaluates ~log2(n) string comparisons, not
    n (a flat comparison-sum measured 7× slower at 64 buckets on 2M
    rows; the expression has ~2n nodes either way, but CASE short-
    circuits per row while a sum evaluates every term)."""
    conv, turn = F.col("conv_id"), F.col("turn_idx")

    def node(lo: int, hi: int) -> Column:
        # bucket value for keys known to land in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        bc, bt = bounds[mid]
        # bounds[mid] ≤ key  →  bucket ≥ mid+1
        le = (conv > F.lit(bc)) | ((conv == F.lit(bc)) & (turn >= F.lit(bt)))
        return F.when(le, node(mid + 1, hi)).otherwise(node(lo, mid))

    return node(0, len(bounds)).cast("int")


def _bucket_of(conv: np.ndarray, turn: np.ndarray,
               bounds: list[tuple[str, int]]) -> np.ndarray:
    """Vectorized bucket = bisect_right(bounds, (conv, turn)) — the
    large-bucket-count fallback kernel (identical semantics to
    ``_bucket_expr``, O(log n) per row).

    The turn tie-break for rows whose conv EQUALS a boundary conv is one
    searchsorted per distinct colliding boundary conv (≤ num_buckets of
    them), never a per-row Python loop — boundary convs are popular keys
    by construction (they were sampled), so the colliding row count can
    be large even when the distinct-conv count is tiny."""
    if not bounds:
        return np.zeros(len(conv), dtype="int32")
    b_conv = np.array([b[0] for b in bounds], dtype=object)
    lo = np.searchsorted(b_conv, conv, side="left")
    hi = np.searchsorted(b_conv, conv, side="right")
    out = hi.astype("int32")
    eq = np.nonzero(lo < hi)[0]
    if len(eq):
        b_turn = np.array([b[1] for b in bounds], dtype="int64")
        turn_eq = turn.astype("int64")
        for l in np.unique(lo[eq]):
            m = eq[lo[eq] == l]
            h = int(hi[m[0]])
            out[m] = l + np.searchsorted(
                b_turn[int(l):h], turn_eq[m], side="right"
            )
    return out


def _with_bucket(df: DataFrame, bounds: list[tuple[str, int]],
                 cols: list[str]) -> DataFrame:
    """``cols`` + bucket; JVM expression when the boundary list is small
    enough, vectorized pandas searchsorted beyond."""
    spark = df.sparkSession
    if len(bounds) <= _MAX_EXPR_BOUNDS:
        return df.select(*cols).withColumn("bucket", _bucket_expr(bounds))

    bbounds = spark.sparkContext.broadcast(bounds)

    def add_bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.copy()
            pdf["bucket"] = _bucket_of(
                pdf["conv_id"].to_numpy(dtype=object),
                pdf["turn_idx"].to_numpy(),
                bbounds.value,
            )
            yield pdf

    in_schema = df.select(*cols).schema
    out_schema = in_schema.add("bucket", "integer")
    return df.select(*cols).mapInPandas(add_bucket, schema=out_schema)


def bucketed_corpus(
    transcripts: DataFrame, num_buckets: int, total: int | None = None
) -> tuple[DataFrame, dict[int, int], dict[int, int]]:
    """→ (bucketed+doc_id'd DataFrame, offsets, counts).

    The returned DataFrame has BUCKETED_SCHEMA; every bucket's rows are
    whole within one shuffle partition, sorted by (conv_id, turn_idx),
    with doc_id = global rank.  NOT persisted — the plan is one
    column-pruned scan + one shuffle; callers that consume it more than
    once persist it themselves (``_cached_parent`` is set to None for
    caller compatibility).

    ``total``: the input's row count when the caller already has it —
    the boundary sample then skips its count, and an input that lands in
    one bucket (no boundaries) needs no counting pass at all."""
    bounds = _boundaries(transcripts, num_buckets, total)

    # per-bucket counts: map-side partial aggregate over the two key
    # columns only — the corpus text never moves for the counting pass
    if not bounds and total is not None:
        counts = {0: int(total)}
    else:
        counts = {
            int(r["bucket"]): r["cnt"]
            for r in _with_bucket(transcripts, bounds, ["conv_id", "turn_idx"])
            .groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
        }
    for b in range(num_buckets):
        counts.setdefault(b, 0)
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]

    omap = F.create_map(
        *[F.lit(x) for b in sorted(offsets) for x in (b, offsets[b])])
    w = Window.partitionBy("bucket").orderBy("conv_id", "turn_idx")
    with_ids = (
        _with_bucket(transcripts, bounds, _INPUT_COLS)
        # the window below requires clustering by bucket — this exchange
        # satisfies it, so Catalyst adds only the per-partition sort
        .repartition(num_buckets, "bucket")
        .withColumn(
            "doc_id",
            (omap[F.col("bucket")].cast("long")
             + F.row_number().over(w) - 1).cast("long"),
        )
        .select("doc_id", *_INPUT_COLS, "bucket")
    )
    with_ids._cached_parent = None
    return with_ids, offsets, counts


def assign_doc_ids(transcripts: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → + doc_id.

    Deterministic: doc_id is the dense 0-based rank under
    ``ORDER BY conv_id, turn_idx`` regardless of input partitioning,
    cluster size, or run (see module docstring).
    """
    spark = transcripts.sparkSession
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 1)
    with_ids, _offsets, _counts = bucketed_corpus(transcripts, num_partitions)
    out = with_ids.drop("bucket")
    out._cached_parent = None
    return out
