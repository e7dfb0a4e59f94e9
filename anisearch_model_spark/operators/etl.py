"""Corpus-prep (ETL) operators — Spark-first re-expressions of the
reference's pandas merge pipeline (``src/merge_datasets.py``).

Each function is the columnar/declarative equivalent of a row-at-a-time
reference operator, so Catalyst gets full pushdown/pruning through them:

  P3/P4  value + array-contains filters      merge_datasets.py:423-432,740-751
  P6/P7  null-fill + any-nonempty row filter merge_datasets.py:654-658; common.py:40
  F12    unwanted-phrase blanking            merge_datasets.py:98-114,472-505
  F13    numbered-list blanking              merge_datasets.py:117-137
  F14    priority title coalesce             merge_datasets.py:141-180
  J4     first-match lookup join             merge_datasets.py:223-320
  A1     deterministic key dedup             merge_datasets.py:435-449
  A2     row-wise cross-column dedup         merge_datasets.py:324-349
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def filter_array_not_contains(df: DataFrame, array_col: str, banned: list[str]) -> DataFrame:
    """P4: drop rows whose array column contains any banned value —
    columnar version of the reference's per-row ast.literal_eval + any() loop."""
    cond = None
    for b in banned:
        c = F.array_contains(F.col(array_col), b)
        cond = c if cond is None else (cond | c)
    return df.filter(~F.coalesce(cond, F.lit(False)))


def fill_empty(df: DataFrame, cols: list[str]) -> DataFrame:
    """P6: null → '' (reference fillna, common.py:40)."""
    return df.fillna({c: "" for c in cols})


def any_nonempty_filter(df: DataFrame, cols: list[str]) -> DataFrame:
    """P7: keep rows with ≥1 non-blank text column (merge_datasets:654-658)."""
    conds = [F.length(F.trim(F.coalesce(F.col(c), F.lit("")))) > 0 for c in cols]
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    return df.filter(cond)


def blank_phrases(df: DataFrame, col: str, phrases: list[str]) -> DataFrame:
    """F12: blank a text cell when it contains any unwanted phrase."""
    cond = None
    for p in phrases:
        c = F.col(col).contains(p)
        cond = c if cond is None else (cond | c)
    return df.withColumn(col, F.when(F.coalesce(cond, F.lit(False)), "").otherwise(F.col(col)))


def blank_numbered_lists(df: DataFrame, col: str) -> DataFrame:
    """F13: blank cells that look like numbered lists (regex per
    merge_datasets.py:117-137)."""
    rx = r"^.*?(\d+[-\d]*[.)]\s+.+?)(\n|$)"
    return df.withColumn(
        col, F.when(F.col(col).rlike(rx), "").otherwise(F.col(col))
    )


def coalesce_priority(df: DataFrame, out_col: str, cols: list[str],
                      invalid: tuple[str, ...] = ("", "unknown title")) -> DataFrame:
    """F14: first valid value across columns in priority order
    (consolidate_titles: nullif-chain + ordered coalesce)."""
    parts = []
    for c in cols:
        e: Column = F.col(c)
        for bad in invalid:
            e = F.nullif(e, F.lit(bad))
        parts.append(e)
    return df.withColumn(out_col, F.coalesce(*parts))


def dedup_by_key(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """A1 made deterministic: keep the first row per key under an explicit
    total order (the reference's drop_duplicates keeps arrival order, which
    is not reproducible distributed)."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.asc(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_across_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """A2: within each row, null-out repeated values across the column
    list, keeping the first occurrence (remove_duplicate_infos,
    merge_datasets.py:324-349) — expressed columnar as a when-chain."""
    out = df
    for i, c in enumerate(cols[1:], start=1):
        dup = None
        for prev in cols[:i]:
            cond = F.col(c) == F.col(prev)
            dup = cond if dup is None else (dup | cond)
        out = out.withColumn(
            c, F.when(F.coalesce(dup, F.lit(False)), F.lit(None)).otherwise(F.col(c))
        )
    return out


def first_match_lookup(base: DataFrame, lookup: DataFrame, base_keys: list[str],
                       lookup_keys: list[str], value_col: str, out_col: str) -> DataFrame:
    """J4: for each base row, probe the lookup table with base_keys in
    priority order against lookup_keys; take the first non-null value.

    The reference does this as an O(rows × keys) nested loop
    (find_additional_info / add_additional_info).  Here: one broadcast
    hash join per (base_key × lookup_key) pair + ordered coalesce —
    sequential-priority semantics preserved, but each probe is a
    broadcast join, never a driver loop.
    """
    out = base
    joined_cols = []
    for bi, bk in enumerate(base_keys):
        for li, lk in enumerate(lookup_keys):
            alias = f"_j{bi}_{li}"
            right = lookup.select(
                F.col(lk).alias(f"{alias}_key"), F.col(value_col).alias(alias)
            ).dropna(subset=[f"{alias}_key"])
            right = dedup_by_key(right, [f"{alias}_key"], [alias])
            out = out.join(
                F.broadcast(right), out[bk] == right[f"{alias}_key"], "left"
            ).drop(f"{alias}_key")
            joined_cols.append(alias)
    out = out.withColumn(out_col, F.coalesce(*[F.col(c) for c in joined_cols]))
    return out.drop(*joined_cols)
