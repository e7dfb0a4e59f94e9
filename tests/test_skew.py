"""Hot-term skew handling (SURVEY.md §4.2 / Phase 2 skew tests).

A term occurring in EVERY document (beyond Zipf-head — worst case) must
not concentrate work: its postings spread uniformly across doc-range
buckets, per-bucket posting counts stay balanced, and queries containing
the hot term remain rank-identical to the oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anisearch_model_spark.index.store import build_index
from anisearch_model_spark.query.engine import IndexStore, topk_exhaustive
from anisearch_model_spark.query.oracle import OracleIndex


@pytest.fixture(scope="module")
def skew_index(spark, tmp_path_factory):
    """Corpus where 'omnipresent' appears in every doc and 'mega' is
    duplicated many times within each doc."""
    rng = np.random.default_rng(5)
    n = 4000
    texts = [
        "omnipresent " + " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta", "mega mega mega"],
                       size=rng.integers(3, 20))
        )
        for _ in range(n)
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"conv-{i // 8:06d}" for i in range(n)],
            "turn_idx": [i % 8 for i in range(n)],
            "role": "user",
            "text": texts,
            "tool": None,
            "ts": pd.Timestamp("2025-01-01"),
        }
    )
    tr = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, role string, text string, "
             "tool string, ts timestamp"
    )
    d = str(tmp_path_factory.mktemp("skew") / "idx")
    build_index(spark, tr, d, num_buckets=8)
    return d, pdf


def test_hot_term_spread_across_buckets(spark, skew_index):
    d, _ = skew_index
    idx = IndexStore(spark, d)
    per_bucket = (
        idx.postings.filter(F.col("term") == "omnipresent")
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"))
        .toPandas()
    )
    assert len(per_bucket) == 8  # hot term present in EVERY bucket
    ratio = per_bucket["n"].max() / per_bucket["n"].mean()
    assert ratio < 1.5, f"hot-term postings skewed across buckets: {ratio}"


def test_checkpoint_skew_ratio_bounded(spark, skew_index):
    d, _ = skew_index
    cp = spark.read.parquet(f"{d}/checkpoints").toPandas()
    # skew_ratio = max/mean posting-list length per bucket; the hot term
    # dominates max but the per-bucket structure stays uniform
    assert (cp["skew_ratio"] >= 1.0).all()
    assert cp["postings_emitted"].max() / cp["postings_emitted"].mean() < 1.5


def test_hot_term_query_rank_identity(spark, skew_index, each_path):
    d, pdf = skew_index
    idx = IndexStore(spark, d)
    docs = (
        idx.doc_map.select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    oracle = OracleIndex(docs)
    for q in ["omnipresent", "omnipresent mega", "mega alpha"]:
        expect = oracle.topk(q, 10)
        for path in each_path():
            got = topk_exhaustive(idx, q, 10).toPandas()
            assert got["doc_id"].tolist() == expect["doc_id"].tolist(), \
                (q, path)
            if len(expect):
                np.testing.assert_array_equal(
                    got["score"].to_numpy(), expect["score"].to_numpy(),
                    (q, path)
                )
