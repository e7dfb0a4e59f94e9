"""E2E rank-identity: distributed engine vs single-node oracle (the
north-rule correctness gate, BASELINE.json:2,6,14).

The oracle (pure pandas/NumPy BM25, query/oracle.py) stands in for the
reference's single-node scorer (src/test.py:140-218).  Top-k docIDs must
match exactly and scores must be BIT-identical (same float64 kernel, same
ascending-term summation order)."""

import numpy as np
import pandas as pd
import pytest

from anisearch_model_spark.query.engine import IndexStore, topk_bmw, topk_exhaustive
from anisearch_model_spark.query.oracle import OracleIndex

REFERENCE_QUERIES = [
    "hero battle magic world",          # common terms
    "robot space pirate music dance",   # mid-frequency
    "story",                            # single hot term
    "term0042 dragon",                  # rare + common mix
    "the and of a",                     # stopword-only → empty result
    "zzz-unseen-term",                  # unseen term → empty result
    "CAFÉ naïve HERO",                  # unicode + case folding
    "it's a hero they can't forget",    # contractions
    "visit http://example.com hero",    # URL stripped, 'hero' survives
    "shadow light king queen dragon night city",  # many terms
]


@pytest.fixture(scope="module")
def oracle(spark, index_dir):
    idx = IndexStore(spark, index_dir)
    docs = (
        idx.doc_map.select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    return OracleIndex(docs)


@pytest.fixture(scope="module")
def index(spark, index_dir):
    return IndexStore(spark, index_dir)


@pytest.mark.parametrize("q", REFERENCE_QUERIES)
def test_exhaustive_rank_identity(index, oracle, q, each_path):
    expect = oracle.topk(q, 10)
    for path in each_path():
        got = topk_exhaustive(index, q, 10).toPandas()
        assert got["doc_id"].tolist() == expect["doc_id"].tolist(), path
        assert got["rank"].tolist() == expect["rank"].tolist(), path
        if len(expect):
            np.testing.assert_array_equal(  # BIT-identical, not approx
                got["score"].to_numpy(), expect["score"].to_numpy(), path
            )


@pytest.mark.parametrize("q", REFERENCE_QUERIES[:4] + REFERENCE_QUERIES[6:8])
def test_bmw_matches_exhaustive(index, oracle, q, each_path):
    expect = oracle.topk(q, 10)
    for path in each_path():
        got = topk_bmw(index, q, 10).toPandas()
        assert got["doc_id"].tolist() == expect["doc_id"].tolist(), path
        if len(expect):
            np.testing.assert_array_equal(
                got["score"].to_numpy(), expect["score"].to_numpy(), path)


def test_bmw_skips_block_decodes(spark, tmp_path):
    """True block-max pruning: blocks are decoded ONLY when a segment's
    metadata bound survives θ — on a corpus with real score variance the
    pruned path decompresses a small fraction of the matching blocks.

    10 high-tf docs at the head of the doc range fill the heap in the
    first segment; every later segment's bound (tf=1, uniform dl) falls
    below θ, so the descending-bound walk BREAKS before decoding any of
    their ~80 blocks.  (On a score-flat corpus every bound ties the top
    score and nothing can prune — that's inherent to block-max WAND, not
    a defect; see the θ-tie test below for why equal bounds must score.)"""
    import pandas as pd
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index
    from pyspark.sql import functions as F

    rows = [(f"a{i:03d}", 0, "user", " ".join(["hero"] * 20), None, None)
            for i in range(10)]  # superdocs: tf=20 → fill the heap early
    rows += [(f"f{i:05d}", 0, "user", f"hero w{i % 7} w{(i + 1) % 7} w2 w3",
              None, None) for i in range(10000)]  # tf=1, uniform dl
    tr = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                    "tool", "ts"]),
        schema=TRANSCRIPT_SCHEMA,
    )
    d = str(tmp_path / "bmw_idx")
    build_index(spark, tr, d, num_buckets=1)
    idx = IndexStore(spark, d)
    total_blocks = idx.postings.filter(F.col("term") == "hero").count()
    acc = spark.sparkContext.accumulator(0)
    got = topk_bmw(idx, "hero", 10, decode_counter=acc).toPandas()
    exact = topk_exhaustive(idx, "hero", 10).toPandas()
    assert got["doc_id"].tolist() == exact["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), exact["score"].to_numpy())
    assert total_blocks >= 70  # the fixture really has many matching blocks
    # true skip: only the heap-filling first segment's ~8 blocks decode
    assert 0 < acc.value <= 0.2 * total_blocks, (acc.value, total_blocks)


def test_bmw_duplicate_doc_theta_ties(spark, tmp_path):
    """ADVICE r1 (medium): a doc can score EXACTLY θ and still win the
    (score DESC, doc_id ASC) tie-break against the heap minimum, so a
    ``bound <= θ`` segment prune returns wrong doc_ids.

    Adversarial layout (one bucket, 1024-doc segments):
      * docs 0-9    ("alpha", dl=1)  → score S, LOW ids     [segment 0]
      * docs 10-3009 filler, no query terms                 [segments 0-2]
      * docs 3010-3019 ("alpha", dl=1) → score S, HIGH ids  [segment 2]
      * doc 3020   ("beta", dl=1, df=1 → idf_beta > idf_alpha) → T > S

    Segment 2's bound is S+T (beta block) so it's processed FIRST and
    fills the heap with T + nine HIGH-id S docs (θ = S).  Segment 0's
    bound is EXACTLY S (alpha block: max_tf==tf, min_dl==dl everywhere) —
    a ``<=`` prune skips it and loses the nine LOW-id S docs that win the
    tie-break.  Exhaustive top-10 = T + docs 0-8."""
    import pandas as pd
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index.store import build_index

    rows = []
    for i in range(10):  # low-id θ-tie docs
        rows.append((f"a{i:03d}", 0, "user", "alpha", None, None))
    for i in range(3000):  # filler: no query terms, spans segment 1
        rows.append((f"f{i:04d}", 0, "user",
                     f"filler text number {i} about habitats", None, None))
    for i in range(10):  # high-id θ-tie docs
        rows.append((f"m{i:03d}", 0, "user", "alpha", None, None))
    rows.append(("t000", 0, "user", "beta", None, None))  # score T > S
    tr = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                    "tool", "ts"]),
        schema=TRANSCRIPT_SCHEMA,
    )
    d = str(tmp_path / "tie_idx")
    build_index(spark, tr, d, num_buckets=1)
    idx = IndexStore(spark, d)
    q = "alpha beta"
    exact = topk_exhaustive(idx, q, 10).toPandas()
    pruned = topk_bmw(idx, q, 10).toPandas()
    # the fixture really ties at θ: 20 docs share score S, one scores T>S
    assert exact["score"].nunique() == 2
    assert exact["doc_id"].tolist()[1:] == list(range(9))  # low ids must win
    assert pruned["doc_id"].tolist() == exact["doc_id"].tolist()
    np.testing.assert_array_equal(
        pruned["score"].to_numpy(), exact["score"].to_numpy()
    )


def test_stats_match_oracle(index, oracle):
    assert index.stats["n_docs"] == oracle.n_docs
    assert index.stats["avgdl"] == pytest.approx(oracle.avgdl, abs=1e-12)


def test_search_metadata_join(spark, index):
    from anisearch_model_spark.query.engine import search

    out = search(index, "hero battle", k=5).toPandas()
    assert list(out.columns) == ["rank", "doc_id", "conv_id", "turn_idx", "role", "score"]
    assert out["rank"].tolist() == list(range(1, len(out) + 1))
    assert out["conv_id"].notna().all()
