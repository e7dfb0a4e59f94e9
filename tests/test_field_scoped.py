"""Field-qualified index: role-scoped search (reference per-column index
analog, src/sbert.py:336-356 + src/api.py:416-421).

Contract: a field-scoped query scores against the FIELD'S sub-corpus
(its own n_docs/avgdl/df) and must rank-match a single-node oracle built
over only that field's docs; the postings scan must prune to the field's
partition directories; and qualifying the index must NOT change unscoped
results (fields partition the doc set, so per-doc partials are
untouched)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anisearch_model_spark.query.engine import IndexStore, topk_bmw, topk_exhaustive
from anisearch_model_spark.query.oracle import OracleIndex


@pytest.fixture(scope="module")
def field_index_dir(spark, tmp_path_factory):
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index

    d = str(tmp_path_factory.mktemp("fidx") / "main")
    tr = gen_transcripts(spark, 3000, seed=42)
    build_index(spark, tr, d, num_buckets=6, field_col="role")
    return d


@pytest.fixture(scope="module")
def field_index(spark, field_index_dir):
    return IndexStore(spark, field_index_dir)


def _role_oracle(index: IndexStore, role: str) -> OracleIndex:
    docs = (
        index.doc_map.filter(F.col("role") == role)
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    return OracleIndex(docs)


@pytest.mark.parametrize("role", ["user", "assistant"])
@pytest.mark.parametrize("q", ["hero battle magic world", "story"])
def test_role_scoped_rank_identity(field_index, role, q, each_path):
    expect = _role_oracle(field_index, role).topk(q, 10)
    for path in each_path():
        got = topk_exhaustive(field_index, q, 10, field=role).toPandas()
        assert got["doc_id"].tolist() == expect["doc_id"].tolist(), path
        np.testing.assert_array_equal(
            got["score"].to_numpy(), expect["score"].to_numpy(), path
        )
        # scoped results really differ from unscoped (the filter did
        # something)
        unscoped = topk_exhaustive(field_index, q, 10).toPandas()
        assert got["score"].tolist() != unscoped["score"].tolist(), path


def test_role_scoped_bmw_matches_exhaustive(field_index, each_path):
    q = "hero battle magic world"
    for path in each_path():
        exact = topk_exhaustive(field_index, q, 10,
                                field="assistant").toPandas()
        pruned = topk_bmw(field_index, q, 10, field="assistant").toPandas()
        assert pruned["doc_id"].tolist() == exact["doc_id"].tolist(), path
        np.testing.assert_array_equal(
            pruned["score"].to_numpy(), exact["score"].to_numpy(), path
        )


def test_unscoped_results_unchanged_by_qualification(spark, field_index, index_dir):
    """Splitting blocks by field must not perturb unscoped scoring —
    bit-identical to the plain index built from the same corpus."""
    plain = IndexStore(spark, index_dir)
    q = "robot space pirate music dance"
    a = topk_exhaustive(plain, q, 10).toPandas()
    b = topk_exhaustive(field_index, q, 10).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    np.testing.assert_array_equal(a["score"].to_numpy(), b["score"].to_numpy())


def test_field_scan_prunes_partitions(field_index):
    """field is a partition column of the postings layout: the role filter
    must show up as a PartitionFilter (directory pruning), and the term
    filter as a pushed data filter."""
    from anisearch_model_spark.plans.inspect import has_partition_filter, has_pushed_filter

    scan = field_index.postings.filter(
        (F.col("field") == "assistant") & F.col("term").isin(["hero"])
    )
    assert has_partition_filter(scan, "field")
    assert has_pushed_filter(scan, "term")


def test_search_role_kwarg(field_index):
    from anisearch_model_spark.query.engine import search

    out = search(field_index, "hero battle", k=5, role="user").toPandas()
    assert (out["role"] == "user").all()
    assert out["rank"].tolist() == list(range(1, len(out) + 1))


def test_unqualified_index_rejects_role(spark, index_dir):
    idx = IndexStore(spark, index_dir)
    with pytest.raises(ValueError, match="not field-qualified"):
        topk_exhaustive(idx, "hero", 5, field="assistant")


def test_search_fields_parity_with_pandas_reference(spark, field_index):
    """search_fields = the reference's per-column search shape
    (src/api.py:316-349) with real per-field BM25: parity against a pandas
    reference that scores each role against its OWN sub-corpus, takes
    per-role top-k, merges, dedups by conversation keeping the best field
    hit, and ranks."""
    import pandas as pd
    from anisearch_model_spark.query.multifield import search_fields

    q = "hero battle magic world"
    k, cand_k = 8, 8 * 5
    fields = ["user", "assistant"]
    meta = (
        field_index.doc_map.select("doc_id", "conv_id", "role", "text")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    cands = []
    for f in fields:
        sub = meta[meta["role"] == f]
        oracle = _role_oracle(field_index, f)
        top = oracle.topk(q, cand_k).assign(field=f)
        cands.append(top[["field", "doc_id", "score"]])
    j = pd.concat(cands).merge(meta[["doc_id", "conv_id"]], on="doc_id")
    j = j.sort_values(["score", "field", "doc_id"],
                      ascending=[False, True, True], kind="mergesort")
    best = j.drop_duplicates("conv_id", keep="first")
    expect = best.sort_values(["score", "doc_id"], ascending=[False, True],
                              kind="mergesort").head(k).reset_index(drop=True)

    got = search_fields(field_index, q, fields, k=k).toPandas()
    assert got["conv_id"].tolist() == expect["conv_id"].tolist()
    assert got["doc_id"].tolist() == expect["doc_id"].tolist()
    assert got["field"].tolist() == expect["field"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), expect["score"].to_numpy())
    assert got["rank"].tolist() == list(range(1, len(got) + 1))
