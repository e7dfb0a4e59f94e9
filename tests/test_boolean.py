"""Boolean (+required -prohibited optional) query semantics
(query/boolean.py): Lucene-classic clause behavior over the BM25 index."""

import pytest
from pyspark.sql import functions as F

from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
from anisearch_model_spark.index.store import build_index
from anisearch_model_spark.query.boolean import (
    boolean_search,
    boolean_topk,
    parse_boolean,
)
from anisearch_model_spark.query.engine import IndexStore, topk_exhaustive


@pytest.fixture(scope="module")
def idx(spark, index_dir):
    return IndexStore(spark, index_dir)


@pytest.fixture(scope="module")
def mini(spark, tmp_path_factory):
    rows = [
        ("c0", 0, "user", "alpha beta gamma", None, None),
        ("c1", 0, "user", "alpha beta", None, None),
        ("c2", 0, "user", "alpha gamma", None, None),
        ("c3", 0, "user", "beta gamma", None, None),
        ("c4", 0, "user", "alpha", None, None),
    ]
    d = str(tmp_path_factory.mktemp("bool") / "idx")
    spark_df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    build_index(spark, spark_df, d, num_buckets=1)
    i = IndexStore(spark, d)
    convs = i.doc_map.toPandas().set_index("doc_id")["conv_id"]
    return i, convs


def _convs(mini, paths, q, **kw):
    """The conv_ids a boolean request matches; both scoring paths
    (``each_path``) must agree on them."""
    i, convs = mini
    got = []
    for _path in paths():
        got.append({convs[d] for d in
                    boolean_topk(i, q, k=10, **kw).toPandas()["doc_id"]})
    assert got[0] == got[1], q
    return got[0]


def test_parse_boolean_clauses():
    assert parse_boolean("+alpha beta -gamma") == (
        ["alpha"], ["beta"], ["gamma"]
    )


def test_parse_boolean_precedence():
    # required beats prohibited beats optional for a repeated term
    assert parse_boolean("+x -x x") == (["x"], [], [])
    assert parse_boolean("-y y") == ([], [], ["y"])


def test_parse_boolean_returns_raw_stems():
    req, opt, pro = parse_boolean("-state-of-the-art alpha +bat*")
    assert pro == ["state-of-the-art"]  # stems stay raw until expansion
    assert req == ["bat*"] and opt == ["alpha"]


def test_no_markers_identical_to_exhaustive(spark, idx, each_path):
    q = "hero battle dragon"
    for path in each_path():
        a = boolean_topk(idx, q, 10).collect()
        b = topk_exhaustive(idx, q, 10).collect()
        assert [(r["rank"], r["doc_id"], r["score"]) for r in a] == \
            [(r["rank"], r["doc_id"], r["score"]) for r in b], path
        assert a, path


def test_required_filters(mini, each_path):
    assert _convs(mini, each_path, "+beta alpha") == {"c0", "c1", "c3"}


def test_required_scores_too(mini):
    """A required-only query ranks by the required term's BM25 (c4's
    'alpha'-only doc is shortest, so it scores highest)."""
    i, convs = mini
    got = boolean_topk(i, "+alpha", k=10).toPandas()
    assert {convs[d] for d in got["doc_id"]} == {"c0", "c1", "c2", "c4"}
    assert convs[got["doc_id"].iloc[0]] == "c4"


def test_prohibited_excludes(mini, each_path):
    assert _convs(mini, each_path, "alpha -gamma") == {"c1", "c4"}


def test_combined_clauses(mini, each_path):
    assert _convs(mini, each_path, "+alpha +beta -gamma") == {"c1"}


def test_pure_negative_matches_nothing(mini, each_path):
    assert _convs(mini, each_path, "-alpha") == set()


def test_required_absent_term_empty(mini, each_path):
    assert _convs(mini, each_path, "+zzzunseen alpha") == set()


def test_prohibited_absent_term_noop(mini, each_path):
    assert _convs(mini, each_path, "alpha -zzzunseen") == \
        {"c0", "c1", "c2", "c4"}


def test_boolean_search_metadata(spark, idx):
    rows = boolean_search(idx, "+hero battle -dragon", 5).collect()
    assert all(r["conv_id"] for r in rows)
    # no returned doc may contain the prohibited term (returned rows are
    # live docs, so the live match sets are the complete doc-id sets)
    from anisearch_model_spark.query.engine import score_matches

    bad = {r["doc_id"] for r in score_matches(idx, "dragon").collect()}
    assert all(r["doc_id"] not in bad for r in rows)
    # and every returned doc contains the required term
    need = {r["doc_id"] for r in score_matches(idx, "hero").collect()}
    assert all(r["doc_id"] in need for r in rows)


def test_boolean_field_scoped(spark, tmp_path, each_path):
    rows = [
        ("c0", 0, "user", "alpha beta", None, None),
        ("c0", 1, "assistant", "alpha beta", None, None),
        ("c1", 0, "assistant", "alpha gamma", None, None),
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=1, field_col="role")
    i = IndexStore(spark, d)
    roles = i.doc_map.toPandas().set_index("doc_id")["role"]
    for path in each_path():
        got = boolean_topk(i, "+alpha -beta", k=10,
                           field="assistant").toPandas()
        assert len(got) == 1, path
        assert all(roles[d] == "assistant" for d in got["doc_id"]), path


def test_boolean_respects_tombstones(spark, tmp_path, each_path):
    from anisearch_model_spark.index.tombstones import delete_docs

    rows = [
        ("c0", 0, "user", "alpha beta", None, None),
        ("c1", 0, "user", "alpha beta beta", None, None),
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, tr, d, num_buckets=1)
    i = IndexStore(spark, d)
    pre = boolean_topk(i, "+alpha beta", k=10).toPandas()
    assert len(pre) == 2
    dead = int(pre["doc_id"].iloc[0])
    delete_docs(spark, d, [dead])
    for path in each_path():
        post = boolean_topk(i, "+alpha beta", k=10).toPandas()
        assert post["doc_id"].tolist() == \
            [x for x in pre["doc_id"] if x != dead], path


def test_cli_info_and_recover(spark, tmp_path, capsys):
    """`info` and `recover` are sparkless metadata commands."""
    import json
    import os

    from anisearch_model_spark.cli import main
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA

    rows = [("c0", 0, "user", "alpha beta", None, None)]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), d,
                num_buckets=1)
    assert main(["info", "--index", d]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 1 and out["n_buckets"] == 1
    # one block table: positions ride in postings/, nothing to report
    assert out["tombstones"] == 0 and "positions" not in out
    assert out["format_version"] == 3
    assert not os.path.exists(os.path.join(d, "positions"))
    assert main(["recover", "--index", d]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["recovered"] is None

    # an append commits one dictionary delta file; compact folds it
    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.index.compact import compact_index
    from anisearch_model_spark.streaming.incremental import _append_batch

    def deltas():
        assert main(["info", "--index", d]) == 0
        return json.loads(
            capsys.readouterr().out.strip().splitlines()[-1])["dictionary_deltas"]

    assert deltas() == 0
    _append_batch(spark, spark.createDataFrame(
        [("c1", 0, "user", "gamma beta", None, None)], TRANSCRIPT_SCHEMA),
        d, BM25Params())
    assert deltas() == 1
    compact_index(spark, d)
    assert deltas() == 0


@pytest.fixture(scope="module")
def pat(spark, tmp_path_factory):
    rows = [
        ("c0", 0, "user", "bat cave alpha", None, None),
        ("c1", 0, "user", "batch job alpha", None, None),
        ("c2", 0, "user", "battle cry alpha", None, None),
        ("c3", 0, "user", "alpha only", None, None),
        ("c4", 0, "user", "bat batch", None, None),
    ]
    d = str(tmp_path_factory.mktemp("boolpat") / "idx")
    build_index(spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), d,
                num_buckets=1)
    i = IndexStore(spark, d)
    convs = i.doc_map.toPandas().set_index("doc_id")["conv_id"]
    return i, convs


def test_required_prefix_clause_is_or_within(pat, each_path):
    # +bat* = "must contain SOME bat-prefixed term"
    assert _convs(pat, each_path, "+bat* alpha") == {"c0", "c1", "c2", "c4"}


def test_two_required_prefix_clauses_and_between(pat, each_path):
    # +bat* +c* = some bat-term AND some c-term (cave / cry)
    assert _convs(pat, each_path, "+bat* +c*") == {"c0", "c2"}


def test_prohibited_prefix_excludes_any_expansion(pat, each_path):
    assert _convs(pat, each_path, "alpha -bat*") == {"c3"}


def test_required_multi_token_stem_still_all_required(pat, each_path):
    # "+bat-cave": each literal token its own AND clause
    assert _convs(pat, each_path, "+bat-cave alpha") == {"c0"}


def test_required_unmatchable_pattern_empty(pat, each_path):
    assert _convs(pat, each_path, "+zzz* alpha") == set()


def test_required_fuzzy_clause(pat, each_path):
    # batl~1 -> battle? lev(batl,battle)=2; batl~2 covers bat(1)/batch(2)/battle(2)
    assert _convs(pat, each_path, "+batl~2") == {"c0", "c1", "c2", "c4"}
    # only bat (distance 1)
    assert _convs(pat, each_path, "+batl~1") == {"c0", "c4"}


def test_optional_pattern_scores_like_plain_prefix(pat):
    i, _ = pat
    a = boolean_topk(i, "bat*", k=10).collect()
    from anisearch_model_spark.query.engine import topk_exhaustive as tke
    b = tke(i, "bat*", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
        [(r["doc_id"], r["score"]) for r in b]
