"""Metadata-filtered search (query/filtered.py): Lucene filter-clause
semantics — the predicate restricts candidates, never rescales scores;
the selective (broadcast-mask BMW) and broad (semi-join) strategies are
rank-identical; pagination and the serve route compose."""

import json

from pyspark.sql import functions as F

from anisearch_model_spark.query.engine import IndexStore, score_matches
from anisearch_model_spark.query.filtered import search_filtered


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def test_filter_restricts_to_predicate(spark, index_dir):
    idx = IndexStore(spark, index_dir)
    out = search_filtered(idx, "hero battle magic", "role = 'user'", k=10)
    rows = out.collect()
    assert rows, "expected user-role matches in the synthetic corpus"
    assert all(r["role"] == "user" for r in rows)


def test_filter_never_rescales_scores(spark, index_dir):
    """A doc's score with the filter == its unfiltered score (stats stay
    full-corpus; the filter only masks admission)."""
    idx = IndexStore(spark, index_dir)
    q = "hero battle magic"
    unfiltered = {r["doc_id"]: r["score"]
                  for r in score_matches(idx, q).collect()}
    filtered = _rows(search_filtered(idx, q, "role = 'user'", k=25,
                                     with_metadata=False))
    assert filtered
    for _rank, doc_id, score in filtered:
        assert score == unfiltered[doc_id]


def test_mask_and_join_strategies_identical(spark, index_dir, each_path):
    """max_mask_ids=0 forces the broad semi-join strategy; pruned=False
    forces it through the exhaustive scorer; the default takes the
    broadcast-mask BMW branch — all three must agree bit-for-bit."""
    idx = IndexStore(spark, index_dir)
    q = "hero battle magic"
    where = "role = 'user' AND turn_idx >= 1"
    join = _rows(search_filtered(idx, q, where, k=20, with_metadata=False,
                                 max_mask_ids=0))
    assert join
    for path in each_path():  # the mask (``allow``) branch on each path
        mask = _rows(search_filtered(idx, q, where, k=20,
                                     with_metadata=False))
        exh = _rows(search_filtered(idx, q, where, k=20, with_metadata=False,
                                    pruned=False))
        assert mask == join == exh, path


def test_no_matching_docs_returns_empty(spark, index_dir):
    idx = IndexStore(spark, index_dir)
    out = search_filtered(idx, "hero", "role = 'no-such-role'", k=5)
    assert out.collect() == []


def test_filtered_pagination_slices_one_ranking(spark, index_dir):
    idx = IndexStore(spark, index_dir)
    q = "hero battle"
    where = "role = 'user'"
    full = _rows(search_filtered(idx, q, where, k=10, with_metadata=False))
    p2 = _rows(search_filtered(idx, q, where, k=5, page=2,
                               with_metadata=False))
    assert p2 == full[5:10]


def test_filter_composes_with_tombstones(spark, index_dir, tmp_path,
                                         each_path):
    """A tombstoned doc stays out even when the filter admits it — the
    two masks intersect.  Uses a scratch copy so the shared index keeps
    no tombstones."""
    import shutil

    from anisearch_model_spark.index.tombstones import delete_docs

    scratch = str(tmp_path / "idx_filtered_tomb")
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.copytree(index_dir, scratch)
    idx = IndexStore(spark, scratch)
    q = "hero battle magic"
    where = "role = 'user'"
    pre = _rows(search_filtered(idx, q, where, k=10, with_metadata=False))
    assert pre
    dead = pre[0][1]
    delete_docs(spark, scratch, [dead])
    for path in each_path():
        post = _rows(search_filtered(idx, q, where, k=10,
                                     with_metadata=False))
        assert dead not in [d for _r, d, _s in post], path
        # survivors keep their exact scores, ranks close up by one
        assert [(d, s) for _r, d, s in post[:5]] == \
            [(d, s) for _r, d, s in pre[1:6]], path


def test_bad_predicate_is_an_admission_error(spark, index_dir):
    """Unknown column → AnalysisException from F.expr, which the serve
    loop maps to an {"error": ...} response without dying."""
    import io

    from anisearch_model_spark.cli import serve_loop

    reqs = "\n".join([
        json.dumps({"query": "hero", "where": "no_such_col = 1", "k": 3}),
        json.dumps({"query": "hero battle", "where": "role = 'user'",
                    "k": 3}),
    ]) + "\n"
    out = io.StringIO()
    served = serve_loop(spark, index_dir, io.StringIO(reqs), out, log=False)
    lines = [json.loads(x) for x in out.getvalue().strip().split("\n")]
    assert served == 2
    assert "error" in lines[0]
    assert lines[1]["results"]
    assert all(r["role"] == "user" for r in lines[1]["results"])
