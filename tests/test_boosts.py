"""Query-time term boosting (Lucene term^2 semantics): idf pre-scaling
must keep BOTH scorers identical to each other, reduce to plain BM25 at
boost 1.0, and reorder rankings monotonically."""

import json

from anisearch_model_spark.query.engine import (
    IndexStore, topk_bmw, topk_exhaustive)


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def test_unit_boosts_reduce_to_plain(spark, index_dir, each_path):
    idx = IndexStore(spark, index_dir)
    q = "hero battle magic"
    for path in each_path():
        plain = _rows(topk_exhaustive(idx, q, k=15))
        unit = _rows(topk_exhaustive(idx, q, k=15,
                                     boosts={"hero": 1.0, "battle": 1.0}))
        assert unit == plain, path


def test_bmw_matches_exhaustive_under_boosts(spark, index_dir, each_path):
    """The block-max bounds derive from the boost-scaled idf map, so
    pruning must stay exact — bit-identical output at any weights, on
    both scoring paths."""
    idx = IndexStore(spark, index_dir)
    q = "hero battle magic"
    boosts = {"hero": 3.0, "battle": 0.25, "magic": 1.5}
    got = []
    for path in each_path():
        bmw = _rows(topk_bmw(idx, q, k=20, boosts=boosts))
        assert bmw == _rows(topk_exhaustive(idx, q, k=20, boosts=boosts)), \
            path
        got.append(bmw)
    assert got[0] == got[1]


def test_boost_reorders_toward_boosted_term(spark, index_dir):
    idx = IndexStore(spark, index_dir)
    base = {d: s for _, d, s in _rows(topk_exhaustive(
        idx, "hero battle", k=200))}
    boosted = {d: s for _, d, s in _rows(topk_exhaustive(
        idx, "hero battle", k=200, boosts={"hero": 2.0}))}
    common = set(base) & set(boosted)
    assert common
    # every doc's score strictly increases iff it matches 'hero'
    hero_only = {d for _, d, s in _rows(topk_exhaustive(
        idx, "hero", k=10**6))}
    for d in common:
        if d in hero_only:
            assert boosted[d] > base[d]
        else:
            assert boosted[d] == base[d]


def test_boosts_serve_route(spark, index_dir):
    import io

    from anisearch_model_spark.cli import serve_loop

    reqs = "\n".join([
        json.dumps({"query": "hero battle", "k": 3,
                    "boosts": {"hero": 2.0}}),
        json.dumps({"query": "hero", "boosts": "hero:2", "phrase": True}),
    ]) + "\n"
    out = io.StringIO()
    served = serve_loop(spark, index_dir, io.StringIO(reqs), out, log=False)
    lines = [json.loads(ln) for ln in out.getvalue().splitlines()]
    assert served == 2
    assert len(lines[0]["results"]) == 3
    assert "error" in lines[1] and "plain term" in lines[1]["error"]
