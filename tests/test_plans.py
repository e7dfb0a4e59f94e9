"""Plan-quality assertions: pushdown, pruning, join strategy, top-k plan.

These encode the '.explain and iterate' loop as tests so plan regressions
fail CI instead of silently costing a shuffle at scale."""

from pyspark.sql import functions as F

from anisearch_model_spark.plans.inspect import (
    has_pushed_filter,
    read_schema_columns,
    takes_ordered_and_project,
    uses_broadcast_join,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey")
    assert has_pushed_filter(q, "l_shipdate")


def test_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity")
    schemas = read_schema_columns(q)
    assert schemas and all(set(s) <= {"l_orderkey", "l_quantity"} for s in schemas)


def test_small_dim_join_broadcasts(spark):
    s = spark.read.parquet(f"{SF}/supplier.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    q = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    assert uses_broadcast_join(q)


def test_topk_plans_as_take_ordered(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    q = o.orderBy(F.desc("o_totalprice")).limit(10)
    assert takes_ordered_and_project(q)


def test_query_engine_postings_scan_prunes_terms(spark, index_dir):
    """The BM25 scorer's postings scan must push the term filter down."""
    from anisearch_model_spark.query.engine import IndexStore

    idx = IndexStore(spark, index_dir)
    scan = idx.postings.filter(F.col("term").isin(["hero", "battle"]))
    assert has_pushed_filter(scan, "term")


def test_dictionary_lookup_pushes_term_filter(spark, index_dir):
    """term_dfs must serve cache misses from a FILTERED dictionary scan
    (Parquet pushdown), never an unconditional full-vocab toPandas —
    Heaps' law makes the full load a driver OOM at corpus scale."""
    from anisearch_model_spark.query.engine import IndexStore

    idx = IndexStore(spark, index_dir)
    lookup = idx.dictionary.filter(F.col("term").isin(["hero", "battle"])).select(
        "term", "df"
    )
    assert has_pushed_filter(lookup, "term")
    # results unchanged vs a full scan, misses negative-cached
    got = idx.term_dfs(["hero", "zzz-absent", "battle"])
    full = {
        r["term"]: r["df"]
        for r in idx.dictionary.filter(
            F.col("term").isin(["hero", "battle"])
        ).collect()
    }
    assert got == full
    assert idx._df_cache[(None, "zzz-absent")] is None
    # repeat lookup is served from cache (no new terms enter the dict)
    before = dict(idx._df_cache)
    idx.term_dfs(["hero", "zzz-absent"])
    assert idx._df_cache == before


def test_df_cache_lru_bound(spark, index_dir):
    """The dictionary cache is LRU-bounded: evicting beyond the bound
    keeps results unchanged (evicted terms just re-fetch)."""
    from anisearch_model_spark.query.engine import IndexStore

    idx = IndexStore(spark, index_dir, df_cache_max=2)
    full = idx.term_dfs(["hero", "battle", "magic"])  # 3 inserts → evicts
    assert len(idx._df_cache) <= 2
    again = idx.term_dfs(["hero", "battle", "magic"])  # re-fetch evicted
    assert again == full and len(idx._df_cache) <= 2
    # the most-recently-used key survived the eviction
    assert (None, "magic") in idx._df_cache


def test_tokens_relation_shuffles_compact_rows_only(spark):
    """The (doc_id, token) relation — the largest intermediate in every
    content-dedup operator — must never itself be shuffled: rows are
    already unique per (doc_id, token) after explode(array_distinct(...)),
    so a .distinct() there would exchange the whole relation for nothing.
    The plan's ONE Exchange is the pre-explode repartition of the COMPACT
    doc rows — it must sit BELOW the Generate (a few-file scan is a
    few-partition scan; without it the entire hash pipeline serializes
    onto one task — measured 13s → 98s at sf0.1)."""
    from anisearch_model_spark.operators.dedup import _tokens
    from anisearch_model_spark.plans.inspect import (
        exchange_count,
        formatted_plan,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    for toks in (_tokens(d, "doc_id", "text"),
                 _tokens(d, "doc_id", "text", shingle_size=3)):
        assert exchange_count(toks) == 1
        plan = formatted_plan(toks)
        # the operator list in a formatted plan is top-down: the Generate
        # (explode) consumes the Exchange's output, so it prints first
        gen = plan.index("Generate")
        exch = plan.index("Exchange")
        assert gen < exch, "repartition must happen BEFORE the explode"


def test_simhash_has_single_generate(spark):
    """simhash must not explode tokens × bits: the only Generate in the
    plan is the token explode — the per-bit votes are conditional-sum agg
    columns over the un-exploded relation (1/16th the shuffle)."""
    from anisearch_model_spark.operators.dedup import simhash
    from anisearch_model_spark.plans.inspect import generate_count

    d = spark.read.parquet(f"{SF}/documents.parquet")
    assert generate_count(simhash(d)) == 1


def test_metadata_attach_is_local(spark, index_dir, monkeypatch):
    """r6: search()'s metadata attach happens driver-side (pandas merge
    over the collected ≤ pages·k rank rows + the pyarrow stored-fields
    fetch) — the returned frame is a LOCAL relation: no join, no
    exchange, no scan left in its plan (the pre-r6 shape was a broadcast
    join; a sort-merge join here was the original scale bug).  Pinned
    to the cluster scoring path (bound 0), so the attach is local even
    when scoring was not."""
    from anisearch_model_spark.plans.inspect import formatted_plan
    from anisearch_model_spark.query import engine
    from anisearch_model_spark.query.engine import IndexStore, search

    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    idx = IndexStore(spark, index_dir)
    q = search(idx, "hero battle", k=5)
    plan = formatted_plan(q)
    assert "Join" not in plan and "Exchange" not in plan
    assert "doc_map" not in plan


def test_phrase_and_boolean_metadata_attach_is_local(spark, index_dir,
                                                     monkeypatch):
    """phrase_search and boolean_search share search()'s metadata attach
    (engine.attach_metadata): the returned frame is a LOCAL relation —
    no join, no exchange, no doc_map scan in its plan.  Pinned to the
    cluster scoring path (bound 0)."""
    from anisearch_model_spark.plans.inspect import formatted_plan
    from anisearch_model_spark.query import engine
    from anisearch_model_spark.query.boolean import boolean_search
    from anisearch_model_spark.query.engine import IndexStore
    from anisearch_model_spark.query.phrase import phrase_search

    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    idx = IndexStore(spark, index_dir)
    for q in (phrase_search(idx, "hero battle", k=5),
              boolean_search(idx, "+hero battle -dragon", k=5)):
        plan = formatted_plan(q)
        assert "Join" not in plan and "Exchange" not in plan
        assert "doc_map" not in plan


def test_metadata_probe_prunes_doc_map_partitions(spark, index_dir,
                                                  monkeypatch):
    """search()'s metadata probe must never scan the whole doc_map for a
    k-row probe.  r6: the unfiltered probe is a bounded DRIVER-side
    pyarrow read of the candidate buckets' files — the query plan
    carries NO doc_map scan at all; the filtered/oversized fallback is
    the pruned cluster scan (PartitionFilter on bucket + pushed doc_id
    IN), asserted on the probe frame directly.  Pinned to the cluster
    scoring path (bound 0), whose ranked frame is a Spark plan."""
    from pyspark.sql import functions as F

    from anisearch_model_spark.plans.inspect import (
        formatted_plan, has_partition_filter)
    from anisearch_model_spark.query import engine
    from anisearch_model_spark.query.engine import (
        IndexStore, probe_doc_map, search, topk_bmw)

    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    idx = IndexStore(spark, index_dir)
    q = search(idx, "hero battle", k=5)
    assert "doc_map" not in formatted_plan(q)  # local fetch, no scan
    # fallback (meta_filter forces the cluster path) still prunes
    top = topk_bmw(idx, "hero battle", 5)
    _local, meta = probe_doc_map(
        idx, top, ["doc_id", "conv_id"],
        meta_filter=F.length("text") > 0)
    assert has_partition_filter(meta, "bucket")
    assert has_pushed_filter(meta, "doc_id")


def test_metadata_fetch_falls_back_when_bucket_unlisted(spark, index_dir,
                                                       monkeypatch):
    """A candidate bucket directory the driver cannot list makes the
    local stored-fields fetch answer "don't know" (None) and search()
    falls back to the pruned cluster scan — same rows, metadata intact,
    never silently empty metadata."""
    import os

    from anisearch_model_spark.query.engine import (
        IndexStore, fetch_doc_rows, search)

    idx = IndexStore(spark, index_dir)
    want = search(idx, "hero battle", k=10).toPandas()
    assert len(want) and want["conv_id"].notna().all()
    hidden = f"bucket={idx.buckets_for([int(want['doc_id'].iloc[0])])[0]}"
    idx.doc_map  # the snapshot's path list is cached before the fault
    real_isdir = os.path.isdir

    def isdir(p):
        return False if str(p).endswith(os.sep + hidden) else real_isdir(p)

    monkeypatch.setattr(os.path, "isdir", isdir)
    ids = [int(x) for x in want["doc_id"]]
    assert fetch_doc_rows(idx, ids, ["doc_id", "conv_id"]) is None
    got = search(idx, "hero battle", k=10).toPandas()
    assert got.equals(want)


def test_tombstone_mask_adds_no_join(spark, index_dir, tmp_path,
                                    monkeypatch):
    """The live-docs filter is applied INSIDE the per-bucket fold kernel
    (broadcast numpy mask, r6 score_matches shape) — the exhaustive
    scorer's plan must carry NO join for tombstones (the pre-r6 shape
    was a broadcast LEFT ANTI; a SortMergeJoin would be the scale bug),
    and the dead ids must still be gone from the results.  Pinned to
    the cluster scoring path (bound 0)."""
    import shutil
    from anisearch_model_spark.index.tombstones import delete_docs
    from anisearch_model_spark.plans.inspect import (
        formatted_plan, uses_sort_merge_join)
    from anisearch_model_spark.query import engine
    from anisearch_model_spark.query.engine import IndexStore, topk_exhaustive

    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    d = str(tmp_path / "tomb_plan_idx")
    shutil.copytree(index_dir, d)
    delete_docs(spark, d, [0, 1, 2])
    q = topk_exhaustive(IndexStore(spark, d), "hero battle", 5)
    plan = formatted_plan(q)
    assert "LeftAnti" not in plan and "Join" not in plan
    assert not uses_sort_merge_join(q)
    got = {int(r["doc_id"]) for r in q.collect()}
    assert not got & {0, 1, 2}


def test_boolean_plan_is_one_scan_one_kernel(spark, index_dir, tmp_path,
                                             monkeypatch):
    """boolean_topk with required, optional AND prohibited clauses on an
    index with tombstones plans as ONE postings scan feeding one
    per-bucket kernel: clause satisfaction, prohibition and the
    tombstone mask are doc masks inside it — no Join (prohibited or
    tombstone anti-join), no Aggregate (per-doc fold), no second scan —
    and the results keep the boolean semantics exactly.  Pinned to the
    cluster scoring path (bound 0); the driver path runs the same
    kernel (tests/test_driver_query.py)."""
    import re
    import shutil

    from anisearch_model_spark.index.tombstones import delete_docs
    from anisearch_model_spark.plans.inspect import formatted_plan
    from anisearch_model_spark.query import engine
    from anisearch_model_spark.query.boolean import boolean_topk
    from anisearch_model_spark.query.engine import IndexStore, score_matches

    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)

    d = str(tmp_path / "bool_plan_idx")
    shutil.copytree(index_dir, d)
    idx = IndexStore(spark, d)
    hero = {int(r["doc_id"]) for r in score_matches(idx, "hero").collect()}
    delete_docs(spark, d, sorted(hero)[:3])
    q = boolean_topk(idx, "+hero battle -dragon", k=10)
    plan = formatted_plan(q)
    assert "Join" not in plan and "Aggregate" not in plan
    scans = re.findall(r"^\(\d+\) Scan parquet.*\n.*\n.*\nLocation: .*",
                       plan, re.M)
    assert len(scans) == 1 and "/postings/" in scans[0]
    # semantics: live docs with hero, without dragon, scored over
    # (hero, battle) by the exhaustive scorer; score DESC, doc_id ASC
    need = {int(r["doc_id"]) for r in score_matches(idx, "hero").collect()}
    bad = {int(r["doc_id"]) for r in score_matches(idx, "dragon").collect()}
    scored = [(float(r["score"]), int(r["doc_id"]))
              for r in score_matches(idx, "hero battle").collect()
              if int(r["doc_id"]) in need and int(r["doc_id"]) not in bad]
    want = sorted(scored, key=lambda x: (-x[0], x[1]))[:10]
    got = [(r["score"], r["doc_id"]) for r in q.orderBy("rank").collect()]
    assert want and got == want
    assert not {doc for _, doc in got} & set(sorted(hero)[:3])


def test_facet_counts_plan_pushes_terms_and_prunes_columns(spark, index_dir):
    """facet_counts must inherit the scorer's term-IN postings pushdown
    (cost = query-term posting volume, not corpus size) and its doc_map
    scan must prune to (doc_id, facet col) — facets never read text."""
    from anisearch_model_spark.query.engine import IndexStore
    from anisearch_model_spark.query.facets import facet_counts
    from anisearch_model_spark.plans.inspect import (
        formatted_plan, read_schema_columns)

    idx = IndexStore(spark, index_dir)
    df = facet_counts(idx, "hero battle", facet_col="role")
    plan = formatted_plan(df)
    assert "PushedFilters" in plan and "term" in plan
    doc_map_schemas = [
        cols for cols in read_schema_columns(df) if "role" in cols
    ]
    assert doc_map_schemas and all(
        "text" not in cols for cols in doc_map_schemas
    ), f"doc_map scan reads more than it needs: {doc_map_schemas}"


def test_fused_search_prunes_field_partitions(spark):
    """search_fields_fused scores each weighted field against ITS OWN
    partition directories — the postings scan must carry a field
    PartitionFilter, never read unweighted fields."""
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, score_matches
    from anisearch_model_spark.plans.inspect import has_partition_filter

    import tempfile

    d = tempfile.mkdtemp(prefix="fuseplan") + "/idx"
    tr = gen_transcripts(spark, 600, seed=11)
    build_index(spark, tr, d, num_buckets=2, field_col="role")
    idx = IndexStore(spark, d)
    scored = score_matches(idx, "hero battle", field="user")
    assert has_partition_filter(scored, "field")


def test_bm25f_plan_prunes_terms_fields_and_takes_ordered(spark):
    """search_bm25f's postings scan must push the term IN filter and
    carry a field PartitionFilter scoped to the WEIGHTED fields only;
    the final page must plan as TakeOrderedAndProject (limit-first),
    and the tiny tombstone exclusion must never appear as a sort-merge
    join."""
    import tempfile

    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.plans.inspect import (
        formatted_plan, has_partition_filter, has_pushed_filter,
        takes_ordered_and_project)
    from anisearch_model_spark.query.bm25f import search_bm25f
    from anisearch_model_spark.query.bucket import raw_postings
    from anisearch_model_spark.query.engine import IndexStore

    d = tempfile.mkdtemp(prefix="bm25fplan") + "/idx"
    tr = gen_transcripts(spark, 600, seed=11)
    build_index(spark, tr, d, num_buckets=2, field_col="role")
    idx = IndexStore(spark, d)
    raw = raw_postings(idx, ["hero", "battle"], ["user"])
    assert has_pushed_filter(raw, "term")
    assert has_partition_filter(raw, "field")
    out = search_bm25f(idx, "hero battle", {"user": 1.0}, k=5)
    assert takes_ordered_and_project(out)
    assert "SortMergeJoin" not in formatted_plan(out)


def test_synonym_search_plan_prunes_members_and_takes_ordered(spark, index_dir):
    """search_synonyms decodes ONLY member-term postings (term IN
    pushdown covers the expanded member set) and pages limit-first."""
    from anisearch_model_spark.plans.inspect import (
        has_pushed_filter, takes_ordered_and_project)
    from anisearch_model_spark.query.engine import IndexStore
    from anisearch_model_spark.query.bucket import raw_postings
    from anisearch_model_spark.query.synonyms import search_synonyms

    idx = IndexStore(spark, index_dir)
    raw = raw_postings(idx, ["hero", "battle", "magic"])
    assert has_pushed_filter(raw, "term")
    out = search_synonyms(idx, "hero", {"hero": ["battle"]}, k=5)
    assert takes_ordered_and_project(out)


def test_bucketed_corpus_is_pure_jvm_single_exchange(spark):
    """Doc-id assignment (index/docmap.py) must stay JVM-only: one
    Exchange (the bucket co-location shuffle the window reuses), one
    Window, ZERO Python/Arrow operators — the text column crossing the
    Arrow boundary twice per build was the dominant per-core bandwidth
    cost of the old design, and a reappearing ArrowEvalPython/MapInPandas
    node here is that regression."""
    from anisearch_model_spark.index.docmap import bucketed_corpus
    from anisearch_model_spark.plans.inspect import exchange_count

    tr = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            F.format_string("c-%06d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("doc").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    df, _offsets, counts = bucketed_corpus(tr, 8)
    assert sum(counts.values()) == tr.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert exchange_count(df) == 1
    assert "Window" in plan
    assert "Python" not in plan and "Arrow" not in plan
