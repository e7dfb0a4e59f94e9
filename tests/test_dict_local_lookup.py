"""The term_dfs driver-side fast path (footer-range pruned pyarrow read)
must be result-identical to the cluster-scan path it replaces, follow
dictionary rewrites, and fall back — not fail — when it cannot serve."""

import pyspark.sql.functions as F


def _spark_dfs(idx, terms, field=None):
    """The pre-r6 cluster-scan lookup, verbatim — the equivalence oracle."""
    d = idx.dictionary.filter(F.col("term").isin(terms))
    if field is not None:
        d = d.filter(F.col("field") == field)
    rows = d.groupBy("term").agg(F.sum("df").alias("df")).collect()
    return {r["term"]: int(r["df"]) for r in rows}


def test_local_lookup_matches_cluster_scan(spark, index_dir):
    from anisearch_model_spark.query.engine import IndexStore

    idx = IndexStore(spark, index_dir)
    vocab = [r["term"] for r in idx.dictionary.select("term").distinct()
             .orderBy("term").limit(50).collect()]
    assert vocab
    probe = vocab[::7] + ["zz-absent-term"]
    # the fast path itself (not via the cache)
    local = idx._term_dfs_local(probe, None)
    assert local == _spark_dfs(idx, probe)
    # through term_dfs: identical, absent term negative-cached
    got = idx.term_dfs(probe)
    assert got == local
    assert idx._df_cache[(None, "zz-absent-term")] is None
    # clear_caches drops the footer-range term index too
    assert idx._dict_ranges is not None
    idx.clear_caches()
    assert idx._dict_ranges is None and idx._dict_ranges_mtime is None
    assert idx.term_dfs(probe) == local


def test_local_lookup_field_scoped(spark, index_dir):
    from anisearch_model_spark.query.engine import IndexStore

    idx = IndexStore(spark, index_dir)
    fields = [r["field"] for r in
              idx.dictionary.select("field").distinct().collect()]
    terms = [r["term"] for r in idx.dictionary.select("term")
             .limit(8).collect()]
    for f in fields:
        assert idx._term_dfs_local(terms, f) == _spark_dfs(idx, terms, f)
    # a field no dictionary row carries → empty, same as the scan
    assert idx._term_dfs_local(terms, "no-such-field") == {}


def test_local_lookup_follows_dictionary_rewrite(spark, index_dir,
                                                 tmp_path):
    """A finalize_metadata dictionary rewrite must invalidate the cached
    footer ranges (dir mtime) so the next lookup sees the new files."""
    import os
    import shutil
    import time

    from anisearch_model_spark.query.engine import IndexStore

    d = str(tmp_path / "idx")
    shutil.copytree(index_dir, d)
    idx = IndexStore(spark, d)
    terms = [r["term"] for r in idx.dictionary.select("term")
             .limit(4).collect()]
    before = idx.term_dfs(terms)
    assert idx._dict_ranges is not None  # fast path populated the cache
    files_before = sorted(p for _, _, p in idx._dict_ranges)
    # rewrite the dictionary in a new layout (single file, same rows) —
    # what finalize_metadata/compaction do to the directory
    rows = idx.dictionary.toPandas()
    time.sleep(0.05)  # dir mtime granularity
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "dictionary"))
    idx._df_cache.clear()
    assert idx.term_dfs(terms) == before
    assert sorted(p for _, _, p in idx._dict_ranges) != files_before


def test_local_lookup_falls_back_safely(spark, index_dir):
    """Oversized term sets and unreadable dictionaries return None (the
    caller then runs the cluster scan) — never raise, never wrong."""
    from anisearch_model_spark.query.engine import IndexStore

    idx = IndexStore(spark, index_dir)
    too_many = [f"t{i}" for i in range(idx.LOCAL_DICT_MAX_TERMS + 1)]
    assert idx._term_dfs_local(too_many, None) is None
    idx_broken = IndexStore(spark, index_dir)
    idx_broken.index_dir = index_dir + "-does-not-exist"
    assert idx_broken._term_dfs_local(["a"], None) is None
