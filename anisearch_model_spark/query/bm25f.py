"""True BM25F: field-weighted BM25 at entity (conversation) granularity.

``search_fields_fused`` (query/multifield.py) is CombSUM fusion — it
scores each field independently and sums the per-field BM25 scores.
That double-counts term-frequency saturation: a term matching in two
fields saturates twice, once per field.  Robertson's BM25F (Robertson,
Zaragoza & Taylor, CIKM 2004 — "Simple BM25 extension to multiple
weighted fields") fixes this by combining term frequencies FIRST and
saturating ONCE:

    tf̃(t, e)  = Σ_rows  w_f · tf(t, d) / B_f(d)
    B_f(d)    = 1 − b + b · dl(d) / avgdl_f
    score(e)  = Σ_t  idf_e(t) · tf̃ · (k1 + 1) / (k1 + tf̃)
    idf_e(t)  = ln(1 + (N_e − df_e + 0.5) / (df_e + 0.5))

where rows are the entity's per-field documents (here: a conversation's
turns, field = role), ``avgdl_f`` is the field sub-corpus average length
(stats.json per-field stats, index/store.py::finalize_metadata), and the
idf is ENTITY-level: ``N_e`` = number of conversations in the corpus,
``df_e`` = conversations containing the term in any weighted field —
both exact, ``df_e`` derived from the decoded candidate relation itself
(every posting of every query term is decoded anyway, so the distinct
entity count per term is free — no extra index pass).

The reference scores each synopsis column independently and fuses by
first-seen dedup (``/root/reference/src/api.py:316-349,427-455``);
BM25F is the principled multi-field relevance model that subsumes it.

Scale shape: cost ∝ query-term posting volume across the weighted
fields, never corpus size — the postings scan prunes on ``term IN``
(Parquet row-group stats) and on the ``field`` partition directories;
the shuffles are the (conv, term) fold and one window over the matched
(conv, term) relation.  Nothing is driver-materialized except the final
page (``rank_and_paginate`` → TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.query.bucket import raw_postings


def search_bm25f(index, query_text: str, weights: dict[str, float],
                 k: int = 10, page: int = 1,
                 params: BM25Params | None = None) -> DataFrame:
    """BM25F top-k conversations: (rank, conv_id, score).

    ``weights`` maps field → weight (w_f above); fields must exist in the
    index's field-qualified stats.  Exact by construction — the full
    match set is scored (no per-field truncation), so an entity weak in
    every single field but present in many can still win.
    """
    from anisearch_model_spark.query.engine import (
        IndexStore, local_frame, parse_query)
    from anisearch_model_spark.query.multifield import rank_and_paginate

    assert isinstance(index, IndexStore) and weights
    params = params or BM25Params()
    k1, b = params.k1, params.b
    spark = index.spark
    out_schema = "rank long, conv_id string, score double"
    terms = sorted(set(parse_query(query_text)))
    if not terms:
        return local_frame(spark, None, out_schema)
    fields = sorted(weights)
    # validates field-qualification and pins avgdl_f at plan time
    avgdl = {f: index.field_stats(f)[1] for f in fields}
    n_entities = index.n_entities()

    raw = raw_postings(index, terms, fields)
    # tombstones as a LIVENESS FLAG, not a pre-filter: a dead turn's tf
    # must not contribute to its conversation's score (results are live
    # immediately), but the entity df below deliberately keeps counting
    # conversations whose only matches are dead — corpus stats don't
    # shift until purge, the same contract as the dictionary df and
    # n_entities (engine.py)
    tomb = index.tombstones
    if len(tomb):
        tdf = spark.createDataFrame(
            [(int(t),) for t in tomb], "doc_id long"
        ).withColumn("dead", F.lit(True))
        raw = raw.join(F.broadcast(tdf), "doc_id", "left").withColumn(
            "dead", F.coalesce(F.col("dead"), F.lit(False)))
    else:
        raw = raw.withColumn("dead", F.lit(False))
    meta = index.doc_map.select("doc_id", "conv_id")
    cand = raw.join(meta, "doc_id")

    wmap = F.create_map(*[F.lit(x) for f in fields for x in (f, weights[f])])
    amap = F.create_map(*[F.lit(x) for f in fields for x in (f, avgdl[f])])
    tfn = F.when(F.col("dead"), F.lit(0.0)).otherwise(
        wmap[F.col("field")] * F.col("tf")
        / (1.0 - b + b * F.col("dl") / amap[F.col("field")])
    )
    # cross-field combine per (conversation, term), folded in a FIXED
    # (field, doc_id) order — float64 addition is order-sensitive and a
    # bare sum() is partition-order-dependent (same policy as
    # engine.score_matches / multifield.fuse_weighted); dead rows fold
    # +0.0 (exact identity), keeping live contributions bit-stable
    tft = (
        cand.withColumn("tfn", tfn)
        .groupBy("conv_id", "term")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("field", "doc_id", "tfn"))),
                F.lit(0.0),
                lambda acc, x: acc + x["tfn"],
            ).alias("tft")
        )
    )
    # entity df as a window over the matched (conv, term) relation — one
    # pass over the already-decoded candidates, no second index scan;
    # counts dead-only convs too (stats-stable until purge, see above)
    tft = tft.withColumn(
        "df_e", F.count("*").over(Window.partitionBy("term")))
    # a (conv, term) pair whose every contribution was dead scores zero —
    # drop it so fully-deleted conversations leave the result set
    tft = tft.filter(F.col("tft") > 0.0)
    # log1p matches the numpy kernel's numerics (bm25_idf); full-precision
    # float64 out — the sorted fold keeps the sum deterministic, and
    # display/oracle rounding belongs to the caller, not the scorer
    idf = F.log1p((F.lit(float(n_entities)) - F.col("df_e") + 0.5)
                  / (F.col("df_e") + 0.5))
    tscore = idf * F.col("tft") * (k1 + 1.0) / (k1 + F.col("tft"))
    scored = (
        tft.withColumn("tscore", tscore)
        .groupBy("conv_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "tscore"))),
                F.lit(0.0),
                lambda acc, x: acc + x["tscore"],
            ).alias("score")
        )
    )
    return rank_and_paginate(
        scored, page, k, "score", "conv_id"
    ).select("rank", "conv_id", "score")
