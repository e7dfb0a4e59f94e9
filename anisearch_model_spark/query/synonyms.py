"""Query-time synonym expansion with blended-term scoring (Lucene's
``SynonymQuery`` semantics).

Naive expansion rewrites ``hero`` into the disjunction ``hero OR
protagonist`` — but then each variant scores with its OWN df, so the
rarer spelling gets a higher idf and a document using the rare variant
outranks an identical one using the common variant, purely on spelling.
The blended-term model fixes this: all members of a synonym group score
as ONE virtual term with

    tf_g(d)  = Σ_m tf_m(d)            (member tfs add up)
    df_g     = |∪_m docs(m)|          (union document frequency)

so every variant carries the same idf and co-occurring variants
saturate together.  ``df_g`` is exact, derived from the decoded
candidate relation itself (every member posting is decoded anyway —
counting distinct docs per group is one window over that relation, no
second index pass; same policy as BM25F's entity df, query/bm25f.py).

The reference has no synonym surface (dense embeddings blur synonymy
implicitly, ``/root/reference/src/sbert.py``); this is the lexical
engine's explicit, auditable counterpart.

Scale shape: cost ∝ posting volume of all member terms — term-IN
pushdown at the scan, one (doc, group) fold shuffle, one window over the
matched relation, TakeOrderedAndProject for the page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anisearch_model_spark.config import BM25Params
from anisearch_model_spark.query.bucket import raw_postings


def search_synonyms(index, query_text: str,
                    synonyms: dict[str, list[str]],
                    k: int = 10, page: int = 1,
                    field: str | None = None,
                    params: BM25Params | None = None) -> DataFrame:
    """BM25 top-k where each query term expands to its synonym group and
    the group scores as one blended virtual term: (rank, doc_id, score).

    ``synonyms`` maps a query term to its variants (the term itself is
    always an implicit member; unlisted terms form singleton groups —
    for those the blended model reduces to plain BM25 exactly).
    """
    from anisearch_model_spark.query.engine import (
        IndexStore, local_frame, parse_query)
    from anisearch_model_spark.query.multifield import rank_and_paginate

    assert isinstance(index, IndexStore)
    params = params or BM25Params()
    k1, b = params.k1, params.b
    spark = index.spark
    out_schema = "rank long, doc_id long, score double"
    qterms = sorted(set(parse_query(query_text)))
    if not qterms:
        return local_frame(spark, None, out_schema)
    # group id = the query term; member → group map (first group wins if
    # a variant is shared — deterministic via sorted qterms)
    member_of: dict[str, str] = {}
    for t in qterms:
        for m in [t, *sorted(set(synonyms.get(t, [])))]:
            member_of.setdefault(m, t)
    n_docs, avgdl = index.field_stats(field)

    raw = raw_postings(index, member_of,
                       None if field is None else [field])
    gmap = F.create_map(*[F.lit(x) for m, g in sorted(member_of.items())
                          for x in (m, g)])
    # blend per (doc, group): tf adds up, dl is the doc's length (every
    # member row of one doc carries the same dl — max is a safe pick)
    blended = (
        raw.withColumn("grp", gmap[F.col("term")])
        .groupBy("doc_id", "grp")
        .agg(F.sum("tf").alias("tf_g"), F.max("dl").alias("dl"))
    )
    # union df per group — one window over the blended relation, counted
    # BEFORE the tombstone exclusion: corpus stats deliberately don't
    # shift until purge (dictionary df keeps counting deleted docs — the
    # same contract as plain search), so a singleton group stays exactly
    # equal to plain BM25 even while tombstones exist
    blended = blended.withColumn(
        "df_g", F.count("*").over(Window.partitionBy("grp")))
    tomb = index.tombstones
    if len(tomb):
        tdf = spark.createDataFrame([(int(t),) for t in tomb], "doc_id long")
        blended = blended.join(F.broadcast(tdf), "doc_id", "left_anti")
    # log1p, not log(1 + x): same numerics as the numpy kernel
    # (functions/normalize.py::bm25_idf) — a singleton group reduces to
    # plain BM25 at full float64, not just to display precision
    idf = F.log1p((F.lit(float(n_docs)) - F.col("df_g") + 0.5)
                  / (F.col("df_g") + 0.5))
    pscore = (idf * F.col("tf_g") * (k1 + 1.0)
              / (F.col("tf_g")
                 + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))))
    # full-precision float64 out (sorted fold keeps it deterministic);
    # display/oracle rounding is the CALLER's contract, not the scorer's
    scored = (
        blended.withColumn("pscore", pscore)
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("grp", "pscore"))),
                F.lit(0.0),
                lambda acc, x: acc + x["pscore"],
            ).alias("score")
        )
    )
    return rank_and_paginate(
        scored, page, k, "score", "doc_id"
    ).select("rank", "doc_id", "score")
