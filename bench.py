"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], plus the engine's index-build + BM25-query path
on a deterministic synthetic transcript corpus.

Prints exactly ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "build_turns_per_sec": ..., "n_turns": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def _noop_write(df) -> None:
    """Force full execution without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()


def _host_probe() -> float:
    """Single-core memory-bandwidth probe (healthy ≈ 0.5 s on this box).

    The sandbox VM is transiently memory-throttled 10-100× on a
    minutes scale (observed across rounds: the same suite varies 3×+
    with zero code change).  Bracketing the suite with this probe stamps
    the measurement's environment into the JSON so a slow number can be
    attributed to the host, not the engine.
    """
    import numpy as np

    a = np.arange(20_000_000, dtype=np.int64)
    t0 = time.time()
    for _ in range(10):
        a = a * 3
    return round(time.time() - t0, 2)


def _wait_for_healthy_host(max_wait_sec: float, threshold: float = 1.0,
                           poll_sec: float = 20.0) -> tuple[float, float]:
    """Poll the probe until the host is healthy or the budget runs out.

    The throttle windows last minutes (round-3 forensics: a 70×-degraded
    mid-suite probe produced un-attributable numbers); a bounded wait
    costs little and makes the recorded run measure the ENGINE.  Returns
    (final probe reading, seconds waited).
    """
    t0 = time.time()
    p = _host_probe()
    while p > threshold and time.time() - t0 < max_wait_sec:
        time.sleep(poll_sec)
        p = _host_probe()
    return p, round(time.time() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_turns = int(os.environ.get("BENCH_TURNS", "500000"))
    # the throttle windows last minutes-to-hours; a 25-min wait budget
    # (vs the old 5) costs little against a multi-hour round and is what
    # turns "ran during a throttle" into "ran in the first clean window"
    max_wait = float(os.environ.get("BENCH_WAIT_HEALTHY_SEC", "1500"))
    probe_start, waited = _wait_for_healthy_host(max_wait)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, topk_bmw
    from anisearch_model_spark.session import get_spark

    spark = get_spark(app_name="asms-bench", cores=cpus)

    headline = [
        "q1_pricing_summary",
        "j2_key_rename_join",
        "t1_topk_per_group",
        "multifield_entity_topk",
        "events_sessionize",
        "tx_quality",
        "dedup_exact",
        "dedup_minhash",
        "sim_cosine_topk",
        "sim_ann_lsh",
        "etl_merge_pipeline",
        "bm25_topk_documents",
    ]
    qs = entry_mod.queries()
    # untimed warmup: JVM/codegen/Arrow spin-up is session cost, not query
    # cost — without it the first timed query absorbs ~3-4s of startup
    _noop_write(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag").count()
    )
    timings: dict[str, float] = {}
    for name in headline:
        t0 = time.time()
        _noop_write(qs[name](spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)
    probe_mid = _host_probe()  # attribution: throttle can start mid-suite

    # engine: index build throughput + query latency on synthetic transcripts
    idx_dir = "/tmp/asms_bench_index"
    shutil.rmtree(idx_dir, ignore_errors=True)
    tr = gen_transcripts(spark, n_turns, seed=42)
    t0 = time.time()
    build_index(spark, tr, idx_dir, num_buckets=max(cpus, 16))
    build_sec = time.time() - t0
    timings["index_build"] = round(build_sec, 3)

    idx = IndexStore(spark, idx_dir)
    t0 = time.time()
    for q in ["hero battle magic world", "robot space pirate", "shadow light king"]:
        _noop_write(topk_bmw(idx, q, 10))
    timings["bm25_query_x3"] = round(time.time() - t0, 3)

    # end-to-end search(): BMW default scorer + bucket-pruned doc_map
    # metadata probe (PartitionFilter + pushed doc_id IN) + rank join
    from anisearch_model_spark.query.engine import search

    t0 = time.time()
    for q in ["hero battle magic world", "robot space pirate", "shadow light king"]:
        search(idx, q, 10).collect()
    timings["search_e2e_x3"] = round(time.time() - t0, 3)

    # positional side table: build throughput over the same corpus (the
    # ONE extra tokenize pass phrase support costs), then exact-phrase
    # query latency through the virtual-term BM25 scorer
    from anisearch_model_spark.index.positions import build_positions
    from anisearch_model_spark.query.phrase import phrase_topk

    t0 = time.time()
    build_positions(spark, idx_dir)
    timings["positions_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    for q in ["hero battle", "space pirate", "shadow light"]:
        _noop_write(phrase_topk(idx, q, 10))
    timings["phrase_query_x3"] = round(time.time() - t0, 3)

    # round-5 query surfaces: facet histogram of the full match set,
    # more-like-this (doc probe + dictionary lookup + BM25 fan-out)
    from anisearch_model_spark.query.facets import facet_counts
    from anisearch_model_spark.query.mlt import more_like_this

    t0 = time.time()
    _noop_write(facet_counts(idx, "hero battle magic world", facet_col="role"))
    timings["facets_query"] = round(time.time() - t0, 3)
    t0 = time.time()
    for did in (7, n_turns // 3, (2 * n_turns) // 3):
        _noop_write(more_like_this(idx, did, m=5, k=10))
    timings["mlt_query_x3"] = round(time.time() - t0, 3)

    # batch query-set evaluation: 20 queries, ONE distributed job
    import pandas as pd

    from anisearch_model_spark.query.batch import batch_topk

    words = ["hero", "battle", "magic", "world", "robot", "space", "pirate",
             "music", "dance", "love", "war", "peace", "king", "queen",
             "dragon", "shadow", "light", "night", "city", "future"]
    queries = pd.DataFrame(
        {
            "query_id": range(20),
            "query_text": [f"{words[i]} {words[(i + 3) % 20]} {words[(i + 7) % 20]}"
                           for i in range(20)],
        }
    )
    t0 = time.time()
    _noop_write(batch_topk(idx, queries, k=10))
    batch_sec = time.time() - t0
    timings["bm25_batch_x20"] = round(batch_sec, 3)

    # block-max decode-skip evidence: the flat synthetic bench corpus has
    # no score variance, so pruning can't trigger there (every segment
    # bound ties the top score); measure the skip ratio on a corpus WITH
    # variance instead — high-tf docs fill the heap in one segment and
    # the remaining blocks are never decompressed
    import pandas as pd
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from pyspark.sql import functions as F

    rows = [(f"a{i:03d}", 0, "user", " ".join(["hero"] * 20), None, None)
            for i in range(10)]
    rows += [(f"f{i:05d}", 0, "user", f"hero w{i % 7} w{(i + 1) % 7} w2 w3",
              None, None) for i in range(20000)]
    bmw_dir = "/tmp/asms_bench_bmw_idx"
    shutil.rmtree(bmw_dir, ignore_errors=True)
    build_index(
        spark,
        spark.createDataFrame(pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        ), schema=TRANSCRIPT_SCHEMA),
        bmw_dir, num_buckets=1,
    )
    bmw_idx = IndexStore(spark, bmw_dir)
    total_blocks = bmw_idx.postings.filter(F.col("term") == "hero").count()
    acc = spark.sparkContext.accumulator(0)
    _noop_write(topk_bmw(bmw_idx, "hero", 10, decode_counter=acc))
    bmw_decoded, bmw_total = int(acc.value), int(total_blocks)

    # worst-case pruning micro-bench: every term hot (all 20k filler docs
    # share w0..w6 + w2 w3), so block-max bounds barely discriminate and
    # nearly every surviving doc hits the heap-admission path — the case
    # the vectorized argpartition admission exists for
    from anisearch_model_spark.query.engine import topk_exhaustive

    t0 = time.time()
    _noop_write(topk_bmw(bmw_idx, "w2 w3 hero", 10))
    hot_bmw = round(time.time() - t0, 3)
    t0 = time.time()
    _noop_write(topk_exhaustive(bmw_idx, "w2 w3 hero", 10))
    hot_exh = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_plus_index_build",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir.rstrip("/").split("sf")[-1],
                "build_turns_per_sec": round(n_turns / build_sec, 1),
                "batch_queries_per_sec": round(20 / batch_sec, 2),
                "n_turns": n_turns,
                "cpus": cpus,
                "bmw_blocks_decoded": bmw_decoded,
                "bmw_blocks_total": bmw_total,
                "bmw_hot_query_sec": hot_bmw,
                "exhaustive_hot_query_sec": hot_exh,
                "host_probe_sec_start": probe_start,
                "host_probe_sec_mid": probe_mid,
                "host_probe_sec_end": _host_probe(),
                "host_probe_healthy_sec": 0.5,
                "host_wait_sec": waited,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
