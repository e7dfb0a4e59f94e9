"""The benchmark's workloads, set-up, output checks and layer probes.

Every workload runs in one process against Spark ``local[cores]`` and
drives ``anisearch_model_spark`` only through its public functions.
Sizes are fixed here so that the same seed always gives the same work.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time
from collections import defaultdict

import gen
import host
import serving
import session
from stats import failed_frac, median, tail
from spans import JobCounter, Tracer, self_times

N_BASE = 10_000         # turns in the base corpus
NUM_BUCKETS = 4         # doc-range buckets of the base build (= cores)
APPEND_TURNS = 1_000    # turns per ingest_live append batch
K = 10                  # top-k of every ranked request
BATCH_QUERIES = 200     # queries per batch_topk call
EXHAUSTIVE_CHECKS = 2   # served plain requests re-scored exhaustively
BATCH_CHECKS = 1        # batch queries re-scored by single-query topk_bmw
# serve_zipf request cycle: plain/phrase/boolean at 5/1/1 (~71/14/14)
SERVE_CYCLE = ("plain", "phrase", "plain", "boolean", "plain", "plain",
               "plain")
# set-up warm-up requests per workload: every route it serves once
WARMUP = {"serve_zipf": ("plain", "phrase", "boolean"),
          "ingest_live": ("plain", "phrase")}
INGEST_ROUND_S = 10     # ingest_live runs one write round per 10 s of --seconds
BURST_PLAIN = 4         # plain searches in each post-delete ingest burst
INDEX_TABLES = ("postings", "positions", "doc_map", "dictionary")
SCORE_RTOL = 1e-9


class Run:
    """State of one benchmark run: Spark session, index, timings,
    attempted/failed operation counts, per-layer samples and spans."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work_dir: str, cores: int, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work_dir
        self.cores = cores
        self.t_process = t_process
        self.clock = time.perf_counter
        self.tracer = Tracer(self.clock)
        self.tracer.enabled = trace
        self.spark = None
        self.jobs: JobCounter | None = None
        self.index_dir = os.path.join(work_dir, "index")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = defaultdict(list)  # route → s
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.req_jobs: list[int] = []
        self.detail: dict = {}
        self.e2e: dict[str, float] = {}
        self.text_bytes = 0
        self.planted: dict[int, set] = {}  # ingest round → surviving docs
        self.space_final: dict | None = None  # ingest_live, after its writes
        self.serve_n = 0  # requests served after warm-up, and their
        self.serve_wall = 0.0  # serve_loop wall seconds

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def timed(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` in its own span; record its wall seconds and the
        Spark jobs it ran under ``name``."""
        with self.jobs.count() as g:
            with self.tracer.span(name) as attrs:
                t0 = self.clock()
                out = fn(*args, **kwargs)
                dt = self.clock() - t0
        attrs["jobs"] = g["jobs"]
        self.samples[name].append(dt)
        self.samples[name + ".jobs"].append(g["jobs"])
        return out, dt

    def serve(self, requests, log: bool):
        """One ``serve_loop`` call; records per-route latencies, error
        responses and per-request Spark job counts."""
        rids: list[str] = []
        marks: list[int] = []  # jobs submitted before each request

        def on_line(i: int, route: str) -> None:
            marks.append(self.jobs.total())
            rids.append(f"req-{len(self.req_jobs) + i}")
            self.tracer.request_id = rids[-1]

        first_span = len(self.tracer.spans)
        feed, sink, wall = serving.run_requests(
            self.spark, self.index_dir, requests, K, log, on_line, self.clock)
        self.tracer.request_id = None
        marks.append(self.jobs.total())
        self.req_jobs += [b - a for a, b in zip(marks, marks[1:])]
        self.serve_n += len(sink.responses)
        self.serve_wall += wall
        for route, t_in, t_out, resp in zip(feed.routes, feed.t_in,
                                            sink.t_out, sink.responses):
            self.lat[route].append(t_out - t_in)
            self.check("error" not in resp,
                       f"{route} request failed: {resp.get('error')}")
        if self.trace:
            self._request_spans(rids, feed, sink, first_span)
        return feed, sink

    def _request_spans(self, rids, feed, sink, first_span) -> None:
        """Add one "serve.request" span per request (stamped outside the
        loop) and parent that request's top-level spans to it."""
        spans = self.tracer.spans
        ids = {}
        for rid, route, t_in, t_out in zip(rids, feed.routes, feed.t_in,
                                           sink.t_out):
            ids[rid] = len(spans)
            spans.append({"id": len(spans), "name": "serve.request",
                          "start": t_in, "end": t_out, "parent": None,
                          "request": rid, "attrs": {"route": route}})
        for s in spans[first_span:]:
            if s["parent"] is None and s["name"] != "serve.request" and \
                    s["request"] in ids:
                s["parent"] = ids[s["request"]]


# ---------------------------------------------------------------- set-up


def install_wrappers(tracer: Tracer) -> None:
    """Spans around the layer functions that run INSIDE engine calls
    (serve_loop, search, compact_index) and so cannot be timed from the
    call site."""
    from anisearch_model_spark.index import tombstones
    from anisearch_model_spark.query import boolean, engine, phrase
    from anisearch_model_spark.query import log as qlog

    def dict_attrs(store, terms, field=None):
        cold = any((field, t) not in store._df_cache for t in terms)
        return {"cache": "cold" if cold else "warm", "n_terms": len(terms)}

    # parse_query_terms is the search path's parse; it calls parse_query,
    # which is left unwrapped so that one parse is one span
    tracer.wrap(engine, "parse_query_terms", "engine.parse")
    tracer.wrap(engine.IndexStore, "term_dfs", "engine.dict_lookup",
                dict_attrs)
    tracer.wrap(engine, "fetch_doc_rows", "engine.metadata_fetch")
    tracer.wrap(engine, "search", "engine.search")
    tracer.wrap(phrase, "phrase_search", "phrase.search")
    tracer.wrap(boolean, "boolean_search", "boolean.search")
    tracer.wrap(qlog, "log_query", "log.append")
    # compact_index purges first; its self time excludes this span
    tracer.wrap(tombstones, "purge_deleted", "compact.inner_purge")


def write_parquet(pdf, directory: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    pdf = pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(directory, "part-0.parquet"),
                   coerce_timestamps="us")


def text_bytes(pdf) -> int:
    return int(sum(len(t.encode("utf-8")) for t in pdf["text"]))


def setup(run: Run) -> None:
    """Session start, input generation, index build and warm-up."""
    from anisearch_model_spark.datagen import TRANSCRIPT_SCHEMA
    from anisearch_model_spark.index import store

    if run.trace:
        install_wrappers(run.tracer)
    t0 = run.clock()
    run.spark = session.start(run.work, run.cores)
    run.jobs = JobCounter(run.spark.sparkContext)
    t1 = run.clock()
    run.corpus = gen.Corpus(run.seed)
    run.base = run.corpus.turns(N_BASE, 0, f"c{run.seed}-")
    src = os.path.join(run.work, "src")
    write_parquet(run.base, src)
    run.text_bytes = text_bytes(run.base)
    run.sample_texts = run.base["text"].head(2000).tolist()
    t2 = run.clock()
    transcripts = run.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src)
    res, build_s = run.timed("store.build_index", store.build_index,
                             run.spark, transcripts, run.index_dir,
                             num_buckets=NUM_BUCKETS)
    run.build = res
    run.detail["build_turns_per_s"] = N_BASE / build_s
    run.space_after_build = index_space(run.index_dir, run.text_bytes)
    t3 = run.clock()
    # untimed warm-up: the first request of each route in a session pays
    # Python-worker start and JIT.  The reader opened here stays open for
    # the whole run: ingest rounds replay reads on it as the long-lived
    # (stale) reader.
    from anisearch_model_spark.query import engine

    warm = gen.QueryGen(run.corpus, run.sample_texts, run.seed, stream=9)
    run.reader = engine.IndexStore(run.spark, run.index_dir)
    run.serve([(r, getattr(warm, r)()) for r in WARMUP[run.workload]],
              log=run.workload == "serve_zipf")
    run.lat.clear()
    run.serve_n, run.serve_wall = 0, 0.0
    t4 = run.clock()
    run.samples["setup.session_s"].append(t1 - t0)
    run.samples["setup.generate_s"].append(t2 - t1)
    run.samples["setup.build_s"].append(t3 - t2)
    run.samples["setup.warmup_s"].append(t4 - t3)
    run.e2e["setup_s"] = t4 - run.t_process


# ---------------------------------------------------------------- checks


def ranking(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def same_ranking(a, b) -> bool:
    """Equal doc_id order and scores equal to SCORE_RTOL."""
    if [d for d, _ in a] != [d for d, _ in b]:
        return False
    return all(math.isclose(x, y, rel_tol=SCORE_RTOL, abs_tol=1e-12)
               for (_, x), (_, y) in zip(a, b))


def doc_keys(rows) -> set[tuple[str, int]]:
    return {(str(r["conv_id"]), int(r["turn_idx"])) for r in rows}


# ---------------------------------------------------------------- batch


def batch_queries(run: Run, stream: int):
    import pandas as pd

    q = gen.QueryGen(run.corpus, run.sample_texts, run.seed, stream=stream)
    return pd.DataFrame({"query_id": range(BATCH_QUERIES),
                         "query_text": [q.plain() for _ in range(BATCH_QUERIES)]})


def run_batch(run: Run, queries) -> tuple[dict[int, list], float]:
    """One ``batch_topk`` call over ``queries``, results materialised in
    full; returns ({query_id: ranking}, seconds)."""
    from anisearch_model_spark.query import batch, engine

    store = engine.IndexStore(run.spark, run.index_dir)
    rows, dt = run.timed("batch.topk",
                         lambda: batch.batch_topk(store, queries, K).collect())
    out: dict[int, list] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
    run.check(len(out) > 0, "batch_topk returned no rows")
    return out, dt


# ---------------------------------------------------------------- serve


def serve_zipf(run: Run) -> None:
    from anisearch_model_spark.query import engine

    q = gen.QueryGen(run.corpus, run.sample_texts, run.seed, stream=1)

    t_end = run.clock() + run.seconds

    def requests():
        # the seeded request sequence in whole cycles, so every run serves
        # the same route mix (stopping mid-cycle let the count of slow
        # phrase and boolean requests swing op_p50_ms and serve_rps by a
        # third); a further cycle starts only if one more as long as the
        # last would end within --seconds
        while True:
            c0 = run.clock()
            for route in SERVE_CYCLE:
                yield route, getattr(q, route)()
            now = run.clock()
            if now + (now - c0) > t_end:
                return

    cpu0 = host.tree_cpu_s()
    feed, sink = run.serve(requests(), log=True)
    run.detail["serve_cpu_ms_per_req"] = \
        1000 * (host.tree_cpu_s() - cpu0) / run.serve_n
    run.e2e["serve_rps"] = run.serve_n / run.serve_wall
    run.e2e["op_p50_ms"] = 1000 * median(
        [o - i for i, o in zip(feed.t_in, sink.t_out)])

    # output check: block-max results equal exhaustive scoring
    plain = [i for i, r in enumerate(feed.routes) if r == "plain"
             and "error" not in sink.responses[i]]
    store = engine.IndexStore(run.spark, run.index_dir)
    for i in plain[:: max(1, len(plain) // EXHAUSTIVE_CHECKS)][:EXHAUSTIVE_CHECKS]:
        exact, _ = run.timed(
            "check.exhaustive",
            lambda: engine.topk_exhaustive(store, feed.texts[i], K).collect())
        run.check(same_ranking(ranking(sink.responses[i]["results"]),
                               ranking(exact)),
                  f"served != topk_exhaustive for {feed.texts[i]!r}")

    run.e2e["index_bytes_per_text_byte"] = \
        run.space_after_build["index_bytes_per_text_byte"]

    if run.trace:  # batch and write layers: every per-layer metric measured
        queries = batch_queries(run, stream=5)
        got, dt = run_batch(run, queries)
        check_batch_vs_single(run, queries, got)
        run.detail["batch_qps"] = BATCH_QUERIES / dt
        ingest_round(run, 1, run.reader, log=True)
        compaction(run)


def check_batch_vs_single(run: Run, queries, got) -> None:
    from anisearch_model_spark.query import engine

    store = engine.IndexStore(run.spark, run.index_dir)
    ids = sorted(got)[:: max(1, len(got) // BATCH_CHECKS)][:BATCH_CHECKS]
    for qid in ids:
        text = queries["query_text"][qid]
        single, _ = run.timed(
            "check.topk_bmw",
            lambda: engine.topk_bmw(store, text, K).collect())
        run.check(same_ranking(got[qid], ranking(single)),
                  f"batch_topk != topk_bmw for {text!r}")


# ---------------------------------------------------------------- ingest


def ingest_round(run: Run, r: int, stale, log: bool) -> None:
    """Append a batch with a planted marker, catch positions up, make it
    visible, delete two of its conversations, then serve a burst through
    a fresh reader and replay its plain searches on the stale reader."""
    from anisearch_model_spark.index import positions, tombstones
    from anisearch_model_spark.streaming import incremental

    pdf = run.corpus.turns(APPEND_TURNS, r, f"a{run.seed}r{r}-")
    pdf, planted = gen.plant_markers(pdf, run.seed, r)
    stream_dir = os.path.join(run.work, f"stream{r}")
    write_parquet(pdf, stream_dir)
    run.text_bytes += text_bytes(pdf)
    a, b = gen.marker_terms(run.seed, r)
    kk = len(planted) + K

    t0 = run.clock()
    run.timed("append.incremental", incremental.incremental_append,
              run.spark, stream_dir, run.index_dir,
              checkpoint_dir=os.path.join(run.work, f"ckpt{r}"))
    run.timed("append.positions_catchup", positions.build_positions,
              run.spark, run.index_dir)
    _, sink = run.serve([("plain", a, kk), ("phrase", f"{a} {b}", kk)],
                        log=log)
    run.samples["append_visible_s"].append(run.clock() - t0)
    for resp, what in zip(sink.responses, ("term", "phrase")):
        run.check(doc_keys(resp.get("results", [])) == planted,
                  f"round {r}: marker {what} search != planted docs")

    convs = sorted({c for c, _ in planted})[:2]
    gone = {key for key in planted if key[0] in convs}
    q = gen.QueryGen(run.corpus, run.sample_texts, run.seed, stream=10 + r)
    burst = [("plain", a, kk)] + [("plain", q.plain())
                                  for _ in range(BURST_PLAIN)]
    t1 = run.clock()
    run.timed("tombstones.delete", tombstones.delete_conversations,
              run.spark, run.index_dir, convs)
    _, sink = run.serve(burst, log=log)
    run.samples["delete_visible_s"].append(sink.t_out[0] - t1)
    run.check(doc_keys(sink.responses[0].get("results", [])) == planted - gone,
              f"round {r}: deleted docs returned")
    run.planted[r] = planted - gone

    # the stale reader was opened before any write of this run
    from anisearch_model_spark.query import engine

    for i, (route, text, *_k) in enumerate(burst[:2]):
        old = engine.search(stale, text, _k[0] if _k else K).collect()
        if not same_ranking(ranking(old),
                            ranking(sink.responses[i].get("results", []))):
            run.samples["stale_mismatch"].append(1)
        else:
            run.samples["stale_mismatch"].append(0)


def compaction(run: Run) -> None:
    """Purge, ``compact_index`` and the positions catch-up, checked:
    ``batch_topk`` results after compaction equal those before it, and a
    final burst finds exactly the surviving docs of every marker."""
    from anisearch_model_spark.index import compact, positions, tombstones

    queries = batch_queries(run, stream=6)
    _, purge_s = run.timed("tombstones.purge", tombstones.purge_deleted,
                           run.spark, run.index_dir)
    before, t_before = run_batch(run, queries)
    _, rewrite_s = run.timed("compact.rewrite", compact.compact_index,
                             run.spark, run.index_dir)
    run.detail["compact_s"] = purge_s + rewrite_s
    run.timed("append.positions_catchup", positions.build_positions,
              run.spark, run.index_dir)
    after, t_after = run_batch(run, queries)
    run.check(before.keys() == after.keys() and all(
        same_ranking(before[qid], after[qid]) for qid in before),
        "batch results after compaction != before")
    run.detail["batch_qps"] = BATCH_QUERIES / median([t_before, t_after])

    # final burst: every marker still returns exactly its surviving docs
    final = [("plain", gen.marker_terms(run.seed, r)[0],
              len(run.planted[r]) + K) for r in sorted(run.planted)]
    a, b = gen.marker_terms(run.seed, max(run.planted))
    final.append(("phrase", f"{a} {b}", len(run.planted[max(run.planted)]) + K))
    _, sink = run.serve(final, log=False)
    for (route, text, _k), resp, want in zip(
            final, sink.responses,
            [run.planted[r] for r in sorted(run.planted)]
            + [run.planted[max(run.planted)]]):
        run.check(doc_keys(resp.get("results", [])) == want,
                  f"after compaction: {route} {text!r} != surviving docs")


def ingest_live(run: Run) -> None:
    # the round count, and so the work, depends on --seconds only, never
    # on how fast rounds run
    n_rounds = max(1, run.seconds // INGEST_ROUND_S)
    cpu0 = host.tree_cpu_s()
    for r in range(1, n_rounds + 1):
        ingest_round(run, r, run.reader, log=False)
    run.detail["round_cpu_s"] = (host.tree_cpu_s() - cpu0) / n_rounds
    # compaction runs in the traced run only: it feeds no bounded metric
    # but would add a third to every run's time
    if run.trace:
        compaction(run)

    space = index_space(run.index_dir, run.text_bytes)
    run.space_final = space
    run.e2e["serve_rps"] = run.serve_n / run.serve_wall
    run.e2e["op_p50_ms"] = 1000 * median(run.samples["append_visible_s"])
    run.e2e["index_bytes_per_text_byte"] = space["index_bytes_per_text_byte"]
    run.detail["append_visible_s"] = median(run.samples["append_visible_s"])
    run.detail["delete_visible_s"] = median(run.samples["delete_visible_s"])


# ---------------------------------------------------------------- space


def table_files(index_dir: str, table: str) -> list[str]:
    """Parquet files of ``table`` in the committed snapshot: the
    manifest-listed buckets of a bucketed table, or the whole dictionary."""
    root = os.path.join(index_dir, table)
    if table == "dictionary":
        return glob.glob(os.path.join(root, "*.parquet"))
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        buckets = json.load(f)["buckets"]
    return [p for b in buckets for p in glob.glob(
        os.path.join(root, f"bucket={b}", "**", "*.parquet"), recursive=True)]


def index_space(index_dir: str, text_bytes_total: int) -> dict:
    """On-disk parquet bytes per index table, plus ratios."""
    import pyarrow.dataset as pads

    sizes = {t: sum(os.path.getsize(f) for f in table_files(index_dir, t))
             for t in INDEX_TABLES}
    posting_files = table_files(index_dir, "postings")
    n_postings = int(pads.dataset(posting_files, format="parquet")
                     .to_table(columns=["n"])["n"].to_numpy().sum())
    return {
        "bytes": sizes,
        "index_bytes_per_text_byte": sum(sizes.values()) / text_bytes_total,
        "postings_bytes_per_posting": sizes["postings"] / n_postings,
        "doc_map_bytes_per_text_byte": sizes["doc_map"] / text_bytes_total,
    }


# ---------------------------------------------------------------- probes


def query_blocks(index_dir: str, terms: list[str], columns: list[str]):
    """The posting blocks of ``terms`` in the committed snapshot, read
    with pyarrow."""
    import pyarrow.dataset as pads

    files = table_files(index_dir, "postings")
    return pads.dataset(files, format="parquet").to_table(
        columns=columns, filter=pads.field("term").isin(terms))


def probe_layers(run: Run) -> None:
    """Direct, traced calls into each layer's public function on the
    run's final index (traced runs only)."""
    import datetime as dt

    import pandas as pd

    from anisearch_model_spark.functions import normalize
    from anisearch_model_spark.index import codec, positions
    from anisearch_model_spark.query import boolean, engine, facets, phrase
    from anisearch_model_spark.query import log as qlog

    q = gen.QueryGen(run.corpus, run.sample_texts, run.seed, stream=20)
    sc = run.spark.sparkContext
    store = engine.IndexStore(run.spark, run.index_dir)
    plains = [q.plain() for _ in range(3)]
    for text in plains:
        engine.parse_query_terms(text)
    for text in [q._tail() for _ in range(3)]:
        store.term_dfs([text])  # cold, then warm
        store.term_dfs([text])
    for text in plains:
        acc = sc.accumulator(0)
        run.timed("engine.topk", lambda: engine.topk_bmw(
            store, text, K, decode_counter=acc).collect())
        terms = engine.parse_query(text)
        run.samples["engine.blocks_decoded"].append(acc.value)
        run.samples["engine.blocks_total"].append(
            query_blocks(run.index_dir, terms, ["term"]).num_rows)
        run.timed("engine.search_call",
                  lambda: engine.search(store, text, K).collect())
    for _ in range(3):
        run.timed("phrase.topk", lambda: phrase.phrase_topk(
            store, q.phrase(), K).collect())
        run.timed("boolean.topk", lambda: boolean.boolean_topk(
            store, q.boolean(), K).collect())
        run.timed("facets.counts", lambda: facets.facet_counts(
            store, q.head_term()).collect())
        qlog.log_query(run.spark, run.index_dir, ts=dt.datetime.now(),
                       query_text="probe", k=K, n_results=0, res_hash="",
                       wall_ms=0.0)

    # codec: decode the probe queries' posting blocks driver-side
    terms = sorted({t for text in plains for t in engine.parse_query(text)})
    blocks = query_blocks(run.index_dir, terms,
                          ["first_doc_id", "doc_deltas", "tfs", "dls"])
    recs = blocks.to_pylist()
    t0 = run.clock()
    for rec in recs:
        codec.decode_posting_block(rec)
    run.samples["codec.decode_us_per_block"].append(
        1e6 * (run.clock() - t0) / max(1, len(recs)))

    queries = batch_queries(run, stream=5)
    _, bdt = run_batch(run, queries)
    run.samples["batch.ms_per_query"].append(1000 * bdt / BATCH_QUERIES)
    bterms = sorted({t for text in queries["query_text"]
                     for t in engine.parse_query(text)})
    run.samples["batch.blocks_scanned"].append(
        query_blocks(run.index_dir, bterms, ["term"]).num_rows)

    texts = pd.Series(run.sample_texts)
    kb = sum(len(t.encode("utf-8")) for t in run.sample_texts) / 1024
    t0 = run.clock()
    normalize.tokenize_series(texts)
    run.samples["normalize.tokenize_us_per_kb"].append(
        1e6 * (run.clock() - t0) / kb)
    occ = normalize.positions_frame(pd.Series(range(len(texts))), texts)
    occ["bucket"] = 0
    t0 = run.clock()
    positions.encode_positions_bucket(occ)
    run.samples["positions.encode_ms_per_bucket"].append(
        1000 * (run.clock() - t0))

    # tracing overhead against the untraced run: the measured cost of one
    # span times the spans this run recorded, over the run's wall time
    # without that cost
    cost = run.tracer.span_cost() * len(run.tracer.spans)
    run.samples["trace.overhead_frac"].append(
        cost / (run.clock() - run.t_process - cost))


# ---------------------------------------------------------------- report


def _span_median(spans, selfs, name: str, use_self: bool = False,
                 **attrs) -> float:
    vals = [(st if use_self else s["end"] - s["start"])
            for s, st in zip(spans, selfs)
            if s["name"] == name and s["end"] is not None
            and all(s["attrs"].get(k) == v for k, v in attrs.items())]
    return median(vals)


def per_layer(run: Run) -> dict[str, float]:
    spans = run.tracer.spans
    selfs = self_times(spans)
    S = run.samples
    ph = run.build["phases"]
    space = run.space_final or run.space_after_build

    def sm(name, **kw):
        return 1000 * _span_median(spans, selfs, name, **kw)

    def mm(name):
        return median(S[name])

    return {
        "engine.parse_ms": sm("engine.parse"),
        "engine.dict_lookup_warm_ms": sm("engine.dict_lookup", cache="warm"),
        "engine.dict_lookup_cold_ms": sm("engine.dict_lookup", cache="cold"),
        "engine.topk_ms": 1000 * mm("engine.topk"),
        "engine.blocks_decoded": mm("engine.blocks_decoded"),
        "engine.blocks_total": mm("engine.blocks_total"),
        "engine.metadata_fetch_ms": sm("engine.metadata_fetch"),
        "engine.spark_jobs_per_search": mm("engine.search_call.jobs"),
        "serve.spark_jobs_per_request": median(run.req_jobs),
        "serve.request_self_ms": sm("serve.request", use_self=True),
        "log.append_ms": sm("log.append"),
        "phrase.topk_ms": 1000 * mm("phrase.topk"),
        "phrase.spark_jobs": mm("phrase.topk.jobs"),
        "boolean.topk_ms": 1000 * mm("boolean.topk"),
        "boolean.spark_jobs": mm("boolean.topk.jobs"),
        "codec.decode_us_per_block": mm("codec.decode_us_per_block"),
        "batch.ms_per_query": mm("batch.ms_per_query"),
        "batch.spark_jobs": mm("batch.topk.jobs"),
        "batch.blocks_scanned": mm("batch.blocks_scanned"),
        "facets.ms": 1000 * mm("facets.counts"),
        "facets.spark_jobs": mm("facets.counts.jobs"),
        "build.bucket_assign_s": ph["bucket_assign"],
        "build.doc_map_write_s": ph["doc_map_write"],
        "build.positions_build_s": ph["positions_build"],
        "build.postings_build_s": ph["postings_build"],
        "build.checkpoints_s": ph["checkpoints"],
        "build.finalize_s": ph["finalize"],
        "build.spark_jobs": mm("store.build_index.jobs"),
        "normalize.tokenize_us_per_kb": mm("normalize.tokenize_us_per_kb"),
        "positions.encode_ms_per_bucket": mm("positions.encode_ms_per_bucket"),
        "append.incremental_s": mm("append.incremental"),
        "append.positions_catchup_s": mm("append.positions_catchup"),
        "append.spark_jobs": mm("append.incremental.jobs"),
        "tombstones.delete_s": mm("tombstones.delete"),
        "tombstones.purge_s": mm("tombstones.purge"),
        "compact.rewrite_s": _span_median(spans, selfs, "compact.rewrite",
                                          use_self=True),
        "space.postings_bytes_per_posting": space["postings_bytes_per_posting"],
        "space.positions_bytes": space["bytes"]["positions"],
        "space.doc_map_bytes_per_text_byte": space["doc_map_bytes_per_text_byte"],
        "space.dictionary_bytes": space["bytes"]["dictionary"],
        "setup.session_s": mm("setup.session_s"),
        "setup.generate_s": mm("setup.generate_s"),
        "setup.build_s": mm("setup.build_s"),
        "setup.warmup_s": mm("setup.warmup_s"),
        "ingest.stale_reader_mismatches": sum(S["stale_mismatch"]),
        "trace.overhead_frac": mm("trace.overhead_frac"),
    }


def end_to_end(run: Run) -> dict[str, float]:
    e = dict(run.e2e)
    e["search_p50_ms"] = 1000 * median(run.lat["plain"])
    return e


def summary(run: Run) -> dict:
    """Human-facing detail: every metric the run measured, with the
    tail-percentile rule applied to each latency list."""
    out = {"workload": run.workload, "seed": run.seed,
           "failed_frac": failed_frac(run.failed, max(1, run.attempted)),
           "errors": run.errors[:5], **run.detail}
    for route, vals in sorted(run.lat.items()):
        out[f"{route}_n"] = len(vals)
        out[f"{route}_ms"] = [round(1000 * v, 1) for v in vals]
        out[f"{route}_p50_ms"] = 1000 * median(vals)
        p, v = tail(vals)
        if p is not None:
            out[f"{route}_p{p}_ms"] = 1000 * v
    out["stale_reader_mismatches"] = sum(run.samples["stale_mismatch"])
    return out


WORKLOADS = {"serve_zipf": serve_zipf, "ingest_live": ingest_live}


def execute(run: Run) -> tuple[dict, dict]:
    """Set up, run the workload (and, traced, the layer probes); returns
    (metrics, summary).  The Spark session is always stopped."""
    try:
        setup(run)
        WORKLOADS[run.workload](run)
        if run.trace:
            probe_layers(run)
            metrics = per_layer(run)
            run.tracer.dump(os.path.join(
                os.path.dirname(run.work),
                f"spans-{run.workload}-{run.seed}.jsonl"))
        else:
            metrics = end_to_end(run)
        return metrics, summary(run)
    finally:
        run.tracer.unwrap_all()
        if run.spark is not None:
            session.stop(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
