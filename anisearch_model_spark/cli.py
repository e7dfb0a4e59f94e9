"""spark-submit entry points (north rule: runs via spark-submit --py-files).

    # package once
    python -c "from anisearch_model_spark.session import package_zip; print(package_zip())"

    # build (resumable; re-run skips completed buckets)
    spark-submit --py-files /tmp/anisearch_model_spark_pyfiles.zip \
        -m anisearch_model_spark.cli build --input <parquet> --index <dir>

    # query
    spark-submit ... -m anisearch_model_spark.cli search \
        --index <dir> --query "hero battle" --k 10

    # incremental append of new transcript files
    spark-submit ... -m anisearch_model_spark.cli append \
        --stream-dir <dir> --index <dir>

When invoked via plain ``python -m``, a local session is created with
$SPARK_GRAFT_CPUS cores.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_weight_map(s: str) -> dict[str, float]:
    """'user:1.0,assistant:0.5' → {field: weight}.  Shared by the serve
    loop and the CLI (fused_fields / bm25f_fields) so the ':'-guard is
    uniform — an entry without ':' is an admission error, never an
    IndexError that could kill the serve loop."""
    out: dict[str, float] = {}
    for p in s.split(","):
        if not p.strip():
            continue
        if ":" not in p:
            raise ValueError(f"expected field:weight, got {p.strip()!r}")
        f, w = p.split(":", 1)
        out[f.strip()] = float(w)
    if not out:
        raise ValueError("weight map must name at least one field")
    return out


def _parse_synonym_groups(s: str) -> dict[str, list[str]]:
    """'join:merge|fuse,window:pane' → {term: [variants]}."""
    out: dict[str, list[str]] = {}
    for p in s.split(","):
        if not p.strip():
            continue
        if ":" not in p:
            raise ValueError(f"expected term:variant|variant, "
                             f"got {p.strip()!r}")
        t, vs = p.split(":", 1)
        out[t.strip()] = [v.strip() for v in vs.split("|") if v.strip()]
    return out


def _coerce_synonyms(val) -> dict[str, list[str]]:
    """Accept the dict form ({term: [variants]} — a lone string variant
    is wrapped, NOT iterated per character) or the string shorthand."""
    if isinstance(val, str):
        return _parse_synonym_groups(val)
    if isinstance(val, dict):
        out: dict[str, list[str]] = {}
        for t, vs in val.items():
            if isinstance(vs, str):
                vs = [vs]
            elif not isinstance(vs, (list, tuple)):
                raise ValueError("'synonyms' variants must be a list "
                                 "or a single string")
            out[str(t)] = [str(v) for v in vs]
        return out
    raise ValueError("'synonyms' must be a {term: [variants]} object "
                     "or a 'term:v|v,term:v' string")


def _coerce_weight_map(val, key: str) -> dict[str, float]:
    if isinstance(val, str):
        return _parse_weight_map(val)
    if isinstance(val, dict):
        out = {str(f): float(w) for f, w in val.items()}
        if not out:
            raise ValueError(f"'{key}' must name at least one field")
        return out
    raise ValueError(f"'{key}' must be a {{field: weight}} object or a "
                     f"'field:w,field:w' string")


def index_info(index_dir: str) -> dict:
    """Driver-side index health snapshot — manifest/stats/tombstones,
    no SparkSession and no jobs (everything here is bounded metadata:
    the manifest, two JSON files, and the tombstone table, which is
    O(deletes since purge) by design)."""
    import os

    from anisearch_model_spark.index.store import dictionary_deltas
    from anisearch_model_spark.index.tombstones import load_tombstones

    with open(os.path.join(index_dir, "stats.json"), encoding="utf-8") as f:
        stats = json.load(f)
    with open(os.path.join(index_dir, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    return {
        "index_dir": index_dir,
        "n_docs": stats.get("n_docs"),
        "avgdl": stats.get("avgdl"),
        # absent since varint became the only codec; an older index that
        # recorded another one is refused at open, and info still says so
        "codec": stats.get("codec", "varint"),
        "field_col": stats.get("field_col"),
        "format_version": stats.get("index_format_version"),
        "tokenizer_version": stats.get("tokenizer_version"),
        "n_buckets": len(manifest.get("buckets", {})),
        "tombstones": int(len(load_tombstones(index_dir))),
        # append delta files in dictionary/ since the last full re-derive
        "dictionary_deltas": len(dictionary_deltas(index_dir)),
    }


def _scorer_name(routes: list[tuple[str, object]], pruned: bool) -> str:
    """The query log's ``scorer`` value: the name of the first route in
    ``routes`` that is on, else the plain search's scorer."""
    return next((name for name, on in routes if on),
                "bmw" if pruned else "exhaustive")


def serve_loop(spark, index_dir: str, in_stream, out_stream,
               log: bool = True, idle_clear_sec: float = 300.0) -> int:
    """Line-oriented query service over ONE session and ONE IndexStore.

    The reference runs a long-lived HTTP service with per-request
    admission control (``/root/reference/src/api.py:469-541``,
    ``src/run_server.py:75-93``); this is the dependency-free analog: a
    request per stdin line — either a bare query string or a JSON object
    ``{"query": ..., "k": 10, "page": 1, "role": ..., "exhaustive":
    false, "phrase": false, "slop": 0, "boolean": false, "snippets":
    false, "fields": [...], "conversations": false, "facets": "role",
    "mlt": <doc_id>, "m": 5, "fused_fields": {"user": 1.0},
    "bm25f_fields": {"user": 1.0}, "synonyms": {"join": ["merge"]},
    "explain": <doc_id>, "spell": "querry text",
    "suggest": "prefix", "count": false,
    "hybrid": {"embeddings": <parquet>, "vec_id": 0, "rrf_k": 60}}`` —
    (``hybrid`` RRF-fuses the BM25 top-N with the cosine top-N over the
    given embeddings table, dense anchor = the vec_id row) — one JSON
    response line each (``facets`` histograms the full match set over a
    doc_map column, ``mlt`` runs more-like-this from a source doc id —
    no ``query`` key needed, ``fused_fields`` scores conversations by
    weighted CombSUM over per-field bests; ``phrase`` routes to the
    positional scorer with
    optional ``slop`` proximity, ``boolean`` parses +/- clause markers,
    ``snippets`` adds highlighted text windows; the query string itself
    may carry ``term*`` prefix and ``term~`` fuzzy patterns on any
    route that scores terms), ``quit``/``exit``/EOF ends the loop.
    Because the IndexStore lives across requests, the LRU
    (field, term)→df dictionary cache and the negative-term cache
    actually pay off (query/engine.py:48-59), and each request appends a
    query_log evaluation row (the reference's per-query eval record,
    src/test.py:221-274) as one driver-side Parquet file — no Spark job,
    and a failed append only prints a warning to stderr, the response
    line is still written.  Admission errors (>2000-char query, bad
    JSON) come back as ``{"error": ...}`` responses — the loop never
    dies mid-service.  Returns the number of requests served.
    """
    import time

    from anisearch_model_spark.query.engine import IndexStore, search
    from anisearch_model_spark.query.log import log_query, result_hash

    idx = IndexStore(spark, index_dir)
    served = 0
    last_request = time.time()
    for line in in_stream:
        line = line.strip()
        if not line:
            continue
        if line in ("quit", "exit"):
            break
        # idle memory discipline (reference api.py:112-156: unload after
        # 300 idle seconds): after a long gap, drop the driver-side
        # caches before serving — they reload lazily and are
        # mtime-validated, so results are unaffected
        now = time.time()
        if idle_clear_sec and now - last_request > idle_clear_sec:
            idx.clear_caches()
        last_request = now
        served += 1
        try:
            req = json.loads(line) if line.startswith("{") else {"query": line}
            if not isinstance(req, dict) or (
                "query" not in req and "mlt" not in req
                and "suggest" not in req and "spell" not in req
            ):
                raise ValueError("request must be a query string or a "
                                 "JSON object with a 'query' (or 'mlt' "
                                 "doc id / 'suggest' prefix / 'spell' "
                                 "query) key")
            # admission covers parameter coercion too: {"k": "abc"} must
            # come back as an error response, never kill the loop
            k = int(req.get("k", 10))
            page = int(req.get("page", 1))
            role = req.get("role")
            pruned = not req.get("exhaustive", False)
            phrase = bool(req.get("phrase", False))
            slop = int(req.get("slop", 0))
            boolean = bool(req.get("boolean", False))
            snippets = bool(req.get("snippets", False))
            if phrase and boolean:
                raise ValueError("'phrase' and 'boolean' are mutually "
                                 "exclusive")
            fields = req.get("fields")
            if fields is not None:
                if isinstance(fields, str):
                    fields = [f.strip() for f in fields.split(",") if f.strip()]
                elif isinstance(fields, (list, tuple)):
                    fields = [str(f) for f in fields]
                else:
                    raise ValueError("'fields' must be a list of field names "
                                     "or a comma-separated string")
            if snippets and (phrase or boolean or fields is not None
                             or req.get("conversations")):
                raise ValueError("'snippets' applies to plain term "
                                 "queries only")
            facets = req.get("facets")
            if facets is not None and not isinstance(facets, str):
                raise ValueError("'facets' must be a doc_map column name "
                                 "(e.g. 'role')")
            mlt = req.get("mlt")
            if mlt is not None:
                mlt = int(mlt)
            explain = req.get("explain")
            if explain is not None:
                explain = int(explain)
                if "query" not in req:
                    raise ValueError("'explain' needs a 'query' to "
                                     "explain the doc's score under")
            suggest = req.get("suggest")
            if suggest is not None and (
                not isinstance(suggest, str) or not suggest.strip()
            ):
                raise ValueError("'suggest' must be a non-empty prefix "
                                 "string")
            spell = req.get("spell")
            if spell is not None and (
                not isinstance(spell, str) or not spell.strip()
            ):
                raise ValueError("'spell' must be a non-empty query "
                                 "string to spell-check")
            syns = req.get("synonyms")
            if syns is not None:
                if "query" not in req:
                    raise ValueError("'synonyms' needs a 'query' whose "
                                     "terms it expands")
                syns = _coerce_synonyms(syns)
            bm25f = req.get("bm25f_fields")
            if bm25f is not None:
                bm25f = _coerce_weight_map(bm25f, "bm25f_fields")
            fused = req.get("fused_fields")
            if fused is not None:
                fused = _coerce_weight_map(fused, "fused_fields")
            hybrid = req.get("hybrid")
            if hybrid is not None:
                if "query" not in req:
                    raise ValueError("'hybrid' needs a 'query' for the "
                                     "lexical side")
                if (not isinstance(hybrid, dict) or "embeddings" not in hybrid
                        or "vec_id" not in hybrid):
                    raise ValueError(
                        "'hybrid' must be {'embeddings': <parquet path>, "
                        "'vec_id': N[, 'rrf_k': 60]}")
                if snippets or fields is not None or req.get("conversations"):
                    raise ValueError("'hybrid' applies to plain term "
                                     "queries only")
                hybrid = {"embeddings": str(hybrid["embeddings"]),
                          "vec_id": int(hybrid["vec_id"]),
                          "rrf_k": int(hybrid.get("rrf_k", 60))}
            where = req.get("where")
            if where is not None:
                if not isinstance(where, str) or not where.strip():
                    raise ValueError("'where' must be a SQL boolean "
                                     "expression over doc_map columns "
                                     "(conv_id, turn_idx, role, text, "
                                     "tool, ts)")
                if "query" not in req:
                    raise ValueError("'where' filters a term search — a "
                                     "'query' is required")
            boosts = req.get("boosts")
            if boosts is not None:
                boosts = _coerce_weight_map(boosts, "boosts")
            if boosts is not None or where is not None:
                special = [phrase, boolean, snippets, fields,
                           req.get("conversations"), facets, mlt, suggest,
                           spell, fused, bm25f, syns, explain, hybrid,
                           req.get("count")]
                if any(x for x in special):
                    raise ValueError("'boosts'/'where' apply to plain "
                                     "term search only")
            exclusive = [n for n, on in [("phrase", phrase),
                                         ("boolean", boolean),
                                         ("facets", facets is not None),
                                         ("mlt", mlt is not None),
                                         ("suggest", suggest is not None),
                                         ("count", bool(req.get("count"))),
                                         ("fused_fields", fused is not None),
                                         ("bm25f_fields", bm25f is not None),
                                         ("explain", explain is not None),
                                         ("synonyms", syns is not None),
                                         ("spell", spell is not None),
                                         ("hybrid", hybrid is not None)]
                         if on]
            if len(exclusive) > 1:
                raise ValueError(f"mutually exclusive routes: {exclusive}")
        except (json.JSONDecodeError, ValueError, TypeError) as e:
            out_stream.write(json.dumps({"error": str(e)}) + "\n")
            out_stream.flush()
            continue
        t0 = time.time()

        def _run():
            if spell is not None:
                from anisearch_model_spark.query.spell import did_you_mean

                return [did_you_mean(idx, spell, field=role)]
            if suggest is not None:
                from anisearch_model_spark.query.engine import suggest_terms

                return [{"term": t, "df": df} for t, df in
                        suggest_terms(idx, suggest, n=k, field=role)]
            if req.get("count"):
                from anisearch_model_spark.query.engine import match_count

                return [{"n_matches": match_count(idx, req["query"],
                                                  field=role)}]
            if explain is not None:
                from anisearch_model_spark.query.explain import explain_score

                return [explain_score(idx, req["query"], explain,
                                      field=role)]
            if mlt is not None:
                from anisearch_model_spark.query.mlt import more_like_this

                return more_like_this(idx, mlt, m=int(req.get("m", 5)),
                                      k=k, field=role,
                                      pruned=pruned).collect()
            if facets is not None:
                from anisearch_model_spark.query.facets import facet_counts

                return facet_counts(idx, req["query"], facet_col=facets,
                                    field=role).collect()
            if hybrid is not None:
                from pyspark.sql import functions as SF

                from anisearch_model_spark.query.hybrid import hybrid_search

                emb = spark.read.parquet(hybrid["embeddings"])
                row = emb.filter(
                    SF.col("vec_id") == hybrid["vec_id"]).head()
                if row is None:
                    raise ValueError(
                        f"vec_id {hybrid['vec_id']} not found in "
                        f"{hybrid['embeddings']}")
                return hybrid_search(
                    idx, req["query"], emb,
                    [float(x) for x in row["embedding"]],
                    k=k, rrf_k=hybrid["rrf_k"]).collect()
            if syns is not None:
                from anisearch_model_spark.query.synonyms import (
                    search_synonyms)

                return search_synonyms(idx, req["query"], syns,
                                       k=k, page=page,
                                       field=role).collect()
            if bm25f is not None:
                from anisearch_model_spark.query.bm25f import search_bm25f

                return search_bm25f(idx, req["query"], bm25f,
                                    k=k, page=page).collect()
            if fused is not None:
                from anisearch_model_spark.query.multifield import (
                    search_fields_fused)

                return search_fields_fused(idx, req["query"], fused,
                                           k=k, page=page).collect()
            if phrase:
                from anisearch_model_spark.query.phrase import phrase_search

                return phrase_search(idx, req["query"], k=k, page=page,
                                     field=role, slop=slop).collect()
            if boolean:
                from anisearch_model_spark.query.boolean import boolean_search

                return boolean_search(idx, req["query"], k=k, page=page,
                                      field=role).collect()
            if fields:
                from anisearch_model_spark.query.multifield import search_fields

                return search_fields(idx, req["query"], fields,
                                     k=k, page=page, pruned=pruned).collect()
            if req.get("conversations"):
                from anisearch_model_spark.query.multifield import (
                    search_conversations)

                return search_conversations(idx, req["query"], k=k,
                                            page=page, pruned=pruned).collect()
            if snippets:
                from anisearch_model_spark.query.highlight import (
                    search_snippets)

                return search_snippets(idx, req["query"], k=k, page=page,
                                       field=role, pruned=pruned).collect()
            if where is not None:
                from anisearch_model_spark.query.filtered import (
                    search_filtered)

                return search_filtered(idx, req["query"], where, k=k,
                                       page=page, field=role,
                                       pruned=pruned).collect()
            return search(idx, req["query"], k=k, page=page, role=role,
                          pruned=pruned, boosts=boosts).collect()

        try:
            try:
                rows = _run()
            except Exception as e:  # noqa: BLE001
                # snapshot-expiry retry: a query planned against the old
                # snapshot can fail if a concurrent compaction/purge
                # deleted its superseded directories mid-query (Iceberg's
                # expire-snapshots caveat); ONE re-plan reads the current
                # committed snapshot — for compaction, identical results
                msg = str(e)
                if any(s in msg for s in ("FileNotFound", "PATH_NOT_FOUND",
                                          "does not exist")):
                    rows = _run()
                else:
                    raise
        except Exception as e:  # noqa: BLE001 — a bad request must not kill the service
            out_stream.write(json.dumps({"error": str(e)}) + "\n")
            out_stream.flush()
            continue
        wall_ms = (time.time() - t0) * 1000.0
        query_text = req.get(
            "query",
            f"suggest:{suggest}" if suggest is not None
            else (f"spell:{spell}" if spell is not None else f"mlt:{mlt}"))
        if log:
            import datetime as dt

            try:
                log_query(
                    spark, index_dir,
                    ts=dt.datetime.now(), query_text=query_text, k=k,
                    page=page, field=role,
                    scorer=_scorer_name(
                        [("spell", spell is not None),
                         ("suggest", suggest is not None),
                         ("explain", explain is not None),
                         ("synonyms", syns is not None),
                         ("mlt", mlt is not None),
                         ("facets", facets is not None),
                         ("bm25f", bm25f is not None),
                         ("fused", fused is not None),
                         ("phrase", phrase), ("boolean", boolean),
                         ("hybrid", hybrid is not None),
                         ("filtered", where is not None)], pruned),
                    n_results=len(rows),
                    res_hash=result_hash(
                        [(r["rank"], r["doc_id"], r["score"]) for r in rows]
                        if rows and hasattr(rows[0], "asDict")
                        and {"rank", "doc_id", "score"}
                        <= set(rows[0].asDict()) else []),
                    wall_ms=wall_ms,
                )
            except Exception as e:  # noqa: BLE001
                print(f"warning: query_log append failed: {e}",
                      file=sys.stderr)
        out_stream.write(json.dumps(
            {"query": query_text,
             "wall_ms": round(wall_ms, 3),
             "results": [r.asDict() if hasattr(r, "asDict") else r
                         for r in rows]}, default=str) + "\n")
        out_stream.flush()
    return served


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="anisearch_model_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build (or resume) an index")
    b.add_argument("--input", required=True, help="transcript parquet path")
    b.add_argument("--index", required=True, help="index output dir")
    b.add_argument("--num-buckets", type=int, default=64)
    b.add_argument("--field-col", default=None,
                   help="build field-qualified postings (e.g. role)")

    s = sub.add_parser("search", help="BM25 top-k query")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--page", type=int, default=1)
    scorer = s.add_mutually_exclusive_group()
    scorer.add_argument("--pruned", action="store_true",
                        help="block-max WAND scorer (the default; kept for "
                             "script compatibility)")
    scorer.add_argument("--exhaustive", action="store_true",
                        help="exact exhaustive scorer — the oracle/debug "
                             "comparator (identical results, decodes every "
                             "block)")
    s.add_argument("--role", default=None,
                   help="scope to one field of a field-qualified index")
    s.add_argument("--phrase", action="store_true",
                   help="treat the query as an EXACT PHRASE (stopwords "
                        "elided): consecutive-position match over the "
                        "blocks' position column, scored as one virtual "
                        "BM25 term")
    s.add_argument("--slop", type=int, default=0,
                   help="with --phrase: allow in-order gaps up to 1+slop "
                        "positions between consecutive phrase terms")
    s.add_argument("--boolean", action="store_true",
                   help="parse +term (required) / -term (prohibited) "
                        "clause markers; plain terms remain optional "
                        "scoring clauses")
    s.add_argument("--snippets", action="store_true",
                   help="attach a highlighted snippet column (matched "
                        "terms wrapped in **, densest text window)")
    s.add_argument("--conversations", action="store_true",
                   help="dedup results by conv_id keeping the best turn")
    s.add_argument("--fields", default=None,
                   help="comma-separated fields: per-field scoring + "
                        "conv-level merge (reference multi-column search)")
    s.add_argument("--count", action="store_true",
                   help="print the total live-doc hit count only (no "
                        "ranking; Lucene TotalHitCountCollector analog)")
    s.add_argument("--facets", default=None, metavar="COL",
                   help="instead of ranked results, print the facet "
                        "histogram of the FULL match set over this "
                        "doc_map column (e.g. role)")
    s.add_argument("--fused-fields", default=None, metavar="F:W,F:W",
                   help="weighted CombSUM fusion: score conversations as "
                        "the weighted sum of per-field best BM25 hits "
                        "(e.g. user:1.0,assistant:0.5)")
    s.add_argument("--boosts", default=None, metavar="T:W,T:W",
                   help="query-time term boosts (Lucene term^2): multiply "
                        "each term's whole contribution; works with both "
                        "scorers (e.g. hero:2.0,battle:0.5)")
    s.add_argument("--synonyms", default=None, metavar="T:V|V,T:V",
                   help="blended synonym groups (Lucene SynonymQuery): "
                        "each query term and its variants score as ONE "
                        "virtual term — tf sums, df is the union doc "
                        "count (e.g. join:merge,window:pane)")
    s.add_argument("--bm25f-fields", default=None, metavar="F:W,F:W",
                   help="true BM25F: combine per-field length-normalized "
                        "weighted tf across a conversation's turns FIRST, "
                        "saturate once, score with entity-level idf "
                        "(Robertson CIKM'04; e.g. user:1.0,assistant:0.5)")
    s.add_argument("--hybrid-embeddings", default=None, metavar="PARQUET",
                   help="hybrid retrieval: RRF-fuse the BM25 top-N with "
                        "the cosine top-N over this (vec_id, embedding) "
                        "parquet table; needs --vec-id")
    s.add_argument("--vec-id", type=int, default=None,
                   help="with --hybrid-embeddings: vec_id whose embedding "
                        "is the dense query vector")
    s.add_argument("--rrf-k", type=int, default=60,
                   help="with --hybrid-embeddings: RRF rank constant "
                        "(Cormack et al.: 60)")
    s.add_argument("--where", default=None, metavar="SQL",
                   help="metadata filter clause (Lucene FILTER occur): "
                        "rank only docs whose doc_map row satisfies this "
                        "SQL boolean expression (columns conv_id, "
                        "turn_idx, role, text, tool, ts); scores stay "
                        "full-corpus BM25 — the filter never rescales")
    s.add_argument("--log", action="store_true",
                   help="append a per-query evaluation record to "
                        "<index>/query_log (opt-in: plain search stays a "
                        "pure read and works on read-only index mounts)")

    g2 = sub.add_parser("suggest", help="type-ahead term suggestion: "
                                        "highest-df dictionary terms under "
                                        "a prefix (bounded pushed-prefix "
                                        "scan, never a vocabulary load)")
    g2.add_argument("--index", required=True)
    g2.add_argument("--prefix", required=True)
    g2.add_argument("--n", type=int, default=10)
    g2.add_argument("--role", default=None)

    sp = sub.add_parser("spell", help="did-you-mean spell correction: "
                                      "query terms absent from the "
                                      "dictionary get replacements ranked "
                                      "by (edit distance, df) — Lucene "
                                      "DirectSpellChecker analog")
    sp.add_argument("--index", required=True)
    sp.add_argument("--query", required=True)
    sp.add_argument("--max-edits", type=int, default=2)
    sp.add_argument("--n", type=int, default=3,
                    help="suggestions per unknown term")
    sp.add_argument("--role", default=None)

    x = sub.add_parser("explain", help="per-term BM25 score breakdown for "
                                       "one (query, doc) pair — the Lucene "
                                       "explain() analog; total equals the "
                                       "search() score bit-for-bit")
    x.add_argument("--index", required=True)
    x.add_argument("--query", required=True)
    x.add_argument("--doc-id", type=int, required=True)
    x.add_argument("--role", default=None,
                   help="scope to one field of a field-qualified index")

    m = sub.add_parser("mlt", help="more-like-this: top tf-idf terms of a "
                                   "source doc become a BM25 similarity "
                                   "query; the source is excluded")
    m.add_argument("--index", required=True)
    m.add_argument("--doc-id", type=int, required=True)
    m.add_argument("--m", type=int, default=5,
                   help="number of extracted query terms")
    m.add_argument("--k", type=int, default=10)
    m.add_argument("--role", default=None,
                   help="scope to one field of a field-qualified index")
    m.add_argument("--exhaustive", action="store_true")

    v = sub.add_parser("serve", help="long-lived query loop: one Spark "
                                     "session + one IndexStore (hot LRU "
                                     "dictionary cache) serving many "
                                     "queries, one per stdin line")
    v.add_argument("--index", required=True)
    v.add_argument("--no-log", action="store_true",
                   help="skip query_log appends (a service normally logs; "
                        "failures degrade to a warning either way)")

    a = sub.add_parser("append", help="incremental index append (streaming)")
    a.add_argument("--stream-dir", required=True)
    a.add_argument("--index", required=True)

    mg = sub.add_parser("merge", help="merge independently built indexes "
                                      "into one (Lucene addIndexes analog): "
                                      "doc-id spaces re-base by offset, "
                                      "posting buffers carry byte-identical, "
                                      "dictionary/stats re-derive, "
                                      "tombstones carry over")
    mg.add_argument("--src", action="append", required=True,
                    help="source index dir (repeat >= 2 times)")
    mg.add_argument("--out", required=True, help="output index dir (new)")

    c = sub.add_parser("compact", help="merge small append buckets and "
                                       "purge tombstoned docs")
    c.add_argument("--index", required=True)
    c.add_argument("--target-docs", type=int, default=None)

    d = sub.add_parser("delete", help="tombstone docs (takedown/purge): "
                                      "queries exclude them immediately; "
                                      "space reclaims at the next compact")
    d.add_argument("--index", required=True)
    d.add_argument("--doc-id", type=int, action="append", default=[],
                   help="doc id to delete (repeatable)")
    d.add_argument("--conv-id", action="append", default=[],
                   help="delete every turn of this conversation (repeatable)")
    d.add_argument("--purge", action="store_true",
                   help="also physically rewrite affected buckets now")

    g = sub.add_parser("datagen", help="write a seeded synthetic corpus")
    g.add_argument("--out", required=True)
    g.add_argument("--n-turns", type=int, default=100_000)
    g.add_argument("--seed", type=int, default=42)

    i = sub.add_parser("info", help="index health snapshot: corpus stats, "
                                    "manifest buckets, tombstones "
                                    "— one JSON line, no Spark jobs")
    i.add_argument("--index", required=True)

    r = sub.add_parser("recover", help="heal an interrupted compaction/"
                                       "purge (delete directories the "
                                       "committed manifest does not list)")
    r.add_argument("--index", required=True)

    args = p.parse_args(argv)

    # pure-metadata commands: no SparkSession (sub-second on any index)
    if args.cmd == "info":
        print(json.dumps(index_info(args.index)))
        return 0
    if args.cmd == "recover":
        from anisearch_model_spark.index.compact import recover_compaction

        print(json.dumps({"recovered": recover_compaction(args.index)}))
        return 0

    from pyspark.sql import SparkSession

    from anisearch_model_spark.session import get_spark

    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(app_name=f"asms-{args.cmd}")
    try:
        if args.cmd == "build":
            from anisearch_model_spark.index.store import build_index

            tr = spark.read.parquet(args.input)
            metrics = build_index(spark, tr, args.index, num_buckets=args.num_buckets,
                                  field_col=args.field_col)
            print(json.dumps(metrics))
        elif args.cmd == "search":
            from anisearch_model_spark.query.engine import IndexStore, search
            from anisearch_model_spark.query.multifield import search_conversations

            idx = IndexStore(spark, args.index)
            pruned = not args.exhaustive
            # timer starts BEFORE the search call: attach_metadata executes
            # the expensive top-k eagerly at DataFrame-construction time,
            # so timing only the final collect() logs a meaningless
            # near-zero latency (same policy as timed_logged_search)
            import time

            t0 = time.time()
            if args.count:
                from anisearch_model_spark.query.engine import match_count

                print(json.dumps(
                    {"n_matches": match_count(idx, args.query,
                                              field=args.role)}))
                return 0
            if args.facets:
                from anisearch_model_spark.query.facets import facet_counts

                out = facet_counts(idx, args.query, facet_col=args.facets,
                                   field=args.role)
            elif args.fused_fields:
                from anisearch_model_spark.query.multifield import (
                    search_fields_fused)

                out = search_fields_fused(
                    idx, args.query, _parse_weight_map(args.fused_fields),
                    k=args.k, page=args.page)
            elif args.synonyms:
                from anisearch_model_spark.query.synonyms import (
                    search_synonyms)

                out = search_synonyms(
                    idx, args.query, _parse_synonym_groups(args.synonyms),
                    k=args.k, page=args.page, field=args.role)
            elif args.bm25f_fields:
                from anisearch_model_spark.query.bm25f import search_bm25f

                out = search_bm25f(
                    idx, args.query, _parse_weight_map(args.bm25f_fields),
                    k=args.k, page=args.page)
            elif args.hybrid_embeddings:
                from pyspark.sql import functions as SF

                from anisearch_model_spark.query.hybrid import hybrid_search

                if args.vec_id is None:
                    raise SystemExit(
                        "--hybrid-embeddings requires --vec-id")
                emb = spark.read.parquet(args.hybrid_embeddings)
                row = emb.filter(SF.col("vec_id") == args.vec_id).head()
                if row is None:
                    raise SystemExit(
                        f"vec_id {args.vec_id} not found in "
                        f"{args.hybrid_embeddings}")
                out = hybrid_search(
                    idx, args.query, emb,
                    [float(x) for x in row["embedding"]],
                    k=args.k, rrf_k=args.rrf_k)
            elif args.phrase:
                from anisearch_model_spark.query.phrase import phrase_search

                out = phrase_search(idx, args.query, k=args.k,
                                    page=args.page, field=args.role,
                                    slop=args.slop)
            elif args.boolean:
                from anisearch_model_spark.query.boolean import boolean_search

                out = boolean_search(idx, args.query, k=args.k,
                                     page=args.page, field=args.role)
            elif args.snippets:
                from anisearch_model_spark.query.highlight import (
                    search_snippets)

                out = search_snippets(idx, args.query, k=args.k,
                                      page=args.page, field=args.role,
                                      pruned=pruned)
            elif args.fields:
                from anisearch_model_spark.query.multifield import search_fields

                out = search_fields(idx, args.query,
                                    args.fields.split(","), k=args.k,
                                    page=args.page, pruned=pruned)
            elif args.conversations:
                out = search_conversations(idx, args.query, k=args.k,
                                           page=args.page, pruned=pruned)
            elif args.where:
                from anisearch_model_spark.query.filtered import (
                    search_filtered)

                out = search_filtered(idx, args.query, args.where,
                                      k=args.k, page=args.page,
                                      field=args.role, pruned=pruned)
            else:
                out = search(idx, args.query, k=args.k, pruned=pruned,
                             page=args.page, role=args.role,
                             boosts=(_parse_weight_map(args.boosts)
                                     if args.boosts else None))
            rows = out.collect()
            wall_ms = (time.time() - t0) * 1000.0
            if args.log:
                import datetime as dt

                from anisearch_model_spark.query.log import log_query, result_hash

                try:
                    log_query(
                        spark, args.index,
                        ts=dt.datetime.now(), query_text=args.query, k=args.k,
                        page=args.page, field=args.role,
                        scorer=_scorer_name(
                            [("facets", args.facets),
                             ("synonyms", args.synonyms),
                             ("bm25f", args.bm25f_fields),
                             ("fused", args.fused_fields),
                             ("phrase", args.phrase),
                             ("boolean", args.boolean),
                             ("hybrid", args.hybrid_embeddings),
                             ("filtered", args.where)], pruned),
                        n_results=len(rows),
                        res_hash=result_hash(
                            [(r["rank"], r["doc_id"], r["score"]) for r in rows]
                            if rows and {"rank", "doc_id", "score"}
                            <= set(rows[0].asDict()) else []
                        ),
                        wall_ms=wall_ms,
                    )
                except Exception as e:  # noqa: BLE001 — logging must never eat results
                    print(f"warning: query_log append failed: {e}",
                          file=sys.stderr)
            for row in rows:
                print(json.dumps(row.asDict(), default=str))
        elif args.cmd == "suggest":
            from anisearch_model_spark.query.engine import (
                IndexStore, suggest_terms)

            idx = IndexStore(spark, args.index)
            for term, df in suggest_terms(idx, args.prefix, n=args.n,
                                          field=args.role):
                print(json.dumps({"term": term, "df": df}))
        elif args.cmd == "spell":
            from anisearch_model_spark.query.engine import IndexStore
            from anisearch_model_spark.query.spell import did_you_mean

            idx = IndexStore(spark, args.index)
            print(json.dumps(did_you_mean(idx, args.query,
                                          field=args.role,
                                          max_edits=args.max_edits,
                                          n=args.n)))
        elif args.cmd == "explain":
            from anisearch_model_spark.query.engine import IndexStore
            from anisearch_model_spark.query.explain import explain_score

            idx = IndexStore(spark, args.index)
            print(json.dumps(explain_score(idx, args.query, args.doc_id,
                                           field=args.role)))
        elif args.cmd == "mlt":
            from anisearch_model_spark.query.engine import IndexStore
            from anisearch_model_spark.query.mlt import more_like_this

            idx = IndexStore(spark, args.index)
            out = more_like_this(idx, args.doc_id, m=args.m, k=args.k,
                                 field=args.role,
                                 pruned=not args.exhaustive)
            for row in out.collect():
                print(json.dumps(row.asDict(), default=str))
        elif args.cmd == "serve":
            n = serve_loop(spark, args.index, sys.stdin, sys.stdout,
                           log=not args.no_log)
            print(json.dumps({"served": n}), file=sys.stderr)
        elif args.cmd == "append":
            from anisearch_model_spark.streaming.incremental import incremental_append

            print(json.dumps(incremental_append(spark, args.stream_dir,
                                                args.index)))
        elif args.cmd == "merge":
            from anisearch_model_spark.index.merge import merge_indexes

            print(json.dumps(merge_indexes(spark, args.src, args.out)))
        elif args.cmd == "compact":
            from anisearch_model_spark.index.compact import compact_index

            print(json.dumps(compact_index(spark, args.index,
                                           target_docs=args.target_docs)))
        elif args.cmd == "delete":
            from anisearch_model_spark.index.tombstones import (
                delete_conversations, delete_docs, purge_deleted)

            n = delete_docs(spark, args.index, args.doc_id)
            n += delete_conversations(spark, args.index, args.conv_id)
            out = {"tombstoned": n}
            if args.purge:
                out.update(purge_deleted(spark, args.index))
            print(json.dumps(out))
        elif args.cmd == "datagen":
            from anisearch_model_spark.datagen import write_transcripts

            write_transcripts(spark, args.out, args.n_turns, args.seed)
            print(json.dumps({"written": args.n_turns, "path": args.out}))
        return 0
    finally:
        if existing is None:  # don't tear down a session we didn't create
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
