"""Query-side metrics/log sink — the query half of the reference's S6
metrics surface.

The reference appends a per-query evaluation record (model info, timing,
the ranked results) to a JSON-array log file after every search
(``/root/reference/src/test.py:221-274`` via the shared append helper
``src/common.py:105-151``).  Here the same record is one row of an
append-only Parquet table under ``<index_dir>/query_log`` — queryable with
Spark like every other table.

Each append is written on the driver with pyarrow, no Spark job: a
one-row file goes to a dot-prefixed temp name in ``query_log/`` and is
then ``os.replace``d to ``part-<uuid4>.parquet``.  The rename is atomic,
so a reader sees either the whole record or nothing, and Spark's reader
skips dot-prefixed (in-flight) files.  Every append is a new file, so
concurrent appenders never contend (no read-modify-write of a JSON
array), and directories written by the earlier Spark writer read back
unchanged through ``read_query_log``.

Timestamps are caller-supplied (`ts`): the engine stays deterministic and
replayable — nothing inside the plan reads the wall clock.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

QUERY_LOG_SCHEMA = (
    "ts timestamp, query_text string, k int, page int, field string, "
    "scorer string, n_results long, result_hash string, wall_ms double"
)


def result_hash(rows: list[tuple]) -> str:
    """Order-sensitive md5 of the (rank, doc_id, score) triples — the
    golden-result fingerprint the reference keeps as a full result dump
    (src/test.py:207-215), compressed to one comparable value."""
    import hashlib

    payload = ";".join(
        f"{int(r[0])}:{int(r[1])}:{float(r[2]):.6f}" for r in rows
    )
    return hashlib.md5(payload.encode()).hexdigest()


def log_query(
    spark: SparkSession,
    index_dir: str,
    *,
    ts,
    query_text: str,
    k: int,
    n_results: int,
    res_hash: str,
    wall_ms: float,
    page: int = 1,
    field: str | None = None,
    scorer: str = "bmw",
) -> None:
    """Append one evaluation record to ``<index_dir>/query_log``.

    A driver-side write: ``spark`` is unused and kept for the caller's
    signature.  A naive ``ts`` is local time, as with Spark's
    ``TimestampType``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_types = {"timestamp": pa.timestamp("us", tz="UTC"),
                   "string": pa.string(), "int": pa.int32(),
                   "long": pa.int64(), "double": pa.float64()}
    schema = pa.schema([(name, arrow_types[t]) for name, t in
                        (col.split() for col in QUERY_LOG_SCHEMA.split(","))])
    if ts is not None:
        ts = ts.astimezone(dt.timezone.utc)
    table = pa.Table.from_pylist(
        [{"ts": ts, "query_text": query_text, "k": int(k),
          "page": int(page), "field": field, "scorer": scorer,
          "n_results": int(n_results), "result_hash": res_hash,
          "wall_ms": float(wall_ms)}],
        schema=schema,
    )
    log_dir = os.path.join(index_dir, "query_log")
    os.makedirs(log_dir, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(log_dir, "." + name)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(log_dir, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def read_query_log(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(QUERY_LOG_SCHEMA).parquet(
        os.path.join(index_dir, "query_log")
    )


def timed_logged_search(spark: SparkSession, index, query_text: str,
                        k: int = 10, page: int = 1,
                        role: str | None = None,
                        pruned: bool = True) -> list:
    """Run ``search``, collect, and log the evaluation record — the
    reference's query-then-log loop (src/test.py:196-274) as one call.
    Returns the collected rows."""
    from anisearch_model_spark.query.engine import search

    t0 = time.time()
    rows = search(index, query_text, k=k, page=page, role=role,
                  pruned=pruned).collect()
    wall_ms = (time.time() - t0) * 1000.0
    log_query(
        spark, index.index_dir,
        ts=dt.datetime.now(),
        query_text=query_text, k=k, page=page, field=role,
        scorer="bmw" if pruned else "exhaustive",
        n_results=len(rows),
        res_hash=result_hash([(r["rank"], r["doc_id"], r["score"]) for r in rows]),
        wall_ms=wall_ms,
    )
    return rows
