"""Correctness gate: the program's outputs against DuckDB computations over
the same generated inputs.

Ingest: the ``channel_data`` rows a drain appended, and the rows retention
kept, are compared with DuckDB by row count and an order-free checksum of
``hash(id, channel_id, value)`` (DuckDB hashes both sides, so the check is
exact on doubles).  Query mix: each query's collected rows against its
registered ``oracle_map()`` SQL over the tables ``oracle_connect`` serves,
with the repo's oracle comparison (``tests/oracle_check.py:compare``).
"""

from __future__ import annotations

import os

import duckdb

from daq_3i_spark.functions.convert import convert_case_duckdb
from daq_3i_spark.sources.daq_dims import conversions_rows, dims_cte_sql
from daq_3i_spark.streaming.pipeline import HEARTBEAT_PARAMETER, STATUS_OK, read_status


def connect() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": max(1, len(os.sched_getaffinity(0)))})


def _glob(d: str) -> str:
    return os.path.join(d, "**", "*.parquet")


def expected_ingest(con, feed_files: list[str]) -> dict:
    """What a drain of ``feed_files`` must produce: the enriched, converted
    rows (count + checksum), the rows retention keeps, and the status
    snapshot.  Rows of disabled channels are dropped by the enrich join
    before the status upsert, as the reference never polls those channels,
    so the heartbeat carries the newest ``ts`` among enabled channels."""
    files = ", ".join(f"'{f}'" for f in feed_files)
    convs = [(cid, expr) for cid, _n, expr in conversions_rows()]
    value = convert_case_duckdb(convs, "c.conversion_id", "cd.value")
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM read_parquet([{files}])"
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE expected AS
        WITH {dims_cte_sql()}
        SELECT cd.id, cd.channel_id, cd.ts, {value} AS value, c.history_len
        FROM channel_data cd JOIN channels c ON c.id = cd.channel_id
        WHERE c.enabled"""
    )
    rows, digest = con.execute(
        "SELECT count(*), sum(hash(id, channel_id, value)) FROM expected"
    ).fetchone()
    kept_rows, kept_digest = con.execute(
        """SELECT count(*), sum(hash(id, channel_id, value)) FROM (
             SELECT *, row_number() OVER (PARTITION BY channel_id ORDER BY id DESC) AS rn
             FROM expected) WHERE rn <= history_len"""
    ).fetchone()
    status = con.execute(
        f"""SELECT 'CHL: ' || CAST(channel_id AS VARCHAR), {STATUS_OK}, max(ts)
            FROM expected GROUP BY channel_id
            UNION ALL SELECT '{HEARTBEAT_PARAMETER}', {STATUS_OK}, max(ts) FROM expected"""
    ).fetchall()
    return {"rows": rows, "digest": digest, "kept_rows": kept_rows,
            "kept_digest": kept_digest, "status": sorted(status)}


def table_digest(con, table_dir: str) -> tuple[int, int]:
    """(rows, checksum) of the parquet files under ``table_dir``."""
    return con.execute(
        f"SELECT count(*), sum(hash(id, channel_id, value)) FROM read_parquet('{_glob(table_dir)}')"
    ).fetchone()


def check_ingest(con, spark, work: str, pre_retention: str | None, exp: dict) -> list[str]:
    """Problems with one run's outputs (empty = correct).  ``pre_retention``
    holds the ``channel_data`` files as a drain appended them, before
    retention rewrote the table (``None``: retention has not run, check the
    table as appended).  ``daq_status`` must hold, for every key, the newest
    ``ts`` with status OK."""
    problems = []
    cd = os.path.join(work, "channel_data")
    appended = table_digest(con, pre_retention or cd)
    if appended != (exp["rows"], exp["digest"]):
        problems.append(f"channel_data {appended} != expected {(exp['rows'], exp['digest'])}")
    if pre_retention is not None:
        kept = table_digest(con, cd)
        if kept != (exp["kept_rows"], exp["kept_digest"]):
            problems.append(f"retention kept {kept} != expected {(exp['kept_rows'], exp['kept_digest'])}")
    status = sorted(tuple(r) for r in read_status(spark, work).select("parameter", "status", "ts").collect())
    if status != exp["status"]:
        diff = sorted(set(status) ^ set(exp["status"]))[:4]
        problems.append(f"daq_status differs from the newest ts per key: {diff}")
    return problems


# --- query mix ----------------------------------------------------------------


def oracle_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with a view per generated table, named as the oracle SQL expects."""
    con = connect()
    for f in sorted(os.listdir(sf_dir)):
        name = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')")
    return con
