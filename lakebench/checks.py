"""Correctness checks for what the program commits, run outside the timed
window.  (Dashboard query results go through ``tests/oracle.compare``.)

Expected values are computed by DuckDB from the generated input files,
using the medallion oracle SQL the project ships; actual values are read
back from what the program committed (medallion lake tables, stream sink
output).  Rows are compared as order-insensitive multisets with the
project's own value normalisation (``tests/oracle.py``), and each layer is
summarised as a row count plus a checksum so a mismatch names the layer
that broke.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import pyarrow.dataset as ds

from tests.oracle import _norm


def duck_connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )
    return con


def summarize(rows) -> tuple[int, str]:
    """(row count, order-insensitive checksum) of normalised rows; equal
    summaries mean equal row multisets."""
    lines = sorted("\x1f".join(_norm(v) for v in r) for r in rows)
    return len(lines), hashlib.sha1("\n".join(lines).encode()).hexdigest()


def _fetch(con, sql: str) -> list[tuple]:
    return con.execute(sql).fetchall()


def compare_rows(layer: str, actual: list[tuple], expected: list[tuple]) -> dict:
    a, e = summarize(actual), summarize(expected)
    return {"layer": layer, "ok": a == e, "rows": a[0], "checksum": a[1],
            "expected_rows": e[0], "expected_checksum": e[1]}


# ---- medallion lake ------------------------------------------------------


def _scan(base: str, table: str, partitioned: bool) -> str:
    if partitioned:
        return f"read_parquet('{base}/{table}/*/*.parquet', hive_partitioning = true)"
    manifest = os.path.join(base, table, "_snapshot_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            current = json.load(fh)["current"]
        return f"read_parquet('{base}/{table}/v={current}/*.parquet')"
    return f"read_parquet('{base}/{table}/*.parquet')"


def _parity_sql(base: str) -> str:
    """The committed lake unpivoted into the (layer, key, metric, value)
    shape of the project's medallion parity oracle."""
    fact = _scan(base, "gold_fact_daily", True)
    fbf = _scan(base, "gold_fact_feedback_daily", True)
    uf = _scan(base, "gold_fact_user_daily", True)
    du = _scan(base, "gold_dim_user", False)
    ts = _scan(base, "gold_dim_type_stats", False)
    scd2 = _scan(base, "gold_dim_user_scd2", False)
    dk = "CAST(event_date AS VARCHAR) || '|' || event_type"
    uk = "CAST(event_date AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)"
    days = "CAST({c} - DATE '1970-01-01' AS DOUBLE)"
    parts = [
        (fact, "fact_daily", dk, {"n_events": "n_events", "total_value": "total_value",
                                  "n_off_hours": "n_off_hours"}),
        (fbf, "fact_feedback_daily", "CAST(event_date AS VARCHAR)",
         {"n_feedback": "n_feedback", "avg_rating": "avg_rating", "n_verified": "n_verified"}),
        (uf, "fact_user_daily", uk, {"n_events": "n_events", "total_value": "total_value",
                                     "n_types": "n_types"}),
        (du, "dim_user", "CAST(user_id AS VARCHAR)",
         {"first_seen_days": days.format(c="first_seen_date"),
          "last_seen_days": days.format(c="last_seen_date"),
          "n_event_types": "n_event_types"}),
        (ts, "dim_type_stats", "event_type",
         {"avg_value_type": "avg_value_type", "n_users_type": "n_users_type"}),
        (f"(SELECT * FROM {scd2} WHERE is_current)", "scd2_current",
         "CAST(user_id AS VARCHAR)",
         {"value_band": "value_band", "first_seen_days": days.format(c="first_seen_date")}),
    ]
    selects = [
        f"SELECT '{layer}' AS layer, {key} AS key, '{metric}' AS metric, "
        f"CAST({expr} AS DOUBLE) AS value FROM {src}"
        for src, layer, key, metrics in parts
        for metric, expr in metrics.items()
    ]
    return " UNION ALL ".join(selects)


def check_medallion_lake(con, base: str, full: bool) -> list[dict]:
    """Compare a committed medallion lake against DuckDB's from-scratch
    computation over the generated ``events``: bronze (row count and id
    sum), silver (every row), and every gold/dim table through the parity
    frame (per layer)."""
    from bakery_big_data_spark.plans.pipeline_q import (
        _MEDALLION_PARITY_SQL,
        _SILVER_SQL,
    )

    results = []
    if full:
        bronze = _fetch(con, f"SELECT COUNT(*), SUM(event_id) FROM {_scan(base, 'bronze_events', True)}")
        expected = _fetch(con, "SELECT COUNT(*), SUM(event_id) FROM events")
        results.append(compare_rows("bronze_events", bronze, expected))
    cols = ("event_id, user_id, event_type, value, event_date, time_of_day, "
            "data_quality_score, etl_timestamp")
    results.append(compare_rows(
        "silver_events",
        _fetch(con, f"SELECT {cols} FROM {_scan(base, 'silver_events', True)}"),
        _fetch(con, f"SELECT {cols} FROM ({_SILVER_SQL})"),
    ))
    actual = _fetch(con, _parity_sql(base))
    expected = _fetch(con, _MEDALLION_PARITY_SQL)
    for layer in sorted({r[0] for r in expected} | {r[0] for r in actual}):
        results.append(compare_rows(
            layer,
            [r for r in actual if r[0] == layer],
            [r for r in expected if r[0] == layer],
        ))
    return results


# ---- stream sink ---------------------------------------------------------


def check_exactly_once(out_path: str, expected_ids: set[int]) -> dict:
    """Committed ``event_id``s must equal the generated set, each once, and
    every committed row must carry its decoded timestamp."""
    files = glob.glob(os.path.join(out_path, "batch_id=*", "*.parquet"))
    ids: list[int] = []
    null_ts = 0
    if files:
        table = ds.dataset(files, format="parquet").to_table(columns=["event_id", "ts"])
        ids = table.column("event_id").to_pylist()
        null_ts = table.column("ts").null_count
    dupes = len(ids) - len(set(ids))
    ok = set(ids) == expected_ids and dupes == 0 and null_ts == 0
    return {"layer": "stream_sink", "ok": ok, "rows": len(ids),
            "expected_rows": len(expected_ids), "duplicates": dupes,
            "missing": len(expected_ids - set(ids)), "null_ts": null_ts}
