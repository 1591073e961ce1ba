"""Output checks, run after the measured phase and outside op timing.

Results are compared with DuckDB oracles over the same generated parquet
files: column names order-insensitively, then the rows
order-insensitively with exact float equality (both sides round
deterministically), as the repo's own oracle tests do. A match is
reported as the row count and an order-insensitive hash of the rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

import duckdb


def _duck(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet") and not f.startswith("."):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{tables_dir}/{f}'")
    return con


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sorted_rows(rows) -> list[tuple]:
    norm = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(norm, key=lambda r: tuple((x is None, type(x).__name__, str(x)) for x in r))


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def against_oracle(cols: list[str], rows: list[tuple], sql: str, tables_dir: str) -> dict:
    """Compare one op's collected result with its oracle."""
    con = _duck(tables_dir)
    try:
        cur = con.execute(sql)
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
    finally:
        con.close()
    out = {"rows": len(rows), "oracle_rows": len(o_rows)}
    if sorted(o_cols) != sorted(cols):
        return {**out, "ok": False, "error": f"columns {sorted(cols)} != oracle {sorted(o_cols)}"}
    idx = [o_cols.index(c) for c in cols]
    s_sorted = _sorted_rows(rows)
    o_sorted = _sorted_rows(tuple(r[i] for i in idx) for r in o_rows)
    out["hash"], out["oracle_hash"] = _digest(s_sorted), _digest(o_sorted)
    ok = len(rows) == len(o_rows) and s_sorted == o_sorted
    if not ok:
        diff = next(
            ((a, b) for a, b in zip(s_sorted, o_sorted) if a != b),
            ("<row count differs>", None),
        )
        out["error"] = f"first difference: spark={diff[0]!r} oracle={diff[1]!r}"[:400]
    return {**out, "ok": ok}


def _vs_oracle(con: duckdb.DuckDBPyConnection, got_sql: str, want_sql: str) -> dict:
    """Multiset comparison inside DuckDB: the rows of ``got_sql`` against
    the rows of ``want_sql`` (columns matched by name), with the row
    counts, the rows each side lacks and an order-insensitive hash of the
    rows got."""
    got_cols = [d[0] for d in con.execute(f"SELECT * FROM ({got_sql}) LIMIT 0").description]
    want_cols = [d[0] for d in con.execute(f"SELECT * FROM ({want_sql}) LIMIT 0").description]
    if sorted(got_cols) != sorted(want_cols):
        return {"ok": False, "error": f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"}
    cols = ", ".join(f'"{c}"' for c in got_cols)
    rows, want_rows, missing, extra, digest = con.execute(f"""
        WITH got AS ({got_sql}), want AS (SELECT {cols} FROM ({want_sql}))
        SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want),
               (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
               (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
               (SELECT sum(hash(got)::HUGEINT) FROM got)
    """).fetchone()
    return {"ok": missing == 0 and extra == 0, "rows": rows, "oracle_rows": want_rows,
            "missing_rows": missing, "extra_rows": extra, "hash": f"{(digest or 0) & (2**64 - 1):016x}"}


def ingest(sinks: dict[str, str], delivered: list[str], delivered_rows: int, oracles: dict[str, str]) -> dict:
    """Every sink, all epochs together, against its oracle over the
    delivered files: quality-sink rows must equal the delivered rows one
    for one after the quality stage, anomaly-sink rows the rows the
    anomaly rule fires on, and analytics-sink rows the 1-minute window
    aggregation. Deliveries cover disjoint whole hours, so no window spans
    two epochs and the per-epoch aggregations together equal the
    aggregation over all delivered rows."""
    con = duckdb.connect()
    try:
        files = ", ".join(f"'{p}'" for p in delivered)
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
        out = {
            name: _vs_oracle(
                con,
                f"SELECT * FROM read_parquet('{sinks[name]}/epoch_id=*/*.parquet', hive_partitioning = false)",
                sql,
            )
            for name, sql in oracles.items()
        }
    finally:
        con.close()
    out["delivered_rows"] = delivered_rows
    out["ok"] = all(v["ok"] for v in out.values() if isinstance(v, dict)) and \
        out["quality"].get("rows") == delivered_rows
    return out
