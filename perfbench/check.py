"""Correctness gate: every benchmark output is compared with an answer
computed independently of Spark.

- Registry queries: DuckDB runs the query's oracle SQL over the same
  parquet inputs; rows are compared on count, column names and an
  order-insensitive value digest, with a per-value float fallback of
  1e-9 relative, the rule of the registry's own oracle gate.
- market_etl: the final candle table must equal a last-write-wins fold
  of the generated CSVs done in DuckDB, and each analytics artifact must
  have the row count DuckDB derives from that expected table.
"""

from __future__ import annotations

import decimal
import glob
import hashlib
import math
import os

import duckdb

from perfbench.gen import KLINES_HEADER, TABLES

FLOAT_TOL = 1e-9


def _normalize(v):
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "timestamp") and not isinstance(v, str):  # datetime
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_normalize(x) for x in v)
    return v


def _cell(v) -> str:
    v = _normalize(v)
    return f"{v:.17g}" if isinstance(v, float) else repr(v)


def canonical(rows, columns: list[str]) -> tuple[list[str], list[tuple[str, ...]]]:
    """Columns sorted by name, each row rendered as strings, rows sorted:
    a form in which row and column order no longer matter."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], body


def digest(body: list[tuple[str, ...]]) -> str:
    h = hashlib.sha256()
    for row in body:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


class Expected:
    """An oracle answer in canonical form."""

    def __init__(self, rows, columns: list[str]):
        self.columns, self.body = canonical(rows, columns)
        self.digest = digest(self.body)


def _values_close(a: str, b: str) -> bool:
    try:
        fa, fb = float(a), float(b)
    except ValueError:
        return False
    if math.isnan(fa) and math.isnan(fb):
        return True
    return abs(fa - fb) / max(1.0, abs(fa), abs(fb)) <= FLOAT_TOL


def compare(rows, columns: list[str], expected: Expected) -> str | None:
    """None when ``rows`` match ``expected``, else the first reason."""
    cols, body = canonical(rows, columns)
    if len(body) != len(expected.body):
        return f"row count {len(body)} != {len(expected.body)}"
    if cols != expected.columns:
        return f"columns {cols} != {expected.columns}"
    if digest(body) == expected.digest:
        return None
    bad = sum(
        1
        for got, want in zip(body, expected.body)
        if any(a != b and not _values_close(a, b) for a, b in zip(got, want))
    )
    return f"{bad} rows differ" if bad else None


def duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def oracle_answers(data_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, Expected | str]:
    """Expected answer per query, or the error text when the oracle
    itself fails (then the query counts as failed)."""
    con = duck_views(data_dir)
    out: dict[str, Expected | str] = {}
    try:
        for name in names:
            try:
                res = con.execute(oracles[name])
                out[name] = Expected(res.fetchall(), [d[0] for d in res.description])
            except duckdb.Error as e:
                out[name] = f"oracle error: {type(e).__name__}: {e}"
    finally:
        con.close()
    return out


# ------------------------------------------------------------ market_etl

_CANDLE_COLS = "symbol, tf, open_time, open, high, low, close, volume, num_trades"


def _expected_candles_sql(day_dirs: list[str]) -> str:
    """Last write wins per (symbol, tf, open_time): the newest day's file
    holding a key supplies its row; malformed timestamps are dropped."""
    parts = []
    for d, day_dir in enumerate(day_dirs):
        cols = ", ".join(f"'{c}': 'VARCHAR'" for c in KLINES_HEADER.split(","))
        parts.append(
            f"SELECT {d} AS day, * FROM read_csv('{day_dir}/klines_*.csv', "
            f"header=true, columns={{{cols}}})"
        )
    raw = " UNION ALL ".join(parts)
    return f"""
        WITH raw AS ({raw}),
        typed AS (
            SELECT day, symbol, tf,
                   TRY_CAST(open_time AS BIGINT) AS open_ms,
                   CAST(open AS DOUBLE) AS open, CAST(high AS DOUBLE) AS high,
                   CAST(low AS DOUBLE) AS low, CAST(close AS DOUBLE) AS close,
                   CAST(volume AS DOUBLE) AS volume,
                   CAST(num_trades AS INTEGER) AS num_trades
            FROM raw
        )
        SELECT symbol, tf, open_ms, open, high, low, close, volume, num_trades
        FROM typed
        WHERE open_ms IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY symbol, tf, open_ms ORDER BY day DESC) = 1
    """


class MarketExpected:
    """The expected candle table and artifact row counts."""

    def __init__(self, day_dirs: list[str], n_symbols: int):
        con = duckdb.connect()
        try:
            con.execute(f"CREATE TABLE expected AS {_expected_candles_sql(day_dirs)}")
            res = con.execute("SELECT * FROM expected")
            self.candles = Expected(res.fetchall(), [d[0] for d in res.description])
            n, days, months, hours, dows = con.execute(
                """
                SELECT count(*),
                       count(DISTINCT CAST(make_timestamp(open_ms * 1000) AS DATE)),
                       count(DISTINCT strftime(make_timestamp(open_ms * 1000), '%Y-%m')),
                       count(DISTINCT hour(make_timestamp(open_ms * 1000))),
                       count(DISTINCT dayofweek(make_timestamp(open_ms * 1000)))
                FROM expected
                """
            ).fetchone()
        finally:
            con.close()
        self.rows = n
        self.artifact_rows = {
            "daily": days,
            "monthly": months,
            "hourly": hours,
            "dow": dows,
            "heatmap": dows,
            "correlation": n_symbols * n_symbols,
            "top_anomalies": min(200, n),
        }


def read_candle_table(table_dir: str):
    """The parquet candle table as (rows, columns), open_time as epoch ms."""
    con = duckdb.connect()
    try:
        res = con.execute(
            f"SELECT symbol, tf, epoch_ms(open_time) AS open_ms, open, high, low, "
            f"close, volume, num_trades FROM read_parquet('{table_dir}/*.parquet')"
        )
        return res.fetchall(), [d[0] for d in res.description]
    finally:
        con.close()


def csv_artifact_rows(path: str) -> int:
    """Data rows in a headered CSV artifact directory."""
    n = 0
    for part in glob.glob(os.path.join(path, "*.csv")):
        with open(part) as f:
            n += max(0, sum(1 for _ in f) - 1)
    return n


def check_market(table_dir: str, artifact_dir: str, figures: list[str], expected: MarketExpected) -> list[str]:
    """Every mismatch found, as one reason string each."""
    problems = []
    rows, cols = read_candle_table(table_dir)
    why = compare(rows, cols, expected.candles)
    if why:
        problems.append(f"candles: {why}")
    for name, want in expected.artifact_rows.items():
        got = csv_artifact_rows(os.path.join(artifact_dir, name))
        if got != want:
            problems.append(f"artifact {name}: {got} rows != {want}")
    missing = [p for p in figures if not os.path.isfile(p) or os.path.getsize(p) == 0]
    if not figures or missing:
        problems.append(f"figures missing: {missing or 'none written'}")
    return problems
