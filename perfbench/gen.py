"""Deterministic workload inputs, generated from the benchmark seed.

Two generators, both pure functions of ``(seed, size)``:

- ``write_registry_tables`` writes the ten parquet tables the query
  registry reads (TPC-H-shaped star schema, an ``events`` stream, a text
  corpus with near-duplicates and an embedding table), with the column
  names, types and value distributions of the registry's test fixtures.
- ``write_klines_days`` writes one klines CSV per symbol per day, as the
  reference's collector does.  Every day after the first re-fetches the
  previous day's last hours with revised values, so a keyed upsert must
  overwrite those keys; one malformed row per file exercises the
  tolerant parser's drop path.

The same seed gives byte-identical files, so two runs with one seed see
the same inputs and a run is reproducible from its seed alone.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line table data agg value key stream window spark a group part "
    "big sort query fast the"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_US_PER_DAY = 86_400_000_000
# 1995-01-01 / 1995-01-02 / 2024-01-01 as microseconds since the epoch.
_ORDER_EPOCH_US = 788_918_400_000_000
_SHIP_EPOCH_US = 789_004_800_000_000
_EVENT_EPOCH_US = 1_704_067_200_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def registry_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The registry's ten input tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_user = max(10, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(_ORDER_EPOCH_US + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_SHIP_EPOCH_US + rng.integers(0, 2499, n_line) * _US_PER_DAY),
    })
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _ts(_EVENT_EPOCH_US + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt))),
        "user_id": pa.array(rng.integers(0, n_user, n_evt, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    out["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; about 5% are an earlier document with
    " dup" appended, the near-duplicates the dedup operators look for."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_registry_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in registry_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------------ klines

KLINES_HEADER = "symbol,tf,open_time,open,high,low,close,volume,num_trades"
_KLINES_T0_MS = 1_709_251_200_000  # 2024-03-01T00:00Z
_MIN_MS = 60_000
_DAY_MIN = 1440
# Hours of the previous day each later day re-fetches with revised values.
_OVERLAP_HOURS = 3


@dataclass(frozen=True)
class KlinesSpec:
    symbols: int
    days: int


def symbol_names(n: int) -> list[str]:
    return [f"SYM{i:02d}USDT" for i in range(n)]


def _klines_rows(rng: np.random.Generator, symbol: str, minutes: np.ndarray, base: float) -> list[str]:
    n = len(minutes)
    close = base * np.exp(np.cumsum(rng.normal(0.0, 0.001, n)))
    # Occasional large jumps give the anomaly ranking something to find.
    close *= np.where(rng.random(n) < 0.002, rng.uniform(0.97, 1.03, n), 1.0)
    open_ = np.concatenate([[close[0]], close[:-1]])
    spread = np.abs(rng.normal(0.0, 0.0005, n)) * close
    high = np.maximum(open_, close) + spread
    low = np.maximum(np.minimum(open_, close) - spread, 0.01)
    volume = np.where(rng.random(n) < 0.01, 0.0, rng.pareto(2.5, n) * 10.0)
    trades = rng.integers(0, 500, n)
    times = _KLINES_T0_MS + minutes * _MIN_MS
    return [
        f"{symbol},1m,{t},{o:.4f},{h:.4f},{lo:.4f},{c:.4f},{v:.3f},{k}"
        for t, o, h, lo, c, v, k in zip(times, open_, high, low, close, volume, trades)
    ]


def klines_day_files(seed: int, spec: KlinesSpec) -> list[dict[str, str]]:
    """Per day, ``{file name: CSV text}``.  Day ``d`` covers its own 1440
    minutes plus, for ``d > 0``, the last ``_OVERLAP_HOURS`` of day ``d-1``
    with revised values (a re-fetch of not-yet-final candles)."""
    rng = np.random.default_rng([seed, 2])
    bases = {s: float(rng.uniform(10.0, 50_000.0)) for s in symbol_names(spec.symbols)}
    days: list[dict[str, str]] = []
    for d in range(spec.days):
        start = d * _DAY_MIN - (_OVERLAP_HOURS * 60 if d else 0)
        minutes = np.arange(start, (d + 1) * _DAY_MIN)
        files = {}
        for sym, base in bases.items():
            rows = _klines_rows(rng, sym, minutes, base)
            # One malformed timestamp per file: the tolerant reader drops it.
            rows.insert(int(rng.integers(0, len(rows))), f"{sym},1m,not-a-time,1,1,1,1,1,1")
            files[f"klines_{sym}_1m.csv"] = "\n".join([KLINES_HEADER, *rows]) + "\n"
        days.append(files)
    return days


def write_klines_days(out_dir: str, seed: int, spec: KlinesSpec) -> list[str]:
    """Write each day's files to ``out_dir/day_NN``; return the day dirs."""
    dirs = []
    for d, files in enumerate(klines_day_files(seed, spec)):
        day_dir = os.path.join(out_dir, f"day_{d:02d}")
        os.makedirs(day_dir, exist_ok=True)
        for name, text in files.items():
            with open(os.path.join(day_dir, name), "w") as f:
                f.write(text)
        dirs.append(day_dir)
    return dirs
