"""Empirical scaling: time bench queries at a small and a large data
size, one warm bench session per size, and flag superlinear growth.

SCALING.md argues each family's plan scales; this tool MEASURES it.
The signal is the ratio t(hi) / t(lo) against the data ratio: a linear
operator's ratio is <= the data ratio (usually far below it, because
fixed per-query overhead dominates small sizes); a quadratic one's
ratio exceeds it.  Small-size times are overhead-dominated (~0.1-0.5 s
floor), so the flag only fires when the high-size time is also large
enough to matter (>= MIN_HI_SEC) — a 0.2 s -> 3 s jump is overhead
noise, a 2 s -> 40 s jump is a scaling bug.

The caller names the queries (as ``bench.py --isolate`` does); pick
them from the newest BENCH_HISTORY.jsonl sweep, not from a list kept
here.  Every output record stores the names it timed.  The base SF dir
is the bench's ($SPARK_GRAFT_SF_DIR, default sf0.1).

Usage:
  python tools/scaling.py curve OUT.json [QUERY ...]
      every bench query (or the named ones) at sf0.001 / sf0.01 / sf0.1
      (siblings of the base dir); ratio over the top decade
  python tools/scaling.py synth SYNTH_DIR COPIES
      build a COPIES x base-SF documents/embeddings/events corpus
  python tools/scaling.py extend SYNTH_DIR OUT.json QUERY [QUERY ...]
      time the queries at the base dir and at SYNTH_DIR; the data ratio
      is measured (synth documents rows / base documents rows)
  python tools/scaling.py cores SYNTH_DIR OUT.json QUERY [QUERY ...]
      paired strong scaling: sessions alternate 32c/8c/32c/8c so both
      core counts sample the same machine-throughput window; min-of-2
  python tools/scaling.py ingest SYNTH_DIR OUT.json
      per-trigger cost of the streaming-LSH ingest core along a batch
      axis and a store axis of the synth corpus

Synthesis preserves the statistical structure that drives each query's
cost, without inflating cross-copy duplicate density:

- documents: each extra copy shifts doc_id and applies a copy-specific
  letter rotation to the text (every shingle/word changes => no
  cross-copy near-dups; each copy reproduces the corpus's INTERNAL
  dup/boilerplate structure exactly).
- embeddings: each extra copy shifts vec_id and flips the sign of a
  copy-specific subset of dimensions — an isometry, so intra-copy
  cosine structure is bit-identical to the original corpus while
  cross-copy cosines scatter to ~0 (no phantom near-dup pairs).
- events: each extra copy shifts event_id/user_id and advances ts by
  the span of the original window (per-day density and per-user
  cardinality shapes are preserved; the time range and user universe
  grow with the corpus, as they would in production).

Only queries over these tables can be timed on the synth corpus; TPC-H
queries need FK-consistent synthesis, which belongs to the testdata
generator, not this tool.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CURVE_SFS = ("0.001", "0.01", "0.1")
MIN_HI_SEC = 2.0    # ignore ratios whose high-size time is overhead-scale
FLAG_FACTOR = 1.5   # superlinear = ratio > FLAG_FACTOR * data_ratio
FLAG_RULE = f"t_hi >= {MIN_HI_SEC}s and t_hi / t_lo > {FLAG_FACTOR} * data_ratio"
CORES = (32, 8)
ID_STRIDE = 100_000_000


def flag(t_lo: float | None, t_hi: float, data_ratio: float) -> tuple[float | None, bool]:
    """(t_hi / t_lo rounded to 0.01, superlinear) under FLAG_RULE; a
    missing low time gives no ratio and no flag."""
    ratio = round(t_hi / t_lo, 2) if t_lo else None
    superlinear = (
        ratio is not None and t_hi >= MIN_HI_SEC and ratio > FLAG_FACTOR * data_ratio
    )
    return ratio, superlinear


def growth_report(
    times: dict[str, dict[str, float]], lo: str, hi: str, data_ratio: float
) -> dict:
    """Per-query times with the lo -> hi ratio and flag, plus the
    flagged names (empty == every query scales at-worst-linearly)."""
    queries, flagged = {}, []
    for name, t in times.items():
        ratio, superlinear = flag(t.get(lo), t[hi], data_ratio)
        queries[name] = {**t, f"ratio_{hi}_over_{lo}": ratio, "superlinear": superlinear}
        if superlinear:
            flagged.append(name)
    return {
        "data_ratio": data_ratio,
        "flag_rule": FLAG_RULE,
        "names": list(times),
        "flagged": flagged,
        "queries": queries,
    }


def data_ratio(lo_dir: str, hi_dir: str) -> float:
    """Rows of ``hi_dir``'s documents table over ``lo_dir``'s."""
    import duckdb

    with duckdb.connect() as con:
        lo, hi = (
            con.execute(f"SELECT count(*) FROM '{d}/documents.parquet'").fetchone()[0]
            for d in (lo_dir, hi_dir)
        )
    return round(hi / lo, 4)


def time_queries(
    sf_dir: str, names: list[str], tag: str, times: dict[str, dict[str, float]]
) -> None:
    """Time each named query at ``sf_dir`` in one fresh bench session,
    keeping the per-query minimum in ``times[name][tag]``.

    One untimed pass over the named queries runs first, so no query's
    time carries its first-run warm-up (the bench session itself warms
    only on q1_pricing_summary).  Shared materializations are dropped after
    that pass and again before the session stops, so the timed pass
    and the next session each price their own builds."""
    import bench
    from kp_crypto_market_analytics_spark.operators import materialize

    spark = bench._bench_session()
    for name in names:
        bench._time_query(spark, name, sf_dir)
        spark.catalog.clearCache()
    materialize.clear_session_materializations(spark)
    for name in names:
        sec = bench._time_query(spark, name, sf_dir)
        t = times.setdefault(name, {})
        t[tag] = min(t.get(tag, float("inf")), sec)
        print(f"# {tag} {name}: {sec:.3f}s", file=sys.stderr)
        spark.catalog.clearCache()
        gc.collect()
    materialize.clear_session_materializations(spark)
    spark.stop()


def _write(out_json: str, record: dict) -> None:
    with open(out_json, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    keys = ("data_ratio", "flagged")
    print(json.dumps({**{k: record[k] for k in keys if k in record}, "written": out_json}))


def curve(out_json: str, names: list[str]) -> None:
    from bench import BENCH_QUERIES, _sf_dir

    names = names or BENCH_QUERIES
    base = os.path.dirname(_sf_dir().rstrip("/"))
    times: dict[str, dict[str, float]] = {}
    for sf in CURVE_SFS:
        time_queries(os.path.join(base, f"sf{sf}"), names, sf, times)
    lo, hi = CURVE_SFS[-2:]
    rec = growth_report(times, lo, hi, float(hi) / float(lo))
    _write(out_json, {"metric": "scaling_curve", **rec})


def extend(synth_dir: str, out_json: str, names: list[str]) -> None:
    from bench import _sf, _sf_dir

    ratio = data_ratio(_sf_dir(), synth_dir)
    lo, hi = str(_sf()), "synth"
    times: dict[str, dict[str, float]] = {}
    time_queries(_sf_dir(), names, lo, times)
    time_queries(synth_dir, names, hi, times)
    rec = growth_report(times, lo, hi, ratio)
    _write(
        out_json,
        {"metric": "scaling_curve_extension", "synth_dir": synth_dir, **rec},
    )


def cores(synth_dir: str, out_json: str, names: list[str]) -> None:
    # A fresh session per (cpus, rep) so neither config inherits the
    # other's warmed plans; alternating sessions keep both core counts
    # in the same throughput window (machine throughput can drift 2-7x
    # between sessions — unpaired runs once measured a query at 0.64x
    # "speedup" from 4x cores on pure window skew).
    times: dict[str, dict[str, float]] = {}
    for _ in range(2):
        for cpus in CORES:
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
            time_queries(synth_dir, names, f"{cpus}c", times)
    _write(
        out_json,
        {
            "metric": "core_scaling",
            "sf_dir": synth_dir,
            "method": (
                "paired min-of-2 (sessions alternate 32c/8c), "
                "materializations cleared between sessions"
            ),
            "names": names,
            "times": times,
        },
    )


def synth(out_dir: str, copies: int) -> None:
    import duckdb

    from bench import _sf_dir

    src = _sf_dir()
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    # documents: letter rotation per copy c (c=0 is the original).
    # translate() source/target alphabets rotated by 7*c keep
    # case/digits/punct/whitespace untouched — token boundaries,
    # lengths, and repetition structure survive verbatim.
    alpha = "abcdefghijklmnopqrstuvwxyz"
    doc_selects = []
    for c in range(copies):
        if c == 0:
            t = "text"
        else:
            rot = alpha[7 * c % 26:] + alpha[: 7 * c % 26]
            t = (
                f"translate(text, '{alpha}{alpha.upper()}', "
                f"'{rot}{rot.upper()}')"
            )
        doc_selects.append(
            f"SELECT doc_id + {c * ID_STRIDE} AS doc_id, {t} AS text, "
            f"lang, source, n_chars FROM src"
        )
    con.execute(
        f"""COPY (WITH src AS (SELECT * FROM '{src}/documents.parquet')
        {' UNION ALL '.join(doc_selects)})
        TO '{out_dir}/documents.parquet' (FORMAT PARQUET)"""
    )

    # embeddings: per-copy sign flip of dimensions where
    # (dim + copy) % 4 == 0 — an isometry (norms and intra-copy
    # angles preserved exactly); copy 0 is the original.
    emb_selects = []
    for c in range(copies):
        if c == 0:
            e = "embedding"
        else:
            e = (
                "list_transform(embedding, (x, i) -> "
                f"CASE WHEN (i + {c}) % 4 = 0 THEN -x ELSE x END)"
            )
        emb_selects.append(
            f"SELECT vec_id + {c * ID_STRIDE} AS vec_id, "
            f"CAST({e} AS FLOAT[]) AS embedding, label FROM src"
        )
    con.execute(
        f"""COPY (WITH src AS (SELECT * FROM '{src}/embeddings.parquet')
        {' UNION ALL '.join(emb_selects)})
        TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)"""
    )

    # events: shift ids and advance ts by c * (span + 1 day).
    ev_selects = [
        f"SELECT event_id + {c * ID_STRIDE} AS event_id, "
        f"ts + INTERVAL ({c} * (SELECT d FROM span)) DAY AS ts, "
        f"user_id + {c * ID_STRIDE} AS user_id, "
        f"event_type, value, props FROM src"
        for c in range(copies)
    ]
    con.execute(
        f"""COPY (WITH src AS (SELECT * FROM '{src}/events.parquet'),
        span AS (SELECT CAST(date_diff('day', MIN(ts), MAX(ts)) + 1 AS BIGINT) AS d FROM src)
        {' UNION ALL '.join(ev_selects)})
        TO '{out_dir}/events.parquet' (FORMAT PARQUET)"""
    )
    for t in ("documents", "embeddings", "events"):
        n = con.execute(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
        print(f"# synth {t}: {n} rows")


def ingest(synth_dir: str, out_json: str) -> None:
    """Measure the streaming-LSH ingest core's per-trigger scale claim
    (streaming/dedup_lsh.py — O(batch × bucket-mates), linear in batch
    size, NOT in store size) over the synth corpus's production 64-hash
    signature table:

    - batch axis: a 1x batch vs a full-corpus batch, both probing the
      SAME full-corpus store — per-trigger cost should grow ~linearly
      with batch size (flagged under FLAG_RULE).
    - store axis: the SAME 1x batch probing a 1x store vs the full
      store — cost should grow far SLOWER than store size (only the
      batch's bucket-mates grow), the claim that makes continuous
      ingest viable at 100 TB.

    Batches/stores are deterministic doc_id slices: 'batch' = every
    3rd doc (the dedup_lsh_stream_parity convention), '1x' = copy 0 of
    the synth corpus (doc_id < ID_STRIDE); both axes' data ratio is the
    measured copy count.
    """
    from pyspark.sql import functions as F

    from bench import _bench_session, _sf_dir
    from kp_crypto_market_analytics_spark.queries_ext import (
        _LSH_BANDS,
        _LSH_BUCKET_CAP,
        _LSH_NUM_HASHES,
        _minhash_sigs,
    )
    from kp_crypto_market_analytics_spark.streaming.dedup_lsh import (
        lsh_ingest_pairs,
    )

    ratio = data_ratio(_sf_dir(), synth_dir)
    spark = _bench_session()
    sigs = _minhash_sigs(spark, synth_dir).localCheckpoint(eager=True)
    is_batch = F.col("doc_id") % 3 == 0
    is_copy0 = F.col("doc_id") < ID_STRIDE

    def pairs(new_pred, old_pred):  # noqa: ANN001, ANN202
        return lsh_ingest_pairs(
            sigs.where(new_pred),
            sigs.where(old_pred),
            num_hashes=_LSH_NUM_HASHES,
            bands=_LSH_BANDS,
            max_bucket_size=_LSH_BUCKET_CAP,
        )

    cases = {
        # (new side, old side)
        "batch_1x_store_full": (is_batch & is_copy0, ~(is_batch & is_copy0)),
        "batch_full_store_full": (is_batch, ~is_batch),
        "batch_1x_store_1x": (is_batch & is_copy0, ~is_batch & is_copy0),
    }
    timings: dict[str, dict] = {}
    # warm the plan once on the smallest case so per-case times measure
    # the probe, not first-call codegen
    pairs(*cases["batch_1x_store_1x"]).count()
    spark.catalog.clearCache()
    for name, (new_pred, old_pred) in cases.items():
        secs = []
        for _ in range(3):  # min-of-3: single warm passes drift ±40%
            t0 = time.time()
            n_pairs = pairs(new_pred, old_pred).count()
            secs.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            gc.collect()
        timings[name] = {
            "sec": min(secs),
            "runs": secs,
            "pairs": n_pairs,
            "batch_rows": sigs.where(new_pred).count(),
            "store_rows": sigs.where(old_pred).count(),
        }
        print(
            f"# ingest {name}: min {min(secs):.3f}s of {secs} "
            f"({n_pairs} pairs)",
            file=sys.stderr,
        )
    spark.stop()

    def axis(lo: str, hi: str, claim: str) -> dict:
        r, superlinear = flag(timings[lo]["sec"], timings[hi]["sec"], ratio)
        return {"data_ratio": ratio, "ratio": r, "flag_rule": FLAG_RULE,
                "superlinear": superlinear, "claim": claim}

    _write(
        out_json,
        {
            "metric": "lsh_ingest_scaling",
            "synth_dir": synth_dir,
            "cases": timings,
            "batch_axis": axis(
                "batch_1x_store_full", "batch_full_store_full",
                "per-trigger cost linear in batch size at fixed store",
            ),
            "store_axis": axis(
                "batch_1x_store_1x", "batch_1x_store_full",
                "per-trigger cost grows only with the batch's "
                "bucket-mates, far sublinear in store size",
            ),
        },
    )


def main(argv: list[str]) -> None:
    mode, args = (argv[0], argv[1:]) if argv else ("", [])
    if mode == "curve" and args:
        curve(args[0], args[1:])
    elif mode == "synth" and len(args) == 2:
        synth(args[0], int(args[1]))
    elif mode in ("extend", "cores") and len(args) >= 3:
        (extend if mode == "extend" else cores)(args[0], args[1], args[2:])
    elif mode == "ingest" and len(args) == 2:
        ingest(args[0], args[1])
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
