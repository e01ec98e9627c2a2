"""CLI — the reference's `python -m src.main` surface on the Spark
engine (reference: /root/reference/src/main.py:35-136).

Subcommands mirror the reference's verbs; OFFLINE=1 swaps all network
sources for the deterministic synthetic generators (api.py:56-64
parity), exactly like the reference's test mode.

    python -m kp_crypto_market_analytics_spark price-ticks --n 5
    python -m kp_crypto_market_analytics_spark collect-klines \
        --pairs BTCUSDT,ETHUSDT --tf 1m --days 1 --out data
    python -m kp_crypto_market_analytics_spark load \
        --data data --table warehouse/candles
    python -m kp_crypto_market_analytics_spark analytics \
        --table warehouse/candles --out artifacts
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def parse_pairs(s: str) -> list[str]:
    # main.py:31-32 — upper/strip normalize
    return [x.strip().upper() for x in s.split(",") if x.strip()]


def cmd_price_ticks(args) -> None:
    """price-ticks (main.py:19-28): n ticker prices -> min/max/count
    JSON summary (the reference prints values + count)."""
    from kp_crypto_market_analytics_spark.session import get_spark
    from kp_crypto_market_analytics_spark.sources.binance import fetch_ticker_prices

    spark = get_spark("price-ticks")
    df = fetch_ticker_prices(spark, ["BTCUSDT"], n_polls=args.n, delay_s=args.delay)
    values = [round(r["price"], 2) for r in df.orderBy("poll").collect()]
    print(json.dumps({"values": values, "count": len(values),
                      "min": min(values), "max": max(values)}))


def cmd_collect_klines(args) -> None:
    """collect-klines (main.py:113-120 -> prices_collector.run): fetch
    per pair, write klines_{SYMBOL}_{TF}.csv.  Unlike the reference —
    which silently truncates any range to 1000 candles per request
    (api.py:49,66-72) — the paged source walks the full [start, end]
    range, and the CSV write is a Spark single-file write (no driver
    toPandas bound)."""
    from kp_crypto_market_analytics_spark.session import get_spark
    from kp_crypto_market_analytics_spark.sinks.artifacts import write_single_csv_file
    from kp_crypto_market_analytics_spark.sources.binance import fetch_klines_paged

    import time

    spark = get_spark("collect-klines")
    os.makedirs(args.out, exist_ok=True)
    end_ms = int(time.time() * 1000)
    start_ms = end_ms - args.days * 86_400_000
    for pair in parse_pairs(args.pairs):
        # fetch_klines_paged returns the canonical typed candle frame
        df = fetch_klines_paged(spark, pair, args.tf, start_ms=start_ms, end_ms=end_ms)
        path = os.path.join(args.out, f"klines_{pair}_{args.tf}.csv")
        write_single_csv_file(df, path)
        print(f"wrote {path}")


def cmd_load(args) -> None:
    """load (etl/load_postgres.py analog): tolerant CSV scan -> keyed
    upsert into the parquet candle table; re-running never duplicates
    (ON CONFLICT parity, load_all.py:29-34)."""
    from kp_crypto_market_analytics_spark.schemas import CANDLES_KEY
    from kp_crypto_market_analytics_spark.session import get_spark
    from kp_crypto_market_analytics_spark.sinks.upsert import merge_into
    from kp_crypto_market_analytics_spark.sources.files import read_klines_csv

    spark = get_spark("load")
    df = read_klines_csv(spark, os.path.join(args.data, "klines_*.csv"))
    if args.backend == "manifest":
        from kp_crypto_market_analytics_spark.sinks import manifest_table as mt

        version = mt.merge_into(spark, args.table, df, CANDLES_KEY)
        n = mt.read_table(spark, args.table).count()
        print(json.dumps({"table": args.table, "rows": n, "version": version}))
        return
    merge_into(spark, args.table, df, CANDLES_KEY)
    n = spark.read.parquet(args.table).count()
    print(json.dumps({"table": args.table, "rows": n}))


def cmd_analytics(args) -> None:
    """analytics (binance_analysis.py main(), :571-732): feature
    pipeline + artifact fan-out to CSV/JSON."""
    from kp_crypto_market_analytics_spark.analytics.pipeline import (
        add_features,
        analytics_fanout,
    )
    from kp_crypto_market_analytics_spark.session import get_spark
    from kp_crypto_market_analytics_spark.sinks.artifacts import write_csv_artifact

    spark = get_spark("analytics")
    candles = spark.read.parquet(args.table)
    feats = add_features(candles)
    arts = analytics_fanout(feats)
    os.makedirs(args.out, exist_ok=True)
    for name, df in arts.items():
        write_csv_artifact(df, os.path.join(args.out, name))
        print(f"wrote {args.out}/{name}")
    if getattr(args, "figures", True):
        from kp_crypto_market_analytics_spark.sinks.figures import write_figures

        for p in write_figures(
            arts, os.path.join(args.out, "figures"), features=feats
        ):
            print(f"wrote {p}")
    feats.unpersist()


def cmd_health(args) -> None:
    """health: publish the detector-health table (the gated honesty
    audits — LSH banding recall, IVF/PQ ANN recall — with their SLO
    floors) as a CSV artifact the `report` page renders (VERDICT r8
    ask #8)."""
    from kp_crypto_market_analytics_spark.analytics.health import (
        detector_health,
    )
    from kp_crypto_market_analytics_spark.session import get_spark
    from kp_crypto_market_analytics_spark.sinks.artifacts import (
        write_csv_artifact,
    )

    spark = get_spark("health")
    df = detector_health(spark, args.sf_dir)
    os.makedirs(args.out, exist_ok=True)
    write_csv_artifact(df, os.path.join(args.out, "health_detectors"))
    print(f"wrote {args.out}/health_detectors")


def cmd_report(args) -> None:
    """report: publish the analytics artifacts as one static HTML page
    (the reference dashboard's read surface, src/dashboard/app.py:109-
    230, without a server process — no SparkSession needed)."""
    from kp_crypto_market_analytics_spark.sinks.report import write_report

    path = write_report(args.arts, args.out)
    print(f"wrote {path}")


def cmd_list(args) -> None:
    """Registry listing: every gated query name."""
    from kp_crypto_market_analytics_spark.queries import QUERIES

    for name in QUERIES:
        print(name)


def cmd_table(args) -> None:
    """Manifest-table ops surface: commit history, (time-travel /
    data-skipping) reads, compaction, vacuum — the Delta-style `DESCRIBE
    HISTORY` / `VERSION AS OF` / `OPTIMIZE` / `VACUUM` verbs for the
    engine's own table format (sinks/manifest_table.py)."""
    from kp_crypto_market_analytics_spark.sinks import manifest_table as mt

    if args.action == "history":
        for v in mt.manifest_versions(args.root):
            m = mt.manifest_at(args.root, v)
            commits = {p.split(os.sep)[1] for p in m["entries"].values()}
            print(json.dumps({
                "version": m["version"],
                "partitions": len(m["entries"]),
                "live_commits": len(commits),
                "stats_cols": m.get("stats_cols", []),
            }))
        return
    if args.action == "compact":
        from kp_crypto_market_analytics_spark.session import get_spark

        v = mt.compact(get_spark("table"), args.root, max_live_commits=args.max_live_commits)
        print(json.dumps({"compacted_to_version": v}))
        return
    if args.action == "vacuum":
        deleted = mt.vacuum(args.root, keep_versions=args.keep_versions)
        print(json.dumps({"deleted": deleted}))
        return
    # read
    from kp_crypto_market_analytics_spark.session import get_spark

    spark = get_spark("table")
    where = None
    if args.where:
        col, lo, hi = args.where
        try:  # numeric bounds when BOTH parse; else string (timestamps)
            where = (col, float(lo), float(hi))
        except ValueError:
            where = (col, lo, hi)
    df = mt.read_table(spark, args.root, version=args.version, where=where)
    if df is None:
        print(json.dumps({"rows": 0}))
        return
    print(json.dumps({"rows": df.count(), "columns": df.columns}))


def cmd_explain(args) -> None:
    """Formatted physical plan for a registry query — the plan-review
    loop (EXPLAINS.md) as a one-off."""
    from kp_crypto_market_analytics_spark.queries import QUERIES
    from kp_crypto_market_analytics_spark.session import get_spark

    spark = get_spark("explain")
    df = QUERIES[args.query](spark, args.sf_dir)
    df.explain("formatted")


def cmd_build_index(args) -> None:
    """Materialize the ANN serving artifacts to parquet — the amortized
    index build for repeated-query serving (operators/similarity.py's
    'persist once' note made operational): PQ writes codebooks + codes;
    IVF writes trained centroids + cell assignments.  Downstream
    queries then join the persisted frames instead of re-training."""
    from pyspark.sql import functions as F

    from kp_crypto_market_analytics_spark.session import get_spark, load_tables

    spark = get_spark("build-index")
    emb = load_tables(spark, args.sf_dir, ["embeddings"])["embeddings"]
    out = args.out
    if args.kind == "pq":
        from kp_crypto_market_analytics_spark.operators.similarity import (
            normalize_vectors,
            pq_codebooks,
            pq_encode,
            pq_subvectors,
        )

        normed = normalize_vectors(emb)
        subs = pq_subvectors(normed, m=args.m).localCheckpoint(eager=True)
        cb = pq_codebooks(normed, m=args.m, ksub=args.ksub, subs=subs)
        cb.write.mode("overwrite").parquet(os.path.join(out, "pq_codebooks"))
        pq_encode(normed, cb, m=args.m, subs=subs).write.mode("overwrite").parquet(
            os.path.join(out, "pq_codes")
        )
    else:
        from kp_crypto_market_analytics_spark.functions.vectors import (
            norm,
            to_double_array,
        )
        from kp_crypto_market_analytics_spark.operators.similarity import (
            ivf_assign,
            kmeans_centroids,
        )

        cents = kmeans_centroids(emb, seed_mod=args.seed_mod, iters=args.iters)
        cents.write.mode("overwrite").parquet(os.path.join(out, "ivf_centroids"))
        c = emb.select(
            F.col("vec_id").alias("neighbor_id"), to_double_array("embedding").alias("cvec")
        ).withColumn("cnorm", norm(F.col("cvec")))
        ivf_assign(c, cents).write.mode("overwrite").parquet(
            os.path.join(out, "ivf_assignments")
        )
    print(f"wrote {args.kind} index under {out}")


def _klines_defaults() -> tuple[str, str, str, str]:
    """(pairs, tf, days, out) defaults of collect-klines from the
    environment, shared by the menu and the parser."""
    return (
        os.environ.get("PAIRS", "BTCUSDT,ETHUSDT"),
        os.environ.get("TF", "1m"),
        os.environ.get("DAYS", "1"),
        os.environ.get("OUT_DIR", "data"),
    )


def interactive_menu() -> None:
    """Default interactive mode when invoked with no subcommand —
    reference parity with src/main.py:67-109 (menu of price-ticks /
    collect-klines, env-var defaults, tolerant input fallbacks)."""
    def_pairs, def_tf, def_days, def_out = _klines_defaults()

    print("\n=== KP Crypto (Spark) — interactive mode ===")
    print("1) price-ticks  — collect N BTCUSDT ticker prices")
    print("2) collect-klines — fetch Binance candles per pair")
    print("q) quit")

    choice = input("\nPick an option [1/2/q]: ").strip().lower()
    if choice == "1":
        try:
            n = int(input("How many prices? [5]: ") or "5")
            delay = float(input("Delay between polls, sec? [1.0]: ") or "1.0")
        except ValueError:
            print("Bad input — using defaults n=5, delay=1.0.")
            n, delay = 5, 1.0
        main(["price-ticks", "--n", str(n), "--delay", str(delay)])
        return
    if choice == "2":
        pairs = input(f"Pairs, comma-separated [{def_pairs}]: ").strip() or def_pairs
        tf = input(f"Timeframe [{def_tf}]: ").strip() or def_tf
        days_str = input(f"How many days back? [{def_days}]: ").strip() or def_days
        out = input(f"Output dir? [{def_out}]: ").strip() or def_out
        try:
            days = int(days_str)
        except ValueError:
            print("Bad days value — using 1.")
            days = 1
        main([
            "collect-klines", "--pairs", pairs, "--tf", tf,
            "--days", str(days), "--out", out,
        ])
        return
    if choice in ("q", "quit", "exit"):
        print("Bye.")
        return
    print("Unknown option — nothing executed.")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("kp-crypto-market-analytics-spark")
    sub = p.add_subparsers(dest="cmd", required=False)

    t = sub.add_parser("price-ticks", help="collect n BTCUSDT ticker prices")
    t.add_argument("--n", type=int, default=5)
    t.add_argument("--delay", type=float, default=1.0)
    t.set_defaults(fn=cmd_price_ticks)

    pairs, tf, days, out = _klines_defaults()
    c = sub.add_parser("collect-klines", help="collect candles per pair to CSV")
    c.add_argument("--pairs", default=pairs)
    c.add_argument("--tf", default=tf)
    c.add_argument("--days", type=int, default=int(days))
    c.add_argument("--out", default=out)
    c.set_defaults(fn=cmd_collect_klines)

    l = sub.add_parser("load", help="upsert klines CSVs into the candle table")
    l.add_argument("--data", default="data")
    l.add_argument("--table", default="warehouse/candles")
    l.add_argument("--backend", choices=["parquet", "manifest"], default="parquet",
                   help="manifest = object-store-safe versioned commits")
    l.set_defaults(fn=cmd_load)

    tb = sub.add_parser("table", help="manifest-table ops (history/read/compact/vacuum)")
    tb.add_argument("action", choices=["history", "read", "compact", "vacuum"])
    tb.add_argument("--root", required=True)
    tb.add_argument("--version", type=int, default=None,
                    help="read: time-travel to this manifest version")
    tb.add_argument("--where", nargs=3, default=None, metavar=("COL", "LO", "HI"),
                    help="read: BETWEEN predicate with manifest data skipping")
    tb.add_argument("--max-live-commits", type=int, default=8)
    tb.add_argument("--keep-versions", type=int, default=2)
    tb.set_defaults(fn=cmd_table)

    a = sub.add_parser("analytics", help="run the analytics fan-out to artifacts")
    a.add_argument("--table", default="warehouse/candles")
    a.add_argument("--out", default="artifacts")
    a.add_argument("--figures", action=argparse.BooleanOptionalAction, default=True,
                   help="render the dashboard PNG figure set (S19; on by "
                        "default like the reference main(), --no-figures skips)")
    a.set_defaults(fn=cmd_analytics)

    ls = sub.add_parser("list", help="list registry query names")
    ls.set_defaults(fn=cmd_list)

    bi = sub.add_parser("build-index", help="materialize ANN serving artifacts")
    bi.add_argument("--kind", choices=["pq", "ivf"], default="pq")
    bi.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    bi.add_argument("--out", default="data/indexes")
    bi.add_argument("--m", type=int, default=8)
    bi.add_argument("--ksub", type=int, default=16)
    bi.add_argument("--seed-mod", type=int, default=37)
    bi.add_argument("--iters", type=int, default=2)
    bi.set_defaults(fn=cmd_build_index)

    ex = sub.add_parser("explain", help="print a query's physical plan")
    ex.add_argument("--query", required=True)
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.set_defaults(fn=cmd_explain)

    hl = sub.add_parser(
        "health",
        help="write the detector-health SLO table as a CSV artifact",
    )
    hl.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    hl.add_argument("--out", default="artifacts")
    hl.set_defaults(fn=cmd_health)

    rp = sub.add_parser(
        "report",
        help="render the analytics artifact dir into one static HTML page",
    )
    rp.add_argument("--arts", default="artifacts")
    rp.add_argument("--out", default=None,
                    help="output path (default: <arts>/report.html)")
    rp.set_defaults(fn=cmd_report)
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    if args.cmd is None:
        # Bare `python -m …` → interactive menu (reference main.py:113-123).
        try:
            interactive_menu()
        except KeyboardInterrupt:
            print("\nInterrupted.")
        return
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
