"""Upsert sink idempotence (S14) + Structured Streaming candle
construction (§2.9): the behaviors, not just the queries."""

from __future__ import annotations

import time

from pyspark.sql import functions as F


def _mk(spark, rows):
    df = spark.createDataFrame(rows, "symbol string, tf string, open_time string, close double")
    return df.withColumn("open_time", F.to_timestamp("open_time"))


def test_upsert_idempotent_reingest(spark, tmp_path):
    # Re-running the same load must not duplicate (load_all.py:29-34).
    from kp_crypto_market_analytics_spark.sinks.upsert import merge_into

    target = str(tmp_path / "candles")
    batch = _mk(spark, [("A", "1m", "2024-01-01 00:00:00", 1.0), ("A", "1m", "2024-01-01 00:01:00", 2.0)])
    key = ["symbol", "tf", "open_time"]
    merge_into(spark, target, batch, key)
    merge_into(spark, target, batch, key)
    out = spark.read.parquet(target)
    assert out.count() == 2


def test_upsert_last_write_wins(spark, tmp_path):
    # EXCLUDED.* overwrite semantics (load_postgres.py:95-101).
    from kp_crypto_market_analytics_spark.sinks.upsert import merge_into

    target = str(tmp_path / "candles")
    key = ["symbol", "tf", "open_time"]
    merge_into(spark, target, _mk(spark, [("A", "1m", "2024-01-01 00:00:00", 1.0)]), key)
    merge_into(spark, target, _mk(spark, [("A", "1m", "2024-01-01 00:00:00", 99.0)]), key)
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1 and rows[0]["close"] == 99.0


def test_upsert_partition_scoped_leaves_untouched_partitions_intact(spark, tmp_path):
    # Partition-scoped merge: a batch touching only symbol B must not
    # rewrite symbol A's directory — its files stay BYTE-IDENTICAL
    # (write amplification O(touched partitions), not O(table)).
    import hashlib
    import os

    from kp_crypto_market_analytics_spark.sinks.upsert import merge_into

    target = str(tmp_path / "candles")
    key = ["symbol", "tf", "open_time"]
    base = _mk(spark, [
        ("A", "1m", "2024-01-01 00:00:00", 1.0),
        ("A", "1m", "2024-01-01 00:01:00", 2.0),
        ("B", "1m", "2024-01-01 00:00:00", 3.0),
    ])
    merge_into(spark, target, base, key, partition_by=["symbol"])

    def snapshot(part_dir):
        files = {}
        for root, _, names in os.walk(part_dir):
            for n in names:
                p = os.path.join(root, n)
                with open(p, "rb") as f:
                    files[os.path.relpath(p, part_dir)] = hashlib.md5(f.read()).hexdigest()
        return files

    a_before = snapshot(os.path.join(target, "symbol=A"))
    assert a_before  # the partition exists and has files

    merge_into(
        spark, target,
        _mk(spark, [("B", "1m", "2024-01-01 00:00:00", 99.0),
                    ("B", "1m", "2024-01-01 00:02:00", 4.0)]),
        key, partition_by=["symbol"],
    )

    assert snapshot(os.path.join(target, "symbol=A")) == a_before
    out = {(r["symbol"], r["open_time"].minute): r["close"]
           for r in spark.read.parquet(target).collect()}
    assert out == {("A", 0): 1.0, ("A", 1): 2.0, ("B", 0): 99.0, ("B", 2): 4.0}


def test_upsert_partition_scoped_new_partition_and_idempotence(spark, tmp_path):
    # A staged batch may create a brand-new partition; re-running the
    # same batch must not duplicate (S14 idempotence on the scoped path).
    from kp_crypto_market_analytics_spark.sinks.upsert import merge_into

    target = str(tmp_path / "candles")
    key = ["symbol", "tf", "open_time"]
    merge_into(spark, target, _mk(spark, [("A", "1m", "2024-01-01 00:00:00", 1.0)]),
               key, partition_by=["symbol"])
    newb = _mk(spark, [("C", "1m", "2024-01-01 00:00:00", 7.0)])
    merge_into(spark, target, newb, key, partition_by=["symbol"])
    merge_into(spark, target, newb, key, partition_by=["symbol"])
    out = spark.read.parquet(target)
    assert out.count() == 2
    assert {r["symbol"] for r in out.collect()} == {"A", "C"}


def test_candles_batch_streaming_equivalence(spark, tmp_path):
    # The same candles_from_trades plan on a file STREAM must produce
    # exactly the batch result once drained (§2.9 reference parity).
    from kp_crypto_market_analytics_spark.streaming.candles import candles_from_trades
    from kp_crypto_market_analytics_spark.sinks.upsert import upsert_foreach_batch

    trades = spark.createDataFrame(
        [
            ("A", 1, 10.0, 1.0, "2024-01-01 00:00:10"),
            ("A", 2, 12.0, 2.0, "2024-01-01 00:00:40"),
            ("A", 3, 11.0, 1.0, "2024-01-01 00:01:05"),
            ("B", 4, 5.0, 3.0, "2024-01-01 00:00:30"),
        ],
        "symbol string, trade_id long, price double, qty double, trade_time string",
    ).withColumn("trade_time", F.to_timestamp("trade_time"))

    src_dir = str(tmp_path / "stream_src")
    trades.coalesce(1).write.parquet(src_dir)

    batch_result = {
        (r["symbol"], r["open_time"]): (r["open"], r["high"], r["low"], r["close"], r["volume"], r["num_trades"])
        for r in candles_from_trades(trades).collect()
    }
    assert batch_result[("A", __import__("datetime").datetime(2024, 1, 1, 0, 0))] == (10.0, 12.0, 10.0, 12.0, 3.0, 2)

    stream = spark.readStream.schema(trades.schema).parquet(src_dir)
    target = str(tmp_path / "candles_tbl")
    q = (
        candles_from_trades(stream, watermark=None)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(upsert_foreach_batch(target, ["symbol", "open_time"]))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    stream_result = {
        (r["symbol"], r["open_time"]): (r["open"], r["high"], r["low"], r["close"], r["volume"], r["num_trades"])
        for r in spark.read.parquet(target).collect()
    }
    assert stream_result == batch_result


def test_rate_stream_smoke(spark, tmp_path):
    # S1 streaming shape: rate source -> candles -> upsert table.
    from kp_crypto_market_analytics_spark.streaming.candles import (
        start_candle_stream,
        synthetic_trades_stream,
    )

    trades = synthetic_trades_stream(spark, rows_per_second=50)
    target = str(tmp_path / "tbl")
    q = start_candle_stream(trades, target, str(tmp_path / "ckpt"), watermark="10 seconds")
    # processAllAvailable() never returns on a rate source whose batches
    # take longer than a second (each batch finds a new second of rows),
    # so wait for the first committed batch that read rows instead.
    try:
        deadline = time.time() + 120
        while not any(p["numInputRows"] > 0 for p in q.recentProgress):
            assert q.isActive, q.exception()
            assert time.time() < deadline, "no batch with rows within 120 s"
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.read.parquet(target)
    assert out.count() > 0
    assert set(out.columns) == {
        "symbol", "open_time", "open", "high", "low", "close", "volume", "num_trades",
    }


def test_artifact_sinks(spark, tmp_path):
    from kp_crypto_market_analytics_spark.sinks.artifacts import (
        summary_row_json,
        write_csv_artifact,
    )

    df = spark.createDataFrame([("a", 1.5)], "k string, v double")
    write_csv_artifact(df, str(tmp_path / "art"))
    back = spark.read.option("header", True).csv(str(tmp_path / "art"))
    assert back.count() == 1
    assert summary_row_json(df) == '{"k":"a","v":1.5}'


def test_stateful_rolling_std_across_microbatches(spark, tmp_path):
    # The custom applyInPandasWithState operator must carry its tail
    # across micro-batch boundaries: stream the data as TWO time-split
    # files (maxFilesPerTrigger=1 => two batches) and require exact
    # parity with pandas rolling(20, min_periods=10).std() on the
    # concatenated series.
    import numpy as np
    import pandas as pd
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.stateful import rolling_std_stream

    e = (
        load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
        .selectExpr("event_type AS symbol", "event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .limit(400)
    )
    pdf = e.toPandas()
    cut = pdf["ts"].sort_values().iloc[200]
    src = str(tmp_path / "src")
    first, second = pdf[pdf.ts <= cut], pdf[pdf.ts > cut]
    spark.createDataFrame(first).coalesce(1).write.parquet(src + "/a")
    spark.createDataFrame(second).coalesce(1).write.parquet(src + "/b")

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = rolling_std_stream(stream, window_rows=20, min_periods=10)
    q = (
        out.writeStream.format("memory")
        .queryName("rolling_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("rolling_out").toPandas()
    assert len(got) == len(pdf)

    expected = (
        pdf.sort_values(["symbol", "ts", "event_id"])
        .groupby("symbol")["value"]
        .rolling(20, min_periods=10)
        .std()
        .reset_index(level=0, drop=True)
    )
    exp_df = pdf.sort_values(["symbol", "ts", "event_id"]).assign(expected=expected.values)
    merged = got.merge(exp_df[["event_id", "expected"]], on="event_id")
    assert np.allclose(
        merged["rolling_std"].fillna(-1), merged["expected"].fillna(-1), atol=1e-9
    )


def test_stateful_cusum_across_microbatches_matches_batch(spark, tmp_path):
    # The streaming CUSUM recurrence must carry (S+, S-) across
    # micro-batch boundaries and track the batch window formulation
    # (w_cusum's prefix-sum unroll) for the same fixed baseline.
    import numpy as np
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.cusum import cusum_stream

    e = (
        load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
        .selectExpr("event_type AS symbol", "event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .limit(400)
    )
    pdf = e.toPandas()
    base = {
        s: (float(g["value"].mean()), float(g["value"].std(ddof=1)))
        for s, g in pdf.groupby("symbol")
    }
    cut = pdf["ts"].sort_values().iloc[200]
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf[pdf.ts <= cut]).coalesce(1).write.parquet(src + "/a")
    spark.createDataFrame(pdf[pdf.ts > cut]).coalesce(1).write.parquet(src + "/b")

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = cusum_stream(stream, base, kappa_sigma=0.25, h_sigma=2.0)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("cusum_out").toPandas().set_index("event_id")
    assert len(got) == len(pdf)

    # textbook recurrence on the concatenated series = expected
    for sym, g in pdf.sort_values(["ts", "event_id"]).groupby("symbol"):
        mu, sigma = base[sym]
        kappa = 0.25 * sigma
        sp = sn = 0.0
        for r in g.itertuples():
            sp = max(0.0, sp + round(float(r.value) - mu - kappa, 6))
            sn = max(0.0, sn + round(mu - float(r.value) - kappa, 6))
            assert abs(got.loc[r.event_id, "cusum_pos"] - sp) < 1e-9
            assert abs(got.loc[r.event_id, "cusum_neg"] - sn) < 1e-9
            assert got.loc[r.event_id, "alarm"] == (
                sp > 2.0 * sigma or sn > 2.0 * sigma
            )


def test_session_window_matches_batch_sessionize(spark):
    # The session_window streaming path and the lag/cumsum batch
    # operator implement the same gap rule — their (user, session)
    # partitions must be identical on fully-arrived data.
    from kp_crypto_market_analytics_spark.operators.windows import sessionize
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.candles import sessionized_activity

    e = load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
    gap_s = 1800

    batch = (
        sessionize(e, "user_id", "ts", gap_seconds=gap_s, tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
    )
    sw = sessionized_activity(e, gap=f"{gap_s} seconds", watermark=None)

    b = {(r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()}
    s = {(r["user_id"], r["session_start"]): r["n_events"] for r in sw.collect()}
    assert b == s


def test_sessionize_exact_gap_boundary_matches_session_window(spark):
    # Events exactly gap_seconds apart: Spark's session_window MERGES
    # touching windows ([0,60) + [60,120) -> one session), so an event
    # at exactly prev + gap JOINS the session; only a strictly larger
    # gap splits.  The batch operator must agree at this boundary.
    from kp_crypto_market_analytics_spark.operators.windows import sessionize
    from kp_crypto_market_analytics_spark.streaming.candles import sessionized_activity

    gap_s = 60
    # u1: 0s, 60s (exact gap -> merges), 90s -> ONE session of 3.
    # u2: 0s, 59s, 119s (both deltas <= gap) -> ONE session of 3.
    # u3: 0s, 61s (gap+1 -> splits) -> TWO sessions.
    rows = [
        (1, 1, 0), (1, 2, 60), (1, 3, 90),
        (2, 4, 0), (2, 5, 59), (2, 6, 119),
        (3, 7, 0), (3, 8, 61),
    ]
    e = spark.createDataFrame(
        rows, "user_id long, event_id long, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts"))

    batch = (
        sessionize(e, "user_id", "ts", gap_seconds=gap_s, tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
    )
    sw = sessionized_activity(e, gap=f"{gap_s} seconds", watermark=None)

    b = {(r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()}
    s = {(r["user_id"], r["session_start"]): r["n_events"] for r in sw.collect()}
    assert b == s
    assert len(b) == 4  # u1 -> {3}; u2 -> {3}; u3 -> {1, 1}


def test_stream_stream_join_matches_batch(spark, tmp_path):
    # Watermarked stream-stream time-range join == the same join on
    # static frames once all data has arrived.
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.joins import enrich_with_recent

    e = (
        load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
        .selectExpr("event_type AS symbol", "event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .limit(300)
    )
    facts = e
    ctx = e.selectExpr("symbol", "event_id AS ctx_id", "ts AS ctx_ts")

    expected = (
        enrich_with_recent(facts, ctx, lookback="5 minutes")
        .selectExpr("f.event_id", "c.ctx_id")
        .collect()
    )
    exp_pairs = {(r["event_id"], r["ctx_id"]) for r in expected}

    fdir, cdir = str(tmp_path / "f"), str(tmp_path / "c")
    facts.coalesce(1).write.parquet(fdir)
    ctx.coalesce(1).write.parquet(cdir)
    fs = spark.readStream.schema(facts.schema).parquet(fdir)
    cs = spark.readStream.schema(ctx.schema).parquet(cdir)
    joined = enrich_with_recent(fs, cs, lookback="5 minutes").selectExpr(
        "f.event_id", "c.ctx_id"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_pairs = {
        (r["event_id"], r["ctx_id"]) for r in spark.table("ss_join_out").collect()
    }
    assert got_pairs == exp_pairs and len(got_pairs) > 300


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    # Exactly-once effect across a stream restart: run the candle
    # stream with a checkpoint, stop it, add MORE source files, restart
    # with the same checkpoint — already-processed files must not merge
    # twice (n_trades would inflate on any reprocessing).
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.candles import candles_from_trades
    from kp_crypto_market_analytics_spark.sinks.upsert import upsert_foreach_batch

    e = (
        load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
        .selectExpr(
            "event_type AS symbol", "ts AS trade_time", "value AS price",
            "value AS qty", "event_id AS trade_id",
        )
        .orderBy("trade_time")
        .limit(200)
    )
    pdf = e.toPandas()
    src = str(tmp_path / "src"); ckpt = str(tmp_path / "ckpt"); tgt = str(tmp_path / "tgt")
    spark.createDataFrame(pdf.iloc[:100]).coalesce(1).write.parquet(src + "/a")

    def run_once():
        stream = spark.readStream.schema(e.schema).parquet(src + "/*")
        candles = candles_from_trades(stream, watermark=None)
        q = (
            candles.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(upsert_foreach_batch(tgt, ["symbol", "open_time"]))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(tgt).agg(F.sum("num_trades")).collect()[0][0]
    assert first == 100

    spark.createDataFrame(pdf.iloc[100:]).coalesce(1).write.parquet(src + "/b")
    run_once()
    total = spark.read.parquet(tgt).agg(F.sum("num_trades")).collect()[0][0]
    assert total == 200, "restart must not re-merge already-processed files"


def test_streaming_upsert_partition_scoped(spark, tmp_path):
    # foreachBatch + partition_by: each micro-batch rewrites only the
    # symbol partitions it touches, and the drained table equals the
    # batch result (partitioned layout on disk).
    import os

    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.candles import candles_from_trades
    from kp_crypto_market_analytics_spark.sinks.upsert import upsert_foreach_batch

    e = (
        load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
        .selectExpr(
            "event_type AS symbol", "ts AS trade_time", "value AS price",
            "value AS qty", "event_id AS trade_id",
        )
        .orderBy("trade_time")
        .limit(150)
    )
    src = str(tmp_path / "src"); ckpt = str(tmp_path / "ckpt"); tgt = str(tmp_path / "tgt")
    e.coalesce(1).write.parquet(src + "/a")
    stream = spark.readStream.schema(e.schema).parquet(src + "/*")
    candles = candles_from_trades(stream, watermark=None)
    q = (
        candles.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(
            upsert_foreach_batch(tgt, ["symbol", "open_time"], partition_by=["symbol"])
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert any(d.startswith("symbol=") for d in os.listdir(tgt))
    got = spark.read.parquet(tgt)
    exp = candles_from_trades(e, watermark=None)
    assert got.count() == exp.count()
    assert got.agg(F.sum("num_trades")).collect()[0][0] == 150


def test_streaming_dedup_drops_replayed_rows(spark, tmp_path):
    # dropDuplicatesWithinWatermark over a replayed file: the second
    # source file repeats half the rows of the first plus new ones —
    # the drained stream must equal the batch dropDuplicates result.
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.dedup import dedup_content_stream

    d = (
        load_tables(spark, "/root/testdata/sf0.001", ["documents"])["documents"]
        .limit(60)
        .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    )
    pdf = d.toPandas()
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf.iloc[:40]).coalesce(1).write.parquet(src + "/a")
    # replay rows 20..40 + fresh rows 40..60
    spark.createDataFrame(pdf.iloc[20:60]).coalesce(1).write.parquet(src + "/b")

    expected = dedup_content_stream(d).select("fp").distinct().count()

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        dedup_content_stream(stream)
        .select("doc_id", "fp")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_out").toPandas()
    assert got["fp"].nunique() == expected
    assert len(got) == got["fp"].nunique(), "no fingerprint may appear twice"


def test_ticker_streams_offline(spark, tmp_path, monkeypatch):
    # S1 streaming: the rate-driven ticker stream yields one constant-
    # price row per (tick, symbol); the online ingest shape upserts
    # idempotently per batch with the OFFLINE fetch.
    import time as _t
    from kp_crypto_market_analytics_spark.streaming.rest_stream import (
        start_ticker_ingest,
        ticker_stream,
    )

    monkeypatch.setenv("OFFLINE", "1")
    st = ticker_stream(spark, ["BTCUSDT", "ETHUSDT"], rows_per_second=20)
    q = (
        st.writeStream.format("memory").queryName("ticker_out")
        .outputMode("append").start()
    )
    try:
        deadline = _t.time() + 30
        while _t.time() < deadline:
            q.processAllAvailable()
            if spark.table("ticker_out").count() >= 4:
                break
            _t.sleep(0.5)
        rows = spark.table("ticker_out").collect()
        assert len(rows) >= 4
        assert {r["symbol"] for r in rows} == {"BTCUSDT", "ETHUSDT"}
        assert all(r["price"] == 100.0 for r in rows)
    finally:
        q.stop()

    tgt, ckpt = str(tmp_path / "ticks"), str(tmp_path / "ckpt")
    q2 = start_ticker_ingest(spark, ["BTCUSDT"], tgt, ckpt, rows_per_second=20)
    try:
        deadline = _t.time() + 30
        while _t.time() < deadline:
            q2.processAllAvailable()
            try:
                if spark.read.parquet(tgt).count() > 0:
                    break
            except Exception:
                pass
            _t.sleep(0.5)
        out = spark.read.parquet(tgt)
        assert out.count() > 0
        assert out.where(F.col("price") != 100.0).count() == 0
    finally:
        q2.stop()


def test_partitioned_write_dynamic_overwrite_and_compaction(spark, tmp_path):
    import glob

    from kp_crypto_market_analytics_spark.sinks.artifacts import (
        compact_partitions,
        write_partitioned,
    )

    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2024-01-01", "2024-01-02") for i in range(50)],
        "day string, id int, v double",
    )
    path = str(tmp_path / "fact")
    # Fragment on purpose: 8 shuffle partitions × 2 days => many small files.
    write_partitioned(df.repartition(8), path, ["day"])
    frag = glob.glob(f"{path}/day=2024-01-01/*.parquet")
    assert len(frag) > 1

    # Dynamic overwrite of ONE day must leave the other day intact.
    patch = spark.createDataFrame([("2024-01-02", 999, 9.9)], "day string, id int, v double")
    write_partitioned(patch, path, ["day"], dynamic=True)
    back = spark.read.parquet(path)
    assert back.where("day = '2024-01-01'").count() == 50
    assert [r["id"] for r in back.where("day = '2024-01-02'").collect()] == [999]

    # Compaction: rebuild the fragmented layout, then 1 file per dir.
    write_partitioned(df.repartition(8), path, ["day"])
    dest = str(tmp_path / "compact")
    compact_partitions(spark, path, dest, ["day"])
    for d in ("2024-01-01", "2024-01-02"):
        assert len(glob.glob(f"{dest}/day={d}/*.parquet")) == 1
    assert spark.read.parquet(dest).count() == 100

    # Size-bounded variant: 50 rows/day at 25 records/file => 2 files.
    dest2 = str(tmp_path / "compact2")
    compact_partitions(spark, path, dest2, ["day"], max_records_per_file=25)
    for d in ("2024-01-01", "2024-01-02"):
        assert len(glob.glob(f"{dest2}/day={d}/*.parquet")) == 2
    assert spark.read.parquet(dest2).count() == 100


def test_streaming_hll_across_microbatches_matches_batch_query(spark, tmp_path):
    # The streaming HLL's final per-key estimate must equal the batch
    # a_hll_distinct estimate on the same data — registers carried as
    # keyed state across micro-batch boundaries, layout/hash/estimator
    # bit-identical to the engine side.
    from kp_crypto_market_analytics_spark.queries_ext import a_hll_distinct
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.hll import (
        distinct_users_stream,
    )

    e = (
        load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
        .selectExpr("event_type", "CAST(user_id AS STRING) AS u", "event_id")
        .orderBy("event_id")
    )
    pdf = e.toPandas()
    src = str(tmp_path / "src")
    third = len(pdf) // 3
    for i, chunk in enumerate((pdf[:third], pdf[third : 2 * third], pdf[2 * third :])):
        spark.createDataFrame(chunk).coalesce(1).write.parquet(f"{src}/{i}")

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = distinct_users_stream(stream.select("event_type", "u"))
    q = (
        out.writeStream.format("memory")
        .queryName("hll_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("hll_out").toPandas()
    # one emission per key per micro-batch that contained that key;
    # take the final (max n_events_seen) per key.
    final = got.loc[got.groupby("event_type")["n_events_seen"].idxmax()]
    batch = {
        r["event_type"]: r["hll_est"]
        for r in a_hll_distinct(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(final["event_type"]) == set(batch)
    for _, row in final.iterrows():
        assert row["hll_est"] == batch[row["event_type"]], row
    # the running estimate is monotone non-decreasing per key
    for _, grp in got.sort_values("n_events_seen").groupby("event_type"):
        ests = list(grp["hll_est"])
        assert all(a <= b + 1e-9 for a, b in zip(ests, ests[1:])), ests


def test_streaming_ddsketch_across_microbatches_matches_batch(spark, tmp_path):
    # The streaming quantile sketch's final per-key estimates must equal
    # the engine-side batch sketch on the same data — bucket histograms
    # carried as keyed state across micro-batch boundaries, bucket
    # layout and ceil-rank estimator bit-identical to the batch side.
    from kp_crypto_market_analytics_spark.queries_quality import (
        _DDS_LEVELS,
        _dds_buckets,
        _dds_estimates,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.ddsketch import (
        quantiles_stream,
    )

    o = (
        load_tables(spark, "/root/testdata/sf0.001", ["orders"])["orders"]
        .selectExpr(
            "o_orderpriority AS g",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS v",
            "o_orderkey",
        )
        .orderBy("o_orderkey")
    )
    pdf = o.toPandas()
    src = str(tmp_path / "src")
    third = len(pdf) // 3
    for i, chunk in enumerate((pdf[:third], pdf[third : 2 * third], pdf[2 * third :])):
        spark.createDataFrame(chunk).coalesce(1).write.parquet(f"{src}/{i}")

    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        quantiles_stream(stream.select("g", "v"))
        .writeStream.format("memory")
        .queryName("dds_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dds_out").toPandas()
    final = got.loc[got.groupby("g")["n_seen"].idxmax()].set_index("g")

    batch = o.toPandas().groupby("g")
    for g, grp in batch:
        # Engine-side batch sketch per key (same helpers the gated
        # query uses), compared against the final streaming emission.
        vdf = spark.createDataFrame(grp[["v"]])
        est = {
            r["q_level"]: r["sketch_est"]
            for r in _dds_estimates(_dds_buckets(vdf, [])).collect()
        }
        assert int(final.loc[g, "n_seen"]) == len(grp)
        for lvl in _DDS_LEVELS:
            assert final.loc[g, f"p{int(lvl * 100)}_est"] == est[lvl], (g, lvl)


def test_streaming_countmin_shards_merge_to_batch_sketch(spark, tmp_path):
    # The sharded streaming count-min grids, cell-summed after the final
    # micro-batch, must equal the single-pass batch sketch t_countmin_hh
    # builds over the same tokens — CMS linearity carried through keyed
    # state across micro-batch and shard boundaries.
    import pandas as pd

    from kp_crypto_market_analytics_spark.functions.text import hash64
    from kp_crypto_market_analytics_spark.queries_corpus import (
        _CM_ROWS,
        _CM_WIDTH,
        _toks_df,
    )
    from kp_crypto_market_analytics_spark.streaming.countmin import (
        countmin_stream,
        shard_of,
    )

    N_SHARDS = 4
    toks = (
        _toks_df(spark, "/root/testdata/sf0.001")
        .select("doc_id", F.explode("toks").alias("tok"))
        .orderBy("doc_id", "tok")
        .toPandas()
    )
    toks["shard"] = [shard_of(t, N_SHARDS) for t in toks["tok"]]
    src = str(tmp_path / "src")
    third = len(toks) // 3
    chunks = (toks[:third], toks[third : 2 * third], toks[2 * third :])
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk[["shard", "tok"]]).coalesce(1).write.parquet(
            f"{src}/{i}"
        )

    stream = (
        spark.readStream.schema("shard bigint, tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        countmin_stream(stream)
        .writeStream.format("memory")
        .queryName("cm_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("cm_out").toPandas()
    final = got.loc[got.groupby("shard")["n_seen"].idxmax()]
    assert final["n_seen"].sum() == len(toks)
    merged = [0] * (_CM_ROWS * _CM_WIDTH)
    for counters in final["counters"]:
        for i, c in enumerate(counters):
            merged[i] += c

    # Engine-built batch sketch (same cells t_countmin_hh aggregates).
    vocab = (
        spark.createDataFrame(toks[["tok"]])
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("row"),
                    F.pmod(
                        hash64(F.concat(F.col("tok"), F.lit(f"#cm{j}"))),
                        F.lit(_CM_WIDTH),
                    ).alias("bucket"),
                )
                for j in range(_CM_ROWS)
            ]
        )
    ).alias("rb")
    batch_cells = {
        (r["row"], r["bucket"]): r["cell"]
        for r in vocab.select(rb, "cf")
        .select("rb.row", "rb.bucket", "cf")
        .groupBy("row", "bucket")
        .agg(F.sum("cf").alias("cell"))
        .collect()
    }
    stream_cells = {
        (j, b): merged[j * _CM_WIDTH + b]
        for j in range(_CM_ROWS)
        for b in range(_CM_WIDTH)
        if merged[j * _CM_WIDTH + b]
    }
    assert stream_cells == batch_cells


def test_streaming_hll_running_emissions_match_gated_fold(spark, tmp_path):
    # Closing the mergeability loop AS streaming state (r3 ask #7): the
    # REAL applyInPandasWithState stream, fed day-batched micro-batches
    # in arrival order, must reproduce the gated a_hll_stream_parity
    # fold emission-for-emission — running n_events_seen and running
    # estimate both — and the gate's own register/estimate equality
    # flags must all hold.
    from pyspark.sql import functions as F

    from kp_crypto_market_analytics_spark.queries_ext import (
        _HLL_STREAM_BATCHES,
        a_hll_stream_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.hll import (
        distinct_users_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    gated = a_hll_stream_parity(spark, sf_dir).toPandas()
    assert bool(gated["regs_equal"].all()) and bool(gated["est_equal"].all())
    assert list(gated["batch_idx"]) == list(range(1, _HLL_STREAM_BATCHES + 1))

    e = (
        load_tables(spark, sf_dir, ["events"])["events"]
        .select(
            F.to_date("ts").alias("day"),
            F.lit("all").alias("event_type"),
            F.col("user_id").cast("string").alias("u"),
        )
    )
    days = [r["day"] for r in e.select("day").distinct().orderBy("day").collect()]
    days = days[:_HLL_STREAM_BATCHES]
    src = str(tmp_path / "hll_days")
    feed = e.select("event_type", "u", "day")
    for i, d in enumerate(days):
        feed.where(F.col("day") == F.lit(d)).drop("day").coalesce(1).write.parquet(
            f"{src}/{i}"
        )

    stream = (
        spark.readStream.schema("event_type string, u string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        distinct_users_stream(stream)
        .writeStream.format("memory")
        .queryName("hll_fold_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("hll_fold_out")
        .toPandas()
        .sort_values("n_events_seen")
        .reset_index(drop=True)
    )
    # one emission per micro-batch; cumulative counts and running
    # estimates must match the gated fold row-for-row.
    assert list(got["n_events_seen"]) == list(gated["n_events_seen"])
    assert list(got["hll_est"]) == list(gated["stream_est"])


def test_streaming_ddsketch_running_emissions_match_gated_fold(spark, tmp_path):
    # The REAL applyInPandasWithState quantile stream, fed day-batched
    # order micro-batches in arrival order, must reproduce the gated
    # a_ddsketch_stream_parity fold emission-for-emission — running
    # n_seen and running median both — and the gate's own bucket/median
    # equality flags must all hold.
    from kp_crypto_market_analytics_spark.queries_quality import (
        _DDS_STREAM_BATCHES,
        a_ddsketch_stream_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.ddsketch import (
        quantiles_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    gated = a_ddsketch_stream_parity(spark, sf_dir).toPandas()
    assert bool(gated["buckets_equal"].all()) and bool(gated["q50_equal"].all())
    assert list(gated["batch_idx"]) == list(range(1, _DDS_STREAM_BATCHES + 1))

    o = load_tables(spark, sf_dir, ["orders"])["orders"].select(
        F.col("o_orderdate").alias("day"),
        F.lit("all").alias("g"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
    )
    days = [r["day"] for r in o.select("day").distinct().orderBy("day").collect()]
    days = days[:_DDS_STREAM_BATCHES]
    src = str(tmp_path / "dds_days")
    for i, d in enumerate(days):
        o.where(F.col("day") == F.lit(d)).select("g", "v").coalesce(1).write.parquet(
            f"{src}/{i}"
        )

    stream = (
        spark.readStream.schema("g string, v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        quantiles_stream(stream)
        .writeStream.format("memory")
        .queryName("dds_fold_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("dds_fold_out")
        .toPandas()
        .sort_values("n_seen")
        .reset_index(drop=True)
    )
    assert list(got["n_seen"]) == list(gated["n_rows_seen"])
    assert list(got["p50_est"]) == list(gated["stream_q50"])


def test_streaming_countmin_running_emissions_match_gated_fold(spark, tmp_path):
    # The REAL applyInPandasWithState count-min stream, fed the gated
    # query's doc-batches in order on a single shard, must reproduce the
    # gated t_countmin_stream_parity fold emission-for-emission —
    # running token count and running top-token estimate — and the
    # gate's own grid/estimate equality flags must all hold.
    from kp_crypto_market_analytics_spark.queries_corpus import (
        _CM_STREAM_BATCHES,
        _CM_WIDTH,
        _toks_df,
        t_countmin_stream_parity,
    )
    from kp_crypto_market_analytics_spark.streaming.countmin import (
        cm_cells,
        countmin_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    gated = t_countmin_stream_parity(spark, sf_dir).toPandas()
    assert bool(gated["cells_equal"].all()) and bool(gated["est_equal"].all())
    assert list(gated["batch_idx"]) == list(range(1, _CM_STREAM_BATCHES + 1))
    top_tok = gated["top_tok"].iloc[0]

    toks = _toks_df(spark, sf_dir).select(
        (F.pmod(F.col("doc_id"), F.lit(_CM_STREAM_BATCHES)) + 1).alias("bid"),
        F.lit(0).cast("long").alias("shard"),
        F.explode("toks").alias("tok"),
    )
    src = str(tmp_path / "cm_batches")
    for k in range(1, _CM_STREAM_BATCHES + 1):
        toks.where(F.col("bid") == k).select("shard", "tok").coalesce(
            1
        ).write.parquet(f"{src}/{k}")

    stream = (
        spark.readStream.schema("shard bigint, tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        countmin_stream(stream)
        .writeStream.format("memory")
        .queryName("cm_fold_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("cm_fold_out")
        .toPandas()
        .sort_values("n_seen")
        .reset_index(drop=True)
    )
    assert list(got["n_seen"]) == list(gated["n_toks_seen"])
    cells = cm_cells(str(top_tok))
    running_est = [
        min(counters[j * _CM_WIDTH + b] for j, b in cells)
        for counters in got["counters"]
    ]
    assert running_est == list(gated["stream_est"])


def test_streaming_kmv_running_emissions_match_gated_fold(spark, tmp_path):
    # Fourth member of the sketch-parity quartet: the REAL
    # applyInPandasWithState KMV stream, fed day-batched micro-batches
    # in arrival order, must reproduce the gated a_kmv_stream_parity
    # fold emission-for-emission — running n_events_seen, sketch order
    # statistics, and estimate — and the gate's own equality flags must
    # all hold.
    from pyspark.sql import functions as F

    from kp_crypto_market_analytics_spark.queries_quality import (
        _KMV_STREAM_BATCHES,
        a_kmv_stream_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.kmv import (
        distinct_users_kmv_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    gated = a_kmv_stream_parity(spark, sf_dir).toPandas()
    assert bool(gated["sketch_equal"].all()) and bool(gated["est_equal"].all())
    assert list(gated["batch_idx"]) == list(range(1, _KMV_STREAM_BATCHES + 1))

    e = (
        load_tables(spark, sf_dir, ["events"])["events"]
        .select(
            F.to_date("ts").alias("day"),
            F.lit("all").alias("event_type"),
            F.col("user_id").cast("string").alias("u"),
        )
    )
    days = [r["day"] for r in e.select("day").distinct().orderBy("day").collect()]
    days = days[:_KMV_STREAM_BATCHES]
    src = str(tmp_path / "kmv_days")
    feed = e.select("event_type", "u", "day")
    for i, d in enumerate(days):
        feed.where(F.col("day") == F.lit(d)).drop("day").coalesce(1).write.parquet(
            f"{src}/{i}"
        )

    stream = (
        spark.readStream.schema("event_type string, u string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        distinct_users_kmv_stream(stream)
        .writeStream.format("memory")
        .queryName("kmv_fold_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("kmv_fold_out")
        .toPandas()
        .sort_values("n_events_seen")
        .reset_index(drop=True)
    )
    # one emission per micro-batch; cumulative counts, sketch order
    # statistics, and running estimates must match the gated fold
    # row-for-row.
    assert list(got["n_events_seen"]) == list(gated["n_events_seen"])
    assert list(got["n_kept"]) == list(gated["n_kept"])
    assert list(got["kth_value"]) == list(gated["kth_value"])
    assert list(got["kmv_est"]) == list(gated["stream_est"])


def test_streaming_dedup_running_emissions_match_gated_fold(spark, tmp_path):
    # Streaming dedup joins the parity-gate pattern: the REAL
    # dropDuplicatesWithinWatermark operator, fed day-batched
    # micro-batches in arrival order, must emit exactly the
    # first-occurrence keys the gated dedup_stream_parity fold counts
    # — per batch, and with no key ever emitted twice.
    from pyspark.sql import functions as F

    from kp_crypto_market_analytics_spark.queries_quality import (
        _DEDUP_STREAM_BATCHES,
        dedup_stream_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.dedup import dedup_exact_stream

    sf_dir = "/root/testdata/sf0.001"
    gated = dedup_stream_parity(spark, sf_dir).toPandas()
    assert bool(gated["dedup_ok"].all())
    assert list(gated["batch_idx"]) == list(range(1, _DEDUP_STREAM_BATCHES + 1))
    assert int(gated["n_new_emitted"].sum()) == int(gated["state_size"].iloc[-1])

    e = load_tables(spark, sf_dir, ["events"])["events"].select(
        F.to_date("ts").alias("day"),
        F.col("ts").alias("ts"),
        F.col("user_id").cast("string").alias("k"),
    )
    days = [r["day"] for r in e.select("day").distinct().orderBy("day").collect()]
    days = days[:_DEDUP_STREAM_BATCHES]
    src = str(tmp_path / "dedup_days")
    for i, d in enumerate(days):
        e.where(F.col("day") == F.lit(d)).coalesce(1).write.parquet(f"{src}/{i}")

    stream = (
        spark.readStream.schema("day date, ts timestamp, k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        dedup_exact_stream(stream, ["k"], ts_col="ts", watermark="30 days")
        .writeStream.format("memory")
        .queryName("dedup_fold_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_fold_out").toPandas()
    assert got["k"].is_unique  # a seen key is never re-emitted
    assert len(got) == int(gated["state_size"].iloc[-1])
    per_day = got.groupby("day").size()
    for idx, d in enumerate(days, start=1):
        want = int(gated.loc[gated["batch_idx"] == idx, "n_new_emitted"].iloc[0])
        assert int(per_day.get(d, 0)) == want


def test_streaming_mg_running_emissions_match_gated_fold(spark, tmp_path):
    # The REAL applyInPandasWithState Misra-Gries stream, fed the same
    # doc_id-mod-_MG_BATCHES micro-batches in order, must reproduce the gated
    # t_mg_stream_parity fold emission-for-emission: state size, weight
    # mass, subtracted values, and top counter — and the gate's own
    # deterministic-error invariant must hold.
    from pyspark.sql import functions as F

    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df
    from kp_crypto_market_analytics_spark.queries_quality import (
        _MG_BATCHES,
        t_mg_stream_parity,
    )
    from kp_crypto_market_analytics_spark.streaming.mg import (
        heavy_hitters_mg_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    gated = t_mg_stream_parity(spark, sf_dir).toPandas()
    assert bool(gated["bound_ok"].all())
    assert list(gated["batch_idx"]) == list(range(1, _MG_BATCHES + 1))

    toks = _toks_df(spark, sf_dir).select(
        (F.pmod(F.col("doc_id"), F.lit(_MG_BATCHES)) + 1).alias("bid"),
        F.lit("all").alias("key"),
        F.explode("toks").alias("tok"),
    )
    src = str(tmp_path / "mg_batches")
    for b in range(1, _MG_BATCHES + 1):
        toks.where(F.col("bid") == b).drop("bid").coalesce(1).write.parquet(
            f"{src}/{b}"
        )
    stream = (
        spark.readStream.schema("key string, tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        heavy_hitters_mg_stream(stream)
        .writeStream.format("memory")
        .queryName("mg_fold_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("mg_fold_out")
        .toPandas()
        .sort_values("n_toks_seen")
        .reset_index(drop=True)
    )
    for col in ("n_toks_seen", "state_size", "state_wsum", "d_step", "d_cum",
                "top_tok", "top_w"):
        assert list(got[col]) == list(gated[col]), col


def test_orc_artifact_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/scan: values round-trip exactly, partition pruning and
    predicate pushdown reach the ORC scan node like parquet."""
    from kp_crypto_market_analytics_spark.sinks.artifacts import (
        read_orc_artifact,
        write_orc_artifact,
    )

    df = _mk(
        spark,
        [
            ("A", "1m", "2024-01-01 00:00:00", 1.5),
            ("A", "1m", "2024-01-01 00:01:00", 2.5),
            ("B", "1m", "2024-01-01 00:00:00", 3.5),
        ],
    )
    path = str(tmp_path / "orc_art")
    write_orc_artifact(df, path, partition_by="symbol")
    back = read_orc_artifact(spark, path)
    assert back.count() == 3
    got = sorted(
        (r["symbol"], r["tf"], r["close"]) for r in back.collect()
    )
    assert got == [("A", "1m", 1.5), ("A", "1m", 2.5), ("B", "1m", 3.5)]
    # partition pruning: only symbol=A files scanned; value filter pushed
    q = back.where((F.col("symbol") == "A") & (F.col("close") > 2.0))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert q.count() == 1
    assert "PushedFilters" in plan
    assert "close" in plan.split("PushedFilters")[1][:200]


def test_welch_stream_matches_batch_fold(spark, tmp_path):
    # The REAL streaming Welch monitor (applyInPandasWithState, exact
    # integer moments carried as state) must match the oracle-gated
    # batch fold a_welch_stream_parity EMISSION FOR EMISSION when the
    # same 4 deterministic batches (event_id % 4) arrive in order.
    from kp_crypto_market_analytics_spark.queries_r8 import (
        _WELCH_BATCHES,
        a_welch_stream_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.welch import (
        welch_monitor_stream,
    )

    sf = "/root/testdata/sf0.001"
    e = load_tables(spark, sf, ["events"])["events"].select(
        "event_type", "event_id", "ts", "value"
    )
    src = str(tmp_path / "src")
    for k in range(1, _WELCH_BATCHES + 1):
        # file names sort in batch order -> maxFilesPerTrigger=1
        # replays bid 1..4 as successive micro-batches
        e.where(F.pmod(F.col("event_id"), F.lit(_WELCH_BATCHES)) + 1 == k) \
            .coalesce(1).write.parquet(f"{src}/b{k}")
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        welch_monitor_stream(stream)
        .writeStream.format("memory")
        .queryName("welch_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["event_type"], r["batch_idx"]): r
        for r in spark.table("welch_out").collect()
    }
    want = a_welch_stream_parity(spark, sf).collect()
    assert len(got) == len(want) > 0
    for w in want:
        g = got[(w["event_type"], w["batch_idx"])]
        assert g["n_a"] == w["n_a"] and g["n_b"] == w["n_b"]
        for c in ("mean_a", "mean_b", "t_stat", "welch_dof"):
            if w[c] is None:
                assert g[c] is None
            else:
                assert g[c] == w[c], (w["event_type"], w["batch_idx"], c)


def test_rollstd_stream_matches_gated_fold(spark, tmp_path):
    # VERDICT r8 ask #2: the keyed-state rolling-volatility stream is
    # pinned emission-for-emission to the oracle-gated sequential fold
    # (w_rollstd_stream_parity).  Stream ALL sf0.001 events as 4
    # time-contiguous files (the fold's batch slicing) through the
    # REAL applyInPandasWithState operator with the production
    # 60/30 window, then require (a) per-emission equality with the
    # trailing-window expectation and (b) digest equality with the
    # gated registry row.
    import numpy as np

    from kp_crypto_market_analytics_spark.queries_r9 import (
        _ROLL_BATCHES,
        w_rollstd_stream_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.stateful import (
        rolling_std_stream,
    )

    sfd = "/root/testdata/sf0.001"
    gated = w_rollstd_stream_parity(spark, sfd).toPandas()

    e = (
        load_tables(spark, sfd, ["events"])["events"]
        .selectExpr("event_type AS symbol", "event_id", "ts", "value")
    )
    pdf = e.toPandas()
    ms = pdf["ts"].astype("int64") // 10**6
    lo, hi = int(ms.min()), int(ms.max())
    pdf["batch_idx"] = np.minimum(
        _ROLL_BATCHES, 1 + (ms - lo) * _ROLL_BATCHES // (hi - lo + 1)
    )
    src = str(tmp_path / "src")
    for b in range(1, _ROLL_BATCHES + 1):
        part = pdf[pdf["batch_idx"] == b].drop(columns=["batch_idx"])
        spark.createDataFrame(part).coalesce(1).write.parquet(f"{src}/b{b}")

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = rolling_std_stream(stream, window_rows=60, min_periods=30)
    q = (
        out.writeStream.format("memory")
        .queryName("rollstd_parity_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("rollstd_parity_out").toPandas()
    assert len(got) == len(pdf)

    # (a) emission-for-emission vs the trailing window on the full
    # series — the state must carry the tail across the 4 triggers
    expected = (
        pdf.sort_values(["symbol", "ts", "event_id"])
        .groupby("symbol")["value"]
        .rolling(60, min_periods=30)
        .std()
        .reset_index(level=0, drop=True)
    )
    exp_df = pdf.sort_values(["symbol", "ts", "event_id"]).assign(
        expected=expected.values
    )
    merged = got.merge(exp_df[["event_id", "expected", "batch_idx"]], on="event_id")
    assert np.allclose(
        merged["rolling_std"].fillna(-1), merged["expected"].fillna(-1), atol=1e-9
    )

    # (b) digest of the STREAMED emissions == the gated registry row
    merged["std6"] = merged["rolling_std"].round(6)
    dig = (
        merged.groupby(["batch_idx", "symbol"])
        .agg(
            n_emissions=("event_id", "size"),
            n_scored=("std6", "count"),
            sum_std=("std6", "sum"),
            max_std=("std6", "max"),
        )
        .reset_index()
        .rename(columns={"symbol": "event_type"})
        .sort_values(["batch_idx", "event_type"])
        .reset_index(drop=True)
    )
    g = gated.sort_values(["batch_idx", "event_type"]).reset_index(drop=True)
    assert list(dig["batch_idx"]) == list(g["batch_idx"])
    assert list(dig["event_type"]) == list(g["event_type"])
    assert list(dig["n_emissions"]) == list(g["n_emissions"])
    assert list(dig["n_scored"]) == list(g["n_scored"])
    # each addend may differ by 1e-6 only on a knife-edge rounding tie
    assert np.allclose(dig["sum_std"], g["sum_std"], atol=1e-3)
    assert np.allclose(
        dig["max_std"].fillna(-1), g["max_std"].fillna(-1), atol=1e-5
    )


def test_stream_enrich_matches_gated_digest(spark, tmp_path):
    # VERDICT r8 ask #2 (second operator): the watermarked
    # stream-stream time-range join's streamed pair set digests to
    # EXACTLY the oracle-gated batch twin (j_stream_enrich_parity) —
    # all-integer comparison, no tolerance.
    from kp_crypto_market_analytics_spark.queries_r9 import (
        j_stream_enrich_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.joins import (
        enrich_with_recent,
    )

    sfd = "/root/testdata/sf0.001"
    gated = {
        r["event_type"]: (
            r["n_pairs"], r["n_facts_matched"], r["sum_lag_ms"], r["max_lag_ms"]
        )
        for r in j_stream_enrich_parity(spark, sfd).collect()
    }

    e = load_tables(spark, sfd, ["events"])["events"]
    facts = e.selectExpr(
        "event_type", "event_id AS fact_id", "ts AS fact_ts"
    )
    ctx = e.selectExpr("event_type", "event_id AS ctx_id", "ts AS ctx_ts")
    fdir, cdir = str(tmp_path / "f"), str(tmp_path / "c")
    facts.coalesce(1).write.parquet(fdir)
    ctx.coalesce(1).write.parquet(cdir)
    fs = spark.readStream.schema(facts.schema).parquet(fdir)
    cs = spark.readStream.schema(ctx.schema).parquet(cdir)
    joined = enrich_with_recent(
        fs, cs, key="event_type", fact_ts="fact_ts", ctx_ts="ctx_ts",
        lookback="5 minutes",
    ).select(
        F.col("f.event_type").alias("event_type"),
        F.col("f.fact_id").alias("fact_id"),
        (F.unix_millis("f.fact_ts") - F.unix_millis("c.ctx_ts")).alias(
            "lag_ms"
        ),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("enrich_parity_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("enrich_parity_out").toPandas()
    dig = {
        k: (
            int(v["fact_id"].size),
            int(v["fact_id"].nunique()),
            int(v["lag_ms"].sum()),
            int(v["lag_ms"].max()),
        )
        for k, v in got.groupby("event_type")
    }
    assert dig == gated and len(gated) == 5


def test_vpin_stream_matches_gated_fold(spark, tmp_path):
    # The streaming VPIN operator (keyed state: last price, carried
    # sign, cumulative volume, one open bucket) is pinned row-for-row
    # to the oracle-gated completed-bucket table
    # (a_vpin_stream_parity).  Stream the sf0.001 tape as 3
    # time-contiguous files through the REAL applyInPandasWithState
    # operator; emissions must be bitwise-identical integers — and
    # the in-state open bucket must equal exactly the rows the batch
    # fold drops.
    import numpy as np

    from kp_crypto_market_analytics_spark.queries_r9b import (
        _SVPIN_V,
        _ticks,
        a_vpin_stream_parity,
    )
    from kp_crypto_market_analytics_spark.streaming.vpin import vpin_stream

    sfd = "/root/testdata/sf0.001"
    gated = (
        a_vpin_stream_parity(spark, sfd)
        .toPandas()
        .sort_values(["event_type", "bucket_id"])
        .reset_index(drop=True)
    )

    e = _ticks(spark, sfd).select("event_type", "event_id", "ts", "vm", "k")
    pdf = e.toPandas()
    ms = pdf["ts"].astype("int64") // 10**6
    lo, hi = int(ms.min()), int(ms.max())
    pdf["b"] = np.minimum(3, 1 + (ms - lo) * 3 // (hi - lo + 1))
    src = str(tmp_path / "src")
    for b in range(1, 4):
        part = pdf[pdf["b"] == b].drop(columns=["b"])
        spark.createDataFrame(part, schema=e.schema).coalesce(1).write.parquet(
            f"{src}/b{b}"
        )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = vpin_stream(stream, bucket_volume=_SVPIN_V)
    q = (
        out.writeStream.format("memory")
        .queryName("vpin_parity_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("vpin_parity_out")
        .toPandas()
        .sort_values(["event_type", "bucket_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(gated) > 0
    for col in ("bucket_id", "buy_vol", "sell_vol", "bucket_vol", "imbalance"):
        assert (
            got[col].astype("int64").to_numpy()
            == gated[col].astype("int64").to_numpy()
        ).all(), col
    assert (got["event_type"] == gated["event_type"]).all()
    # bitwise integer parity: completed buckets conserve classified
    # volume up to (but excluding) each symbol's open bucket
    assert (got["buy_vol"] + got["sell_vol"] == got["bucket_vol"]).all()


def test_vpin_stream_boundary_independence(spark, tmp_path):
    # Same tape streamed as ONE file must emit the identical bucket
    # rows as the 3-file run (the state carries the open bucket and
    # carried sign across triggers, so boundaries cannot matter).
    from kp_crypto_market_analytics_spark.queries_r9b import (
        _SVPIN_V,
        _ticks,
    )
    from kp_crypto_market_analytics_spark.streaming.vpin import vpin_stream

    sfd = "/root/testdata/sf0.001"
    e = _ticks(spark, sfd).select("event_type", "event_id", "ts", "vm", "k")
    src = str(tmp_path / "one")
    e.coalesce(1).write.parquet(src + "/b1")
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        vpin_stream(stream, bucket_volume=_SVPIN_V)
        .writeStream.format("memory")
        .queryName("vpin_onefile_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("vpin_onefile_out")
        .toPandas()
        .sort_values(["event_type", "bucket_id"])
        .reset_index(drop=True)
    )
    from kp_crypto_market_analytics_spark.queries_r9b import (
        a_vpin_stream_parity,
    )

    gated = (
        a_vpin_stream_parity(spark, sfd)
        .toPandas()
        .sort_values(["event_type", "bucket_id"])
        .reset_index(drop=True)
    )
    assert got.shape == gated.shape
    assert (
        got["imbalance"].astype("int64").to_numpy()
        == gated["imbalance"].astype("int64").to_numpy()
    ).all()


def test_vpin_stream_multichunk_parity(spark, tmp_path):
    # ADVICE r9 (high): applyInPandasWithState hands a group's
    # micro-batch rows over as MULTIPLE Arrow chunks in shuffle order.
    # Force tiny chunks (maxRecordsPerBatch=7) so every symbol's
    # trigger spans many chunks; emissions must still equal the gated
    # fold bitwise — this fails under per-chunk sorting.
    from kp_crypto_market_analytics_spark.queries_r9b import (
        _SVPIN_V,
        _ticks,
        a_vpin_stream_parity,
    )
    from kp_crypto_market_analytics_spark.streaming.vpin import vpin_stream

    sfd = "/root/testdata/sf0.001"
    gated = (
        a_vpin_stream_parity(spark, sfd)
        .toPandas()
        .sort_values(["event_type", "bucket_id"])
        .reset_index(drop=True)
    )

    e = _ticks(spark, sfd).select("event_type", "event_id", "ts", "vm", "k")
    src = str(tmp_path / "chunked")
    # Pre-shuffle the file so arrival order is adversarial, then let
    # tiny Arrow batches split each group into many chunks.
    e.orderBy(F.hash("event_id")).coalesce(1).write.parquet(src + "/b1")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        stream = spark.readStream.schema(e.schema).parquet(src + "/*")
        out = vpin_stream(stream, bucket_volume=_SVPIN_V)
        q = (
            out.writeStream.format("memory")
            .queryName("vpin_multichunk_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    got = (
        spark.table("vpin_multichunk_out")
        .toPandas()
        .sort_values(["event_type", "bucket_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(gated) > 0
    for col in ("bucket_id", "buy_vol", "sell_vol", "bucket_vol", "imbalance"):
        assert (
            got[col].astype("int64").to_numpy()
            == gated[col].astype("int64").to_numpy()
        ).all(), col
    assert (got["event_type"] == gated["event_type"]).all()


def test_enrich_batch_outer_join_no_duplicate_unmatched(spark):
    # ADVICE r9 (medium): the batch bucketed rewrite explodes ctx rows
    # into 2 buckets; right/full outer must NOT emit an unmatched ctx
    # row once per exploded copy.  Those modes take the raw theta
    # join; assert row-for-row agreement with it, and that matched
    # pairs still agree with the bucketed inner path.
    import datetime

    from pyspark.sql import functions as F

    from kp_crypto_market_analytics_spark.streaming.joins import (
        enrich_with_recent,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def ts(minute):
        return t0 + datetime.timedelta(minutes=minute)

    facts = spark.createDataFrame(
        [("A", 1, ts(10)), ("A", 2, ts(20)), ("B", 3, ts(10))],
        "symbol string, fact_id long, fact_ts timestamp",
    )
    ctx = spark.createDataFrame(
        [
            ("A", 100, ts(9)),     # matches fact 1
            ("A", 101, ts(50)),    # UNMATCHED (after every fact)
            ("B", 102, ts(8)),     # matches fact 3
            ("C", 103, ts(10)),    # UNMATCHED symbol
        ],
        "symbol string, ctx_id long, ctx_ts timestamp",
    )

    for how in ("full", "right"):
        got = (
            enrich_with_recent(
                facts, ctx, key="symbol", fact_ts="fact_ts",
                ctx_ts="ctx_ts", lookback="5 minutes", how=how,
            )
            .selectExpr("f.fact_id AS fact_id", "c.ctx_id AS ctx_id")
            .collect()
        )
        keyf = lambda t: tuple(-1 if v is None else v for v in t)  # noqa: E731
        pairs = sorted(
            ((r["fact_id"], r["ctx_id"]) for r in got), key=keyf
        )
        raw = (
            facts.alias("f")
            .join(
                ctx.alias("c"),
                (F.col("f.symbol") == F.col("c.symbol"))
                & (F.col("c.ctx_ts") <= F.col("f.fact_ts"))
                & (
                    F.col("c.ctx_ts")
                    > F.col("f.fact_ts") - F.expr("INTERVAL 5 minutes")
                ),
                how,
            )
            .selectExpr("f.fact_id AS fact_id", "c.ctx_id AS ctx_id")
            .collect()
        )
        assert pairs == sorted(
            ((r["fact_id"], r["ctx_id"]) for r in raw), key=keyf
        ), how
        # each unmatched ctx row exactly once
        assert pairs.count((None, 101)) == 1, how
        assert pairs.count((None, 103)) == 1, how

    inner = (
        enrich_with_recent(
            facts, ctx, key="symbol", fact_ts="fact_ts", ctx_ts="ctx_ts",
            lookback="5 minutes", how="inner",
        )
        .selectExpr("f.fact_id AS fact_id", "c.ctx_id AS ctx_id")
        .collect()
    )
    assert sorted((r["fact_id"], r["ctx_id"]) for r in inner) == [
        (1, 100), (3, 102)
    ]


def test_interval_ms_grammar_matches_streaming_path():
    # ADVICE r9 (low): the batch path must accept the same lookback
    # grammar the streaming INTERVAL expression does, and reject
    # unknown units with an informative ValueError, not a KeyError.
    import pytest

    from kp_crypto_market_analytics_spark.streaming.joins import _interval_ms

    assert _interval_ms("500 milliseconds") == 500
    assert _interval_ms("1 week") == 7 * 86_400_000
    assert _interval_ms("1 hour 30 minutes") == 5_400_000
    assert _interval_ms("2 days") == 2 * 86_400_000
    assert _interval_ms("1 second") == 1000
    # ADVICE r10 (low): an all-zero interval has no valid bucket width
    # (floor(ms/0) => NULL buckets => silently empty bucketed join
    # while the raw theta path still matches ts-equal rows).
    for bad in (
        "5 fortnights", "minutes 5", "5", "", "-1 hour",
        "0 minutes", "0 hours 0 seconds",
    ):
        with pytest.raises(ValueError):
            _interval_ms(bad)


def test_lsh_dedup_stream_matches_gated_fold(spark, tmp_path):
    # The streaming incremental-LSH near-dup ingest (foreachBatch loop
    # in streaming/dedup_lsh.py) is pinned emission-for-emission to
    # the oracle-gated batch fold (dedup_lsh_stream_parity): stream
    # the corpus as 3 files (doc_id mod 3), signatures from the same
    # frozen store the batch queries read; per-batch pair emissions
    # must match the fold bit-for-bit (ids, flags, tier, est).
    from kp_crypto_market_analytics_spark.queries_ext import _minhash_sigs
    from kp_crypto_market_analytics_spark.queries_r10 import (
        _SLSH_BATCHES,
        dedup_lsh_stream_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.streaming.dedup_lsh import (
        lsh_dedup_stream,
        sig_fn_from_store,
    )

    sfd = "/root/testdata/sf0.001"
    gated = (
        dedup_lsh_stream_parity(spark, sfd)
        .toPandas()
        .sort_values(["batch", "doc_a", "doc_b"])
        .reset_index(drop=True)
    )

    docs = load_tables(spark, sfd, ["documents"])["documents"]
    src = str(tmp_path / "docs")
    for b in range(_SLSH_BATCHES):
        (
            docs.where(F.col("doc_id") % _SLSH_BATCHES == b)
            .coalesce(1)
            .write.parquet(f"{src}/b{b}")
        )
    store = _minhash_sigs(spark, sfd)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = lsh_dedup_stream(
        stream,
        sig_fn_from_store(store),
        state_dir=str(tmp_path / "state"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    got = (
        spark.read.option("basePath", str(tmp_path / "pairs"))
        .parquet(str(tmp_path / "pairs") + "/batch=*")
        .toPandas()
        .sort_values(["batch", "doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    assert len(got) == len(gated) > 0
    for col in ("batch", "doc_a", "doc_b"):
        assert (
            got[col].astype("int64").to_numpy()
            == gated[col].astype("int64").to_numpy()
        ).all(), col
    for col in ("new_a", "new_b"):
        assert (
            got[col].astype(bool).to_numpy()
            == gated[col].astype(bool).to_numpy()
        ).all(), col
    assert (got["tier"] == gated["tier"]).all()
    assert (
        got["est_jaccard"].to_numpy() == gated["est_jaccard"].to_numpy()
    ).all()
    # the accumulated manifest-table store holds exactly the
    # signatured corpus (r11: store reads resolve the manifest)
    from kp_crypto_market_analytics_spark.sinks.manifest_table import (
        read_table,
    )

    state = read_table(spark, str(tmp_path / "state"))
    assert state.count() == store.count()
    assert state.select("doc_id").distinct().count() == store.count()


def test_lsh_dedup_stream_replay_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: replaying an epoch (crash after
    # the state write, retry of the same batch) must reproduce the
    # IDENTICAL pairs/state partitions — no duplicate pairs, and the
    # replayed batch must not pair against its own stored signatures.
    from kp_crypto_market_analytics_spark.queries_ext import _minhash_sigs
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.sinks.manifest_table import (
        read_table,
    )
    from kp_crypto_market_analytics_spark.streaming.dedup_lsh import (
        ingest_batch,
        sig_fn_from_store,
    )

    sfd = "/root/testdata/sf0.001"
    docs = load_tables(spark, sfd, ["documents"])["documents"]
    store = _minhash_sigs(spark, sfd)
    sig_fn = sig_fn_from_store(store)
    state, pairs = str(tmp_path / "state"), str(tmp_path / "pairs")

    batches = [
        docs.where(F.col("doc_id") % 3 == b).localCheckpoint(eager=True)
        for b in range(3)
    ]
    for b in range(3):
        ingest_batch(batches[b], b, sig_fn, state, pairs)

    def snapshot():
        p = (
            spark.read.option("basePath", pairs)
            .parquet(pairs + "/batch=*")
            .toPandas()
            .sort_values(["batch", "doc_a", "doc_b"])
            .reset_index(drop=True)
        )
        s = (
            read_table(spark, state)
            .toPandas()
            .sort_values(["batch", "doc_id"])
            .reset_index(drop=True)
        )
        return p, s

    p1, s1 = snapshot()
    assert len(p1) > 0 and len(s1) == store.count()

    # replay the MIDDLE epoch (state for epochs 0..2 already on disk —
    # the worst case: the store holds this batch's own signatures AND
    # later batches' signatures; the < epoch filter must hide both)
    ingest_batch(batches[1], 1, sig_fn, state, pairs)
    p2, s2 = snapshot()
    assert p1.equals(p2)
    assert s1.equals(s2)


def _lsh_fixture(spark, tmp_path):
    from kp_crypto_market_analytics_spark.queries_ext import _minhash_sigs
    from kp_crypto_market_analytics_spark.session import load_tables

    sfd = "/root/testdata/sf0.001"
    docs = load_tables(spark, sfd, ["documents"])["documents"]
    store = _minhash_sigs(spark, sfd)
    batches = [
        docs.where(F.col("doc_id") % 3 == b).localCheckpoint(eager=True)
        for b in range(3)
    ]
    return store, batches


def _pairs_snapshot(spark, pairs):
    return (
        spark.read.option("basePath", pairs)
        .parquet(pairs + "/batch=*")
        .toPandas()
        .sort_values(["batch", "doc_a", "doc_b"])
        .reset_index(drop=True)
    )


def test_lsh_store_crash_before_publish_is_invisible(
    spark, tmp_path, monkeypatch
):
    # VERDICT r10 ask #3, the crash-injection gate at the STORE
    # boundary: kill the trigger after the signature data files land
    # but before the manifest publish.  The next trigger's store read
    # must see the exact pre-crash store (never a half-written epoch),
    # and the retried epoch must converge to the same pairs/store a
    # crash-free run produces.
    import pytest

    import kp_crypto_market_analytics_spark.sinks.manifest_table as mt
    from kp_crypto_market_analytics_spark.streaming.dedup_lsh import (
        ingest_batch,
        sig_fn_from_store,
    )

    store, batches = _lsh_fixture(spark, tmp_path)
    sig_fn = sig_fn_from_store(store)

    # crash-free reference run
    ref_state = str(tmp_path / "ref_state")
    ref_pairs = str(tmp_path / "ref_pairs")
    for b in range(3):
        ingest_batch(batches[b], b, sig_fn, ref_state, ref_pairs)
    ref_p = _pairs_snapshot(spark, ref_pairs)
    ref_s = (
        mt.read_table(spark, ref_state)
        .toPandas()
        .sort_values(["batch", "doc_id"])
        .reset_index(drop=True)
    )

    # crashing run: epochs 0-1 commit, epoch 2's store publish dies
    state = str(tmp_path / "state")
    pairs = str(tmp_path / "pairs")
    for b in range(2):
        ingest_batch(batches[b], b, sig_fn, state, pairs)
    v_before, _ = mt.latest_manifest(state)
    committed = (
        mt.read_table(spark, state).toPandas()
        .sort_values(["batch", "doc_id"]).reset_index(drop=True)
    )

    real_publish = mt._publish_manifest

    def crash(*a, **k):
        raise OSError("injected: trigger died before store commit")

    monkeypatch.setattr(mt, "_publish_manifest", crash)
    with pytest.raises(OSError, match="injected"):
        ingest_batch(batches[2], 2, sig_fn, state, pairs)

    # the failed epoch exposed NOTHING: same manifest version, same
    # store content — the orphan data dir is unreferenced and
    # vacuumable without touching live data
    v_after, _ = mt.latest_manifest(state)
    assert v_after == v_before
    now = (
        mt.read_table(spark, state).toPandas()
        .sort_values(["batch", "doc_id"]).reset_index(drop=True)
    )
    assert now.equals(committed)
    orphans = mt.vacuum(state, keep_versions=2)
    assert orphans  # the crashed commit's data dir
    assert (
        mt.read_table(spark, state).toPandas()
        .sort_values(["batch", "doc_id"]).reset_index(drop=True)
        .equals(committed)
    )

    # foreachBatch retries the epoch after recovery: converges to the
    # crash-free run bit-for-bit
    monkeypatch.setattr(mt, "_publish_manifest", real_publish)
    ingest_batch(batches[2], 2, sig_fn, state, pairs)
    assert _pairs_snapshot(spark, pairs).equals(ref_p)
    got_s = (
        mt.read_table(spark, state)
        .toPandas()
        .sort_values(["batch", "doc_id"])
        .reset_index(drop=True)
    )
    assert got_s.equals(ref_s)


def test_ivf_index_stream_matches_gated_fold(spark, tmp_path):
    # VERDICT r10 ask #4: the streaming IVF index maintenance
    # (foreachBatch loop in streaming/ann_ivf.py) is pinned
    # emission-for-emission to the oracle-gated batch fold
    # (sim_ivf_stream_parity): stream the embeddings as 3 files
    # (vec_id mod 3), assignments against the FROZEN trained
    # centroids; the accumulated index must match the fold
    # bit-for-bit — and serving from the incrementally-built index
    # must reproduce the batch sim_ivf_trained results exactly (which
    # carries the sim_ivf_recall floor over unchanged).
    from kp_crypto_market_analytics_spark.queries_ext import (
        _ivf_trained_topk5,
        _kmeans_cents37,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _SIVF_BATCHES,
        sim_ivf_stream_parity,
    )
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.sinks.manifest_table import (
        read_table,
    )
    from kp_crypto_market_analytics_spark.streaming.ann_ivf import (
        ivf_index_stream,
        serve_ivf_topk,
    )

    sfd = "/root/testdata/sf0.001"
    gated = (
        sim_ivf_stream_parity(spark, sfd)
        .toPandas()
        .sort_values(["batch", "vec_id"])
        .reset_index(drop=True)
    )

    emb = load_tables(spark, sfd, ["embeddings"])["embeddings"]
    cents = _kmeans_cents37(spark, sfd)
    src = str(tmp_path / "emb")
    for b in range(_SIVF_BATCHES):
        (
            emb.where(F.col("vec_id") % _SIVF_BATCHES == b)
            .coalesce(1)
            .write.parquet(f"{src}/b{b}")
        )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = ivf_index_stream(
        stream,
        cents,
        index_dir=str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    index = read_table(spark, str(tmp_path / "index"))
    got = (
        index.select("batch", "vec_id", "centroid_id")
        .toPandas()
        .sort_values(["batch", "vec_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(gated) == emb.count()
    for col in ("batch", "vec_id", "centroid_id"):
        assert (
            got[col].astype("int64").to_numpy()
            == gated[col].astype("int64").to_numpy()
        ).all(), col

    # serving parity: searches answered FROM the incremental index ==
    # the gated batch detector output (same queries, frozen cents)
    batch_res = (
        _ivf_trained_topk5(spark, sfd)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    served = (
        serve_ivf_topk(
            spark,
            str(tmp_path / "index"),
            emb.where(F.col("vec_id") < 10),
            cents,
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(served) == len(batch_res) > 0
    for col in ("query_id", "neighbor_id", "rank"):
        assert (
            served[col].astype("int64").to_numpy()
            == batch_res[col].astype("int64").to_numpy()
        ).all(), col
    assert (
        served["cos"].to_numpy() == batch_res["cos"].to_numpy()
    ).all()


def test_ivf_index_replay_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: replaying an epoch must republish
    # IDENTICAL index content (last-write-wins merge on vec_id), so a
    # checkpoint-recovery retry can never duplicate serving rows.
    from kp_crypto_market_analytics_spark.queries_ext import _kmeans_cents37
    from kp_crypto_market_analytics_spark.session import load_tables
    from kp_crypto_market_analytics_spark.sinks.manifest_table import (
        read_table,
    )
    from kp_crypto_market_analytics_spark.streaming.ann_ivf import (
        ivf_ingest_batch,
    )

    sfd = "/root/testdata/sf0.001"
    emb = load_tables(spark, sfd, ["embeddings"])["embeddings"]
    cents = _kmeans_cents37(spark, sfd)
    index = str(tmp_path / "index")
    batches = [
        emb.where(F.col("vec_id") % 3 == b).localCheckpoint(eager=True)
        for b in range(3)
    ]
    for b in range(3):
        ivf_ingest_batch(batches[b], b, cents, index)

    def snapshot():
        return (
            read_table(spark, index)
            .select("batch", "vec_id", "centroid_id")
            .toPandas()
            .sort_values(["batch", "vec_id"])
            .reset_index(drop=True)
        )

    s1 = snapshot()
    assert len(s1) == emb.count()
    ivf_ingest_batch(batches[1], 1, cents, index)
    assert snapshot().equals(s1)


def test_lsh_store_compaction_preserves_ingest(spark, tmp_path):
    # Steady micro-batch ingest accretes one store commit per trigger;
    # compaction (pure rewrite past compact_max_live live commits) must
    # keep reads — and every LATER epoch's pair emissions — identical
    # to an uncompacted run, while bounding the live commit count.
    import os

    import kp_crypto_market_analytics_spark.sinks.manifest_table as mt
    from kp_crypto_market_analytics_spark.streaming.dedup_lsh import (
        ingest_batch,
        sig_fn_from_store,
    )

    store, batches = _lsh_fixture(spark, tmp_path)
    sig_fn = sig_fn_from_store(store)

    runs = {}
    for tag, max_live in (("plain", None), ("compacted", 1)):
        state = str(tmp_path / f"{tag}_state")
        pairs = str(tmp_path / f"{tag}_pairs")
        for b in range(3):
            ingest_batch(
                batches[b], b, sig_fn, state, pairs,
                compact_max_live=max_live,
            )
        runs[tag] = (
            _pairs_snapshot(spark, pairs),
            mt.read_table(spark, state)
            .toPandas()
            .sort_values(["batch", "doc_id"])
            .reset_index(drop=True),
            state,
        )
    p_plain, s_plain, _ = runs["plain"]
    p_comp, s_comp, comp_state = runs["compacted"]
    assert p_comp.equals(p_plain)
    assert s_comp.equals(s_plain)
    # the compacted store's live entries span few commit dirs; the
    # plain run accretes one per epoch
    _, manifest = mt.latest_manifest(comp_state)
    live = {v.split(os.sep)[1] for v in manifest["entries"].values()}
    assert len(live) <= 2
    # batch partition values survive the rewrite (the < epoch filter
    # keys on them), so a post-compaction replay stays idempotent
    ingest_batch(
        batches[1], 1, sig_fn, comp_state,
        str(tmp_path / "compacted_pairs"), compact_max_live=1,
    )
    assert _pairs_snapshot(
        spark, str(tmp_path / "compacted_pairs")
    ).equals(p_plain)
