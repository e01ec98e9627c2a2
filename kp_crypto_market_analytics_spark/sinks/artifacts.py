"""Artifact sinks (SURVEY.md §2.1 S15-S16): the CSV/JSON summary files
the reference's analytics stage publishes for the dashboard
(binance_analysis.py:623,652,667,672,684,687; app.py reads them back).

Engine-side the canonical sink is partitioned parquet
(write_partitioned); CSV/JSON variants exist for dashboard-compat.
Small aggregate tables coalesce to one file (they are KB-sized by
construction — never do this to a fact table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str], dynamic: bool = False
) -> None:
    """Fact-table sink: partitioned parquet → partition pruning for
    every downstream time/symbol filter (SURVEY §4: partition by
    symbol/tf/date).

    ``dynamic=True`` switches to dynamic partition overwrite: only the
    partitions present in ``df`` are replaced — the incremental-ingest
    mode (re-load one day without truncating the table)."""
    w = df.write.mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(*partition_by).parquet(path)


def compact_partitions(
    spark,
    src_path: str,
    dest_path: str,
    partition_by: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Small-file compaction: rewrite a partitioned parquet dataset so
    every partition directory holds one file (or size-bounded files via
    ``max_records_per_file``).  Streaming ingest and per-batch upserts
    accrete KB-sized files; scan throughput at 100 TB dies on open/seek
    overhead long before bandwidth (target 128-512 MB per file).

    One shuffle keyed on the partition columns: all rows of a key land
    in one task, so each directory is written by exactly one task — no
    distinct-count pre-pass, no driver-side file listing.  The file-size
    bound uses the writer's own maxRecordsPerFile split (deterministic,
    unlike salting the shuffle key, which file-counts only in
    expectation).  Writes to ``dest_path`` — swap directories after;
    in-place read-overwrite of the same path is undefined in Spark."""
    df = spark.read.parquet(src_path).repartition(*[F.col(c) for c in partition_by])
    w = df.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy(*partition_by).parquet(dest_path)


def write_csv_artifact(df: DataFrame, path: str) -> None:
    """S16 — small summary CSV (single file, headered)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_single_csv_file(
    df: DataFrame, path: str, timestamp_format: str = "yyyy-MM-dd HH:mm:ss"
) -> None:
    """Single-FILE headered CSV at ``path`` without collecting rows to
    the driver: a coalesce(1) Spark write streams executor-side to a
    temp dir, then the lone part file moves into place.  Replaces the
    former ``df.toPandas().to_csv`` edge in the collect-klines CLI —
    that bound broke the moment the paged klines source lifted the
    1000-row fetch cap.  The timestamp format matches what the
    tolerant scans' heuristic parse reads back (functions/market.py
    F2)."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="kp_csv_")
    try:
        out = tmp + "/out"
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("timestampFormat", timestamp_format)
            .csv(out)
        )
        (part,) = glob.glob(out + "/part-*.csv")
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_orc_artifact(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """ORC artifact sink — the columnar interchange format next to
    parquet (built into Spark, no extra package): same predicate-
    pushdown / column-pruning story at the scan, ZLIB by default.
    Optional partition column for pruned reads."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.orc(path)


def read_orc_artifact(spark, path: str) -> DataFrame:
    """ORC artifact scan — filters and projections push down exactly
    like parquet (`PushedFilters` in the scan node; asserted in
    tests/test_sinks_streaming.py)."""
    return spark.read.orc(path)


def summary_row_json(df: DataFrame) -> str:
    """F15 — single-row summary as a JSON string (json.dumps(dict)
    analog, binance_analysis.py:71-72) without collecting more than
    one row to the driver."""
    row = df.limit(1).select(F.to_json(F.struct(*df.columns)).alias("j")).collect()
    return row[0]["j"] if row else "{}"
