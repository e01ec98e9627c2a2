"""Unit tests for the plan-audit detectors (tools/explain_audit.py):
global-window counting incl. the no-ORDER-BY form, the shrinking-frame
rule, and the block-join cap gate (inverted-index self-joins must carry
a bounding operator)."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

from tools.explain_audit import (  # noqa: E402
    count_global_windows,
    count_shrinking_frames,
    count_uncapped_block_joins,
)

SF_DIR = "/root/testdata/sf0.001"


def _executed(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_global_window_without_order_by_counts(spark):
    """sum(x) OVER () prints a Window node with no sort directions —
    the advisor's r7 gap: it must still count as global."""
    df = spark.range(10).selectExpr("id", "sum(id) OVER () AS s")
    assert count_global_windows(_executed(df)) == 1


def test_partitioned_window_not_counted(spark):
    df = spark.range(10).selectExpr(
        "id", "id % 2 AS g"
    ).selectExpr("id", "sum(id) OVER (PARTITION BY g) AS s")
    assert count_global_windows(_executed(df)) == 0


def test_global_ordered_window_counts(spark):
    df = spark.range(10).selectExpr(
        "id", "row_number() OVER (ORDER BY id) AS rn"
    )
    assert count_global_windows(_executed(df)) == 1


@pytest.mark.parametrize(
    "frame",
    [
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING",
        "ROWS BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING",
        "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
        "RANGE BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING",
    ],
)
def test_shrinking_frame_counts(spark, frame):
    df = spark.range(10).selectExpr(
        "id",
        "id % 2 AS g",
    ).selectExpr(
        "id",
        f"first(id) OVER (PARTITION BY g ORDER BY id {frame}) AS nxt",
    )
    assert count_shrinking_frames(_executed(df)) == 1


@pytest.mark.parametrize(
    "count, window",
    [
        (count_global_windows, "row_number() OVER (ORDER BY id)"),
        (
            count_shrinking_frames,
            "first(id) OVER (PARTITION BY g ORDER BY id"
            " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)",
        ),
    ],
    ids=["global", "shrinking"],
)
def test_repeated_window_subtree_counts_once(spark, count, window):
    """When AQE does not reuse an exchange, the same Window subtree is
    printed twice (same expression IDs, another tree prefix): it is
    still one node."""
    df = spark.range(10).selectExpr("id", "id % 2 AS g").selectExpr(
        "id", f"{window} AS w"
    )
    plan = _executed(df)
    repeated = "\n".join([plan] + [":  " + line for line in plan.splitlines()])
    assert count(repeated) == 1


def test_running_frame_not_counted(spark):
    df = spark.range(10).selectExpr(
        "id",
        "id % 2 AS g",
    ).selectExpr(
        "id",
        "last(id) OVER (PARTITION BY g ORDER BY id DESC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nxt",
        "sum(id) OVER (PARTITION BY g ORDER BY id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tot",
    )
    assert count_shrinking_frames(_executed(df)) == 0


@pytest.fixture(scope="module")
def _docs(spark):
    from pyspark.sql import functions as F

    from kp_crypto_market_analytics_spark.session import load_tables

    t = load_tables(spark, SF_DIR, ["part"])
    return t["part"].select(
        "p_partkey", F.explode(F.split("p_name", " ")).alias("tok")
    )


def test_uncapped_explode_self_join_flagged(spark, _docs):
    """An inverted-index self-join with NO cap on either side is the
    quadratic pair bomb — the detector must see 1 block join, 1
    uncapped."""
    from pyspark.sql import functions as F

    a = _docs.select(F.col("p_partkey").alias("ka"), "tok")
    b = _docs.select(F.col("p_partkey").alias("kb"), "tok")
    pairs = a.join(b, "tok").where(F.col("ka") < F.col("kb"))
    block, uncapped = count_uncapped_block_joins(_executed(pairs))
    assert block == 1 and uncapped == 1


def test_capped_explode_self_join_passes(spark, _docs):
    """The er_name_match shape: row_number-per-block filter before the
    join — the pushed WindowGroupLimit / __bn filter must register as
    the cap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("tok").orderBy("p_partkey")
    capped = (
        _docs.withColumn("__bn", F.row_number().over(w))
        .where(F.col("__bn") <= 4)
        .drop("__bn")
    )
    a = capped.select(F.col("p_partkey").alias("ka"), "tok")
    b = capped.select(F.col("p_partkey").alias("kb"), "tok")
    pairs = a.join(b, "tok").where(F.col("ka") < F.col("kb"))
    block, uncapped = count_uncapped_block_joins(_executed(pairs))
    assert block == 1 and uncapped == 0


def test_agg_side_join_not_a_block_join(spark, _docs):
    """Joining the token frame against its own per-token aggregate is
    ≤1 row per key from the agg side — not a pair generator."""
    from pyspark.sql import functions as F

    freq = _docs.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    joined = _docs.join(freq, "tok")
    block, uncapped = count_uncapped_block_joins(_executed(joined))
    assert block == 0 and uncapped == 0


def test_er_name_match_registers_capped(spark):
    """The production query's executed plan must show every block join
    capped (the round-8 fix), including the ReusedExchange side."""
    from kp_crypto_market_analytics_spark.queries_r7 import er_name_match

    block, uncapped = count_uncapped_block_joins(
        _executed(er_name_match(spark, SF_DIR))
    )
    assert block >= 1 and uncapped == 0
