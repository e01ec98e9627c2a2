"""Unit tests for the plan-audit detectors (tools/explain_audit.py):
global-window counting incl. the no-ORDER-BY form, the shrinking-frame
rule, the duplicate-window-expression rule, and the block-join cap gate
(inverted-index self-joins must carry a bounding operator)."""

import os
import re
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
    count_duplicate_window_exprs,
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


_ROWS3 = "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW"
_ROWS5 = "ROWS BETWEEN 5 PRECEDING AND CURRENT ROW"
_SUM3 = f"sum(id) OVER (PARTITION BY g ORDER BY id {_ROWS3})"


@pytest.mark.parametrize(
    "count, window",
    [
        (count_global_windows, "row_number() OVER (ORDER BY id)"),
        (
            count_shrinking_frames,
            "first(id) OVER (PARTITION BY g ORDER BY id"
            " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)",
        ),
        (count_duplicate_window_exprs, f"{_SUM3} - {_SUM3}"),
    ],
    ids=["global", "shrinking", "duplicate"],
)
def test_repeated_window_subtree_counts_once(spark, count, window):
    """A window the query reads twice is printed twice (another tree
    prefix, and the same expression IDs or, for a self-joined frame,
    fresh ones), over its own exchange or a ``ReusedExchange`` of the
    first copy's: it is still one node."""
    df = spark.range(10).selectExpr("id", "id % 2 AS g").selectExpr(
        "id", f"{window} AS w"
    )
    plan = _executed(df)
    copy = [":  " + line for line in plan.splitlines()]
    fresh = [re.sub(r"#(\d+)", lambda m: f"#{int(m.group(1)) + 1000}", c) for c in copy]
    at = next(i for i, c in enumerate(fresh) if "+- Exchange " in c)
    cut = fresh[at].index("Exchange ")
    reused = fresh[:at] + [
        fresh[at][:cut] + "ReusedExchange [id#1000L], " + fresh[at][cut:]
    ]
    assert count(plan) == 1
    assert count("\n".join([plan] + copy)) == 1
    assert count("\n".join([plan] + fresh)) == 1
    assert count("\n".join([plan] + reused)) == 1


def _two_refs(over: str, other: str):
    """sum(id) over ``over`` read twice, and once over ``other``."""
    return (
        "id",
        f"sum(id) OVER (PARTITION BY g ORDER BY id {over}) * 2 AS a",
        f"sum(id) OVER (PARTITION BY g ORDER BY id {over}) + 1 AS b",
        f"sum(id) OVER (PARTITION BY g ORDER BY id {other}) AS c",
    )


def test_repeated_window_aggregate_counts(spark):
    """One aggregate over one frame, referenced twice, is two window
    expressions in the plan: one duplicate."""
    df = spark.range(20).selectExpr("id", "id % 2 AS g").selectExpr(
        *_two_refs(_ROWS3, _ROWS5)
    )
    assert count_duplicate_window_exprs(_executed(df)) == 1


def test_same_aggregate_over_two_frames_not_counted(spark):
    df = spark.range(20).selectExpr("id", "id % 2 AS g").selectExpr(
        "id",
        f"sum(id) OVER (PARTITION BY g ORDER BY id {_ROWS3}) AS a",
        f"sum(id) OVER (PARTITION BY g ORDER BY id {_ROWS5}) AS c",
        "sum(id) OVER (PARTITION BY id ORDER BY g"
        " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS d",
    )
    assert count_duplicate_window_exprs(_executed(df)) == 0


def test_hoisted_window_aggregate_not_counted(spark):
    """Selecting the aggregate once as a column and reading the column
    twice leaves no duplicate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("g").orderBy("id").rowsBetween(-3, 0)
    df = spark.range(20).selectExpr("id", "id % 2 AS g").withColumn(
        "__s", F.sum("id").over(w)
    )
    s = F.col("__s")
    out = df.select("id", (s * 2).alias("a"), (s + 1).alias("b"))
    assert count_duplicate_window_exprs(_executed(out)) == 0


def test_same_aggregate_of_two_same_named_columns_not_counted(spark):
    """sum(value) over both sides of a join reads two attributes that
    print alike but for their IDs: two aggregates, no duplicate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    a = spark.range(20).selectExpr("id", "id % 2 AS g", "id AS value")
    b = spark.range(20).selectExpr("id", "id * 3 AS value")
    w = Window.partitionBy("g").orderBy("id").rowsBetween(-3, 0)
    df = a.join(b, "id").select(
        "id", F.sum(a["value"]).over(w).alias("sa"), F.sum(b["value"]).over(w).alias("sb")
    )
    plan = _executed(df)
    assert len(re.findall(r"sum\(value#\d+L?\) windowspecdefinition", plan)) == 2
    assert count_duplicate_window_exprs(plan) == 0


def test_same_shape_windows_over_different_children_count_each(spark):
    """Two global windows of one shape over different inputs are two
    single-task windows, even with their IDs renumbered alike."""
    rn = "row_number() OVER (ORDER BY id) AS rn"
    df = (
        spark.range(10).selectExpr("id", rn)
        .unionByName(spark.range(20).where("id % 3 = 0").selectExpr("id", rn))
    )
    assert count_global_windows(_executed(df)) == 2


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
