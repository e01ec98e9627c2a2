"""Join operators (SURVEY.md §2.4 J1-J5 + semi/anti for the dedup path).

The reference has no relational joins (dict lookups / index alignment);
here they are real Spark joins with explicit physical strategy choices:
broadcast for small sides, sort-merge with AQE skew handling otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Rows of ``left`` with a match in ``right`` (no right columns).
    left_semi short-circuits per key — cheaper than inner+distinct."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Rows of ``left`` with NO match in ``right``."""
    return left.join(right, on, "left_anti")


def dim_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Fact⋈dimension with an explicit broadcast hint — at 100 TB the
    fact side must never shuffle for a dimension lookup."""
    return fact.join(F.broadcast(dim), on, how)


def union_tagged(frames: list[tuple[DataFrame, str]], tag_col: str = "side") -> DataFrame:
    """J4 — vertical union with a literal tag per branch (bids+asks
    concat, binance_analysis.py:494)."""
    out = None
    for df, tag in frames:
        branch = df.withColumn(tag_col, F.lit(tag))
        out = branch if out is None else out.unionByName(branch)
    return out


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    keys: list[str],
    tolerance_seconds: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Generalized as-of join (the reference's J1 is the degenerate
    minute-floor case).  Composition of existing ops — union the two
    sides, one window pass carries the most recent right row forward
    within each key, then keep left rows:

    1. tag sides, align schemas;
    2. window last(right_value, ignorenulls) over key ordered by (ts,
       side-priority) — right rows sort before left rows at equal ts;
    3. filter to left rows; optionally null out matches older than the
       tolerance.

    Single shuffle on ``keys`` — same cost as the window op, strictly
    cheaper than a range join.  ``direction='forward'`` flips the sort.
    """
    from pyspark.sql import Window

    rcols = [c for c in right.columns if c not in keys and c != right_ts]
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__is_left", F.lit(1))
    for c in rcols:
        l = l.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    r = right.withColumn("__ts", F.col(right_ts)).withColumn("__is_left", F.lit(0))
    for c in left.columns:
        if c not in keys and c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    l = l.select(*keys, "__ts", "__is_left", *rcols, *[c for c in left.columns if c not in keys])
    r = r.select(*keys, "__ts", "__is_left", *rcols, *[c for c in left.columns if c not in keys])
    both = l.unionByName(r)

    asc = direction == "backward"
    order = [F.col("__ts").asc() if asc else F.col("__ts").desc(), F.col("__is_left").asc()]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    matched = both
    for c in rcols:
        matched = matched.withColumn(c, F.last(c, ignorenulls=True).over(w))
    matched = matched.withColumn("__match_ts", F.last(F.when(F.col("__is_left") == 0, F.col("__ts")), ignorenulls=True).over(w))
    out = matched.where(F.col("__is_left") == 1)
    if tolerance_seconds is not None:
        within = (
            F.abs(F.unix_timestamp("__ts") - F.unix_timestamp("__match_ts"))
            <= tolerance_seconds
        )
        for c in rcols:
            out = out.withColumn(c, F.when(within, F.col(c)))
    return out.drop("__ts", "__is_left", "__match_ts")


def range_join_buckets(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Point-in-interval range join via time bucketing — the scale path
    for `ts >= start AND ts < end` joins.  A naive theta join is a
    nested-loop over |points|×|intervals|; here both sides are bucketed
    at ``bucket_seconds`` (pick >= the max interval length so each
    interval explodes into <= 2 buckets), the join is a plain hash
    equi-join on bucket, and the exact containment predicate filters
    the (small) per-bucket candidates.  Equivalent to the naive join
    row-for-row."""
    pb = points.withColumn(
        "__bucket", F.floor(F.unix_millis(F.col(point_ts)) / F.lit(bucket_seconds * 1000))
    )
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_millis(F.col(start_col)) / F.lit(bucket_seconds * 1000)),
                F.floor((F.unix_millis(F.col(end_col)) - 1) / F.lit(bucket_seconds * 1000)),
            )
        ),
    )
    return pb.join(ib, "__bucket").where(
        (F.col(point_ts) >= F.col(start_col)) & (F.col(point_ts) < F.col(end_col))
    ).drop("__bucket")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    salt_col: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the fact side gets a deterministic salt
    (hash of ``salt_col`` — a high-cardinality fact column), the small
    side is replicated across all ``salt_buckets`` values, and the join
    runs on (key, salt).  A hot key's rows land on ``salt_buckets``
    reducers instead of one.  Result row-for-row equals the unsalted
    join.

    Prefer AQE skew splitting when it applies (sort-merge inner joins);
    salting is the explicit fallback for aggregation-feeding joins and
    outer joins AQE won't split."""
    keys = [on] if isinstance(on, str) else list(on)
    l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(salt_buckets))
    )
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<long>"))
    )
    return l.join(r, keys + ["__salt"], how).drop("__salt")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    cell_seconds: int,
    extra_condition: Column | None = None,
) -> DataFrame:
    """Interval x interval OVERLAP join ([s, e] closed; overlap iff
    ``l_start <= r_end AND r_start <= l_end``) via grid-cell
    decomposition — the scale path where BOTH sides are interval sets
    and a theta join would be a nested loop over |L|x|R|.

    Each interval explodes onto every ``cell_seconds`` grid cell it
    touches, the join is a plain hash equi-join on the cell, and the
    exact overlap predicate filters candidates.  An overlapping pair
    shares every cell in the overlap region, so naive cell-joining
    would duplicate it; instead each pair is OWNED by exactly one cell
    — the one containing ``max(l_start, r_start)`` (the overlap's left
    edge, which lies in both intervals' cell ranges) — making the
    output duplicate-free WITHOUT a distinct shuffle.

    Pick ``cell_seconds`` >= the typical interval length so intervals
    explode into <= 2 cells; skewed cells (everything overlapping one
    hot period) are split by AQE skew handling like any hash join.
    Column names must be disjoint between the two sides."""
    w_ms = F.lit(cell_seconds * 1000)
    lc = left.withColumn(
        "__cell",
        F.explode(
            F.sequence(
                F.floor(F.unix_millis(F.col(l_start)) / w_ms),
                F.floor(F.unix_millis(F.col(l_end)) / w_ms),
            )
        ),
    )
    rc = right.withColumn(
        "__cell",
        F.explode(
            F.sequence(
                F.floor(F.unix_millis(F.col(r_start)) / w_ms),
                F.floor(F.unix_millis(F.col(r_end)) / w_ms),
            )
        ),
    )
    owner_cell = F.floor(
        F.greatest(F.unix_millis(F.col(l_start)), F.unix_millis(F.col(r_start))) / w_ms
    )
    cond = (
        (F.col(l_start) <= F.col(r_end))
        & (F.col(r_start) <= F.col(l_end))
        & (F.col("__cell") == owner_cell)
    )
    if extra_condition is not None:
        cond = cond & extra_condition
    return lc.join(rc, "__cell").where(cond).drop("__cell")
