"""Round-3 quality & metadata family: data-quality expectations,
deterministic quantile sketches, and grouping-sets rollups.

- ``dq_constraints``      — declarative expectations suite (Deequ-style
  checks: PK uniqueness, FK integrity, value domains, cross-table
  reconciliation) producing one audited row per constraint.
- ``a_ddsketch_quantiles`` — relative-error-bounded quantile sketch
  (DDSketch shape, Masson et al. 2019) built from integer log₂ buckets
  with 32 sub-buckets, audited against the exact percentile.
- ``a_ddsketch_merge``    — sketch mergeability gate: per-group bucket
  histograms summed equal the direct union sketch (the algebraic law
  that makes quantiles combinable at 100 TB, like ``a_hll_merge``).
- ``a_grouping_sets``     — explicit GROUPING SETS + grouping_id over
  (event_type, day), the multi-granularity rollup surface beyond
  CUBE/ROLLUP (``a_cube_counts``/``a_rollup_daily``).
- ``g_triangle_count``    — triangle census of the part co-purchase
  graph (degree-ordered orientation; operators/graph.py).
- ``g_assoc_rules``       — market-basket association rules (top-20 by
  lift with support/confidence) on the same pair table.

Reference anchors: the constraint suite generalizes the reference's
implicit integrity assumptions (PK upserts `src/etl/load_postgres.py:83-103`,
side-domain CHECK `db/schema.sql:33`); quantiles extend A7/A8
(`src/analytics/binance_analysis.py:399,638-651`) with the mergeable
sketch a 1000-executor deployment needs.

Determinism: every sketch quantity is integer arithmetic (bitlength via
base-2 string conv, integer sub-bucket shifts, count sums) so the
DuckDB oracle reproduces buckets bit-for-bit; the only doubles are
bucket midpoints and final ratios, identical literal IEEE ops on both
engines, rounded where a division could differ.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.aggregates import (
    exact_sum,
    percentile_expr,
)
from kp_crypto_market_analytics_spark.session import (
    ensure_parallelism,
    load_tables,
)

# ------------------------------------------------------- dq_constraints

_DOC_LANGS = ("en", "de", "es", "fr", "zh")


def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations suite: one row per declared constraint
    with its violation count, population size, pass flag, and ppm rate.

    The check families a training-data / warehouse pipeline runs before
    trusting a load (Deequ/Great-Expectations shape, public knowledge):

    - PK uniqueness     (lineitem (orderkey, linenumber); orders key)
    - FK integrity      (lineitem→orders, orders→customer, events.user
                         →customer)
    - referential completeness (every order has ≥1 lineitem)
    - value domains     (quantity ∈ [1,50], discount ∈ [0, 0.1],
                         order status ∈ {O,F,P}, doc lang whitelist)
    - temporal sanity   (no lineitem ships before its order date)
    - reconciliation    (o_totalprice equals the lineitem net+tax sum
                         within a cent)

    The synthetic corpus genuinely fails three of them (duplicate
    lineitem PKs, orders with no lineitems, ship-before-order rows), so
    the suite is non-vacuous — the gate pins exact violation counts.

    Scale shape: per-table domain checks fuse into ONE pruned scan each
    (a single aggregate of conditional sums, map-side combined); FK
    checks are shuffle anti-joins on the key (broadcast when the dim
    side is small); the reconciliation check is one partial-agg of
    lineitem followed by a key join.  Nothing materializes more than a
    one-row frame per constraint.
    """
    t = load_tables(
        spark, sf_dir, ["lineitem", "orders", "customer", "events", "documents"]
    )
    li, orders, cust = t["lineitem"], t["orders"], t["customer"]
    events, docs = t["events"], t["documents"]

    def one(name: str, tbl: str, viol_df: DataFrame, total_df: DataFrame) -> DataFrame:
        """(check_name, tbl, violations, total) from two 1-row aggs."""
        return (
            viol_df.crossJoin(total_df)
            .select(
                F.lit(name).alias("check_name"),
                F.lit(tbl).alias("tbl"),
                F.col("violations").cast("long").alias("violations"),
                F.col("total").cast("long").alias("total"),
            )
        )

    n_li = li.agg(F.count(F.lit(1)).alias("total"))
    n_orders = orders.agg(F.count(F.lit(1)).alias("total"))
    n_events = events.agg(F.count(F.lit(1)).alias("total"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("total"))

    # --- fused single-scan domain/uniqueness aggregates -------------
    # One aggregate subtree per table: Catalyst does NOT share scans
    # across separate agg branches of a union, so the fusion has to be
    # structural — every conditional count rides the same partial agg.
    def _stack(agg_df: DataFrame, tbl: str, names: list[str]) -> DataFrame:
        pairs = ", ".join(f"'{n}', {n}" for n in names)
        return agg_df.select(
            F.expr(
                f"stack({len(names)}, {pairs}) AS (check_name, violations)"
            ),
            F.lit(tbl).alias("tbl"),
            "total",
        ).select("check_name", "tbl", "violations", "total")

    li_rows = _stack(
        li.agg(
            F.count(F.lit(1)).alias("total"),
            # struct() so NULL key components still count as a distinct
            # row-value — matching DuckDB's COUNT(DISTINCT (a, b));
            # bare count_distinct(a, b) would DROP null-keyed rows.
            (
                F.count(F.lit(1))
                - F.count_distinct(F.struct("l_orderkey", "l_linenumber"))
            ).alias("lineitem_pk_unique"),
            F.sum(
                F.when(
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                ).otherwise(0)
            ).alias("lineitem_qty_range"),
            F.sum(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
                ).otherwise(0)
            ).alias("lineitem_discount_range"),
        ),
        "lineitem",
        ["lineitem_pk_unique", "lineitem_qty_range", "lineitem_discount_range"],
    )
    o_rows = _stack(
        orders.agg(
            F.count(F.lit(1)).alias("total"),
            (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
                "orders_pk_unique"
            ),
        ),
        "orders",
        ["orders_pk_unique"],
    )
    d_rows = _stack(
        docs.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(~F.col("lang").isin(*_DOC_LANGS), 1).otherwise(0)).alias(
                "documents_lang_domain"
            ),
        ),
        "documents",
        ["documents_lang_domain"],
    )

    # --- FK / completeness anti-joins -------------------------------
    li_orphan = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    o_orphan = (
        orders.select("o_custkey")
        .join(cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    ev_orphan = (
        events.select("user_id")
        .join(cust.select("c_custkey"), F.col("user_id") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    o_childless = (
        orders.select("o_orderkey")
        .join(li.select("l_orderkey"), F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )

    # --- temporal sanity + reconciliation ---------------------------
    ship_early = (
        li.select("l_orderkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
            ).alias("violations")
        )
    )
    li_net = li.groupBy("l_orderkey").agg(
        F.round(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ),
            2,
        ).alias("net")
    )
    price_recon = (
        orders.select("o_orderkey", "o_totalprice")
        .join(li_net, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .agg(
            F.sum(
                F.when(
                    F.col("net").isNull()
                    | (F.abs(F.col("net") - F.col("o_totalprice")) > 0.01),
                    1,
                ).otherwise(0)
            ).alias("violations")
        )
    )

    checks = [
        li_rows,
        o_rows,
        d_rows,
        one("lineitem_fk_orders", "lineitem", li_orphan, n_li),
        one("lineitem_ship_after_order", "lineitem", ship_early, n_li),
        one("orders_fk_customer", "orders", o_orphan, n_orders),
        one("orders_has_lineitem", "orders", o_childless, n_orders),
        one("orders_price_reconciles", "orders", price_recon, n_orders),
        one("events_user_fk", "events", ev_orphan, n_events),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "check_name",
        "tbl",
        "violations",
        "total",
        (F.col("violations") == 0).alias("ok"),
        F.expr("(1000000 * violations) DIV total").alias("viol_ppm"),
    ).orderBy("check_name")


def _dq_constraints_sql() -> str:
    langs = ", ".join(f"'{l}'" for l in _DOC_LANGS)
    return f"""
WITH li_net AS (
  SELECT l_orderkey AS k,
    round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                        AS DECIMAL(18,6))) AS DOUBLE), 2) AS net
  FROM lineitem GROUP BY 1
), checks AS (
  SELECT 'lineitem_pk_unique' AS check_name, 'lineitem' AS tbl,
    CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS violations,
    CAST(COUNT(*) AS BIGINT) AS total FROM lineitem
  UNION ALL SELECT 'lineitem_qty_range', 'lineitem',
    CAST(COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'lineitem_discount_range', 'lineitem',
    CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'lineitem_fk_orders', 'lineitem',
    CAST((SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'lineitem_ship_after_order', 'lineitem',
    CAST((SELECT COUNT(*) FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
          WHERE l.l_shipdate < o.o_orderdate) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'orders_pk_unique', 'orders',
    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM orders
  UNION ALL SELECT 'orders_fk_customer', 'orders',
    CAST(COUNT(*) FILTER (NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = orders.o_custkey)) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM orders
  UNION ALL SELECT 'orders_has_lineitem', 'orders',
    CAST(COUNT(*) FILTER (NOT EXISTS
      (SELECT 1 FROM lineitem l WHERE l.l_orderkey = orders.o_orderkey)) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM orders
  UNION ALL SELECT 'orders_price_reconciles', 'orders',
    CAST(COUNT(*) FILTER (n.net IS NULL OR abs(n.net - o.o_totalprice) > 0.01) AS BIGINT),
    CAST(COUNT(*) AS BIGINT)
    FROM orders o LEFT JOIN li_net n ON n.k = o.o_orderkey
  UNION ALL SELECT 'events_user_fk', 'events',
    CAST(COUNT(*) FILTER (NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = events.user_id)) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM events
  UNION ALL SELECT 'documents_lang_domain', 'documents',
    CAST(COUNT(*) FILTER (lang NOT IN ({langs})) AS BIGINT),
    CAST(COUNT(*) AS BIGINT) FROM documents
)
SELECT check_name, tbl, violations, total,
  violations = 0 AS ok,
  (1000000 * violations) // total AS viol_ppm
FROM checks ORDER BY check_name
"""


# -------------------------------------------------- a_ddsketch_quantiles

_DDS_SUB = 32          # sub-buckets per octave → rel. error ≤ 1/64
_DDS_LEVELS = (0.5, 0.9, 0.95, 0.99)
DDS_ERR_FLOOR = 0.02   # SLO: |rel_err| below this at every level/SF


def _dds_buckets(v_df: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group..., key, n) log₂/32-sub-bucket histogram of BIGINT col v>0.

    key = 32·(bitlength−1) + sub, where sub is the 5 bits after the
    leading 1 (values below 2⁵ are stored exactly).  Pure integer
    arithmetic — both engines produce identical buckets; the histogram
    is a ≤ ~900-row aggregate with map-side combine, mergeable by
    count-sum.
    """
    e = (F.length(F.conv(F.col("v"), 10, 2)) - 1).alias("e")
    df = v_df.select(*group_cols, "v", e)
    key = F.when(
        F.col("e") >= 5,
        32 * F.col("e")
        + F.expr("v DIV CAST(round(pow(2.0, CAST(e - 5 AS DOUBLE))) AS BIGINT)")
        - _DDS_SUB,
    ).otherwise(
        32 * F.col("e")
        + F.col("v")
        - F.expr("CAST(round(pow(2.0, CAST(e AS DOUBLE))) AS BIGINT)")
    )
    return (
        df.select(*group_cols, key.cast("long").alias("key"))
        .groupBy(*group_cols, "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _dds_midpoint() -> F.Column:
    """Bucket-midpoint estimate from `key` (double; identical literal
    IEEE ops both engines)."""
    e = F.expr("key DIV 32")
    s = F.expr("key % 32")
    lo = F.when(
        e >= 5,
        (s + _DDS_SUB) * F.expr("CAST(round(pow(2.0, CAST(key DIV 32 - 5 AS DOUBLE))) AS BIGINT)"),
    ).otherwise(F.expr("CAST(round(pow(2.0, CAST(key DIV 32 AS DOUBLE))) AS BIGINT)") + s)
    width = F.when(
        e >= 5, F.expr("CAST(round(pow(2.0, CAST(key DIV 32 - 5 AS DOUBLE))) AS BIGINT)")
    ).otherwise(F.lit(1))
    return lo.cast("double") + width.cast("double") / F.lit(2.0)


def _dds_estimates(buckets: DataFrame) -> DataFrame:
    """(q_level, sketch_est, n_buckets) for the fixed quantile levels.

    Cumulative walk over the ≤ ~900-bucket histogram — a driver-scale
    frame regardless of input size (the whole point of the sketch)."""
    cum = buckets.select(
        "key",
        "n",
        F.sum("n").over(Window.orderBy("key").rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    ).withColumn("est", _dds_midpoint())
    tot = buckets.agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("n_buckets")
    )
    levels = tot.select(
        F.explode(F.array(*[F.lit(q) for q in _DDS_LEVELS])).alias("q_level"),
        "n_total",
        "n_buckets",
    ).withColumn("target", F.ceil(F.col("q_level") * F.col("n_total").cast("double")).cast("long"))
    return (
        levels.join(cum, F.col("cum") >= F.col("target"))
        .groupBy("q_level", "n_buckets")
        .agg(F.min("est").alias("sketch_est"))
    )


def a_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-error-bounded quantile sketch over order totals (cents),
    audited per level against the exact percentile.

    DDSketch shape (Masson, Rim & Lee, VLDB 2019): logarithmic buckets
    give a fixed RELATIVE error guarantee; this variant uses base-2
    octaves with 32 linear sub-buckets (γ ≈ 1.022, midpoint error
    ≤ 1/64 ≈ 1.6%), chosen because the bucket index is pure integer
    bit-math — exactly reproducible in the DuckDB oracle, unlike a
    float log_γ whose last ulp could flip a floor between engines.

    Scale shape: the sketch is a ≤ ~900-row histogram with map-side
    combine — quantiles at 100 TB without the full sort or per-key
    shuffle that exact `percentile` needs; mergeable by count-sum
    (gated in ``a_ddsketch_merge``).  The exact percentile twin here
    exists only to audit the sketch's error; `ok` pins the |rel_err| ≤
    2% SLO at every level.
    """
    t = load_tables(spark, sf_dir, ["orders"])
    v = t["orders"].select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v")
    )
    est = _dds_estimates(_dds_buckets(v, []))
    exact = v.agg(
        *[
            percentile_expr(v, "v", q).alias(f"p{int(q * 100)}")
            for q in _DDS_LEVELS
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q_level"),
                        F.col(f"p{int(q * 100)}").cast("double").alias("exact_val"),
                    )
                    for q in _DDS_LEVELS
                ]
            )
        ).alias("x")
    ).select("x.q_level", "x.exact_val")
    return (
        est.join(exact, "q_level")
        .select(
            "q_level",
            "n_buckets",
            "sketch_est",
            F.round("exact_val", 4).alias("exact_val"),
            F.round(
                (F.col("sketch_est") - F.col("exact_val")) / F.col("exact_val"), 6
            ).alias("rel_err"),
        )
        .withColumn("ok", F.abs(F.col("rel_err")) <= DDS_ERR_FLOOR)
        .orderBy("q_level")
    )


_DDS_KEY_SQL = """CASE WHEN e >= 5
  THEN 32 * e + (v // CAST(round(pow(2.0, CAST(e - 5 AS DOUBLE))) AS BIGINT)) - 32
  ELSE 32 * e + v - CAST(round(pow(2.0, CAST(e AS DOUBLE))) AS BIGINT) END"""

_DDS_EST_SQL = """CASE WHEN key // 32 >= 5
  THEN (key % 32 + 32) * CAST(round(pow(2.0, CAST(key // 32 - 5 AS DOUBLE))) AS BIGINT)
       + CAST(round(pow(2.0, CAST(key // 32 - 5 AS DOUBLE))) AS BIGINT) / 2.0
  ELSE CAST(round(pow(2.0, CAST(key // 32 AS DOUBLE))) AS BIGINT) + key % 32 + 0.5 END"""


def _dds_quantiles_sql() -> str:
    levels = ", ".join(f"({q})" for q in _DDS_LEVELS)
    exact_union = "\n  UNION ALL ".join(
        f"SELECT {q} AS q_level, quantile_cont(v, {q}) AS exact_val FROM vals"
        for q in _DDS_LEVELS
    )
    return f"""
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
), keyed AS (
  SELECT {_DDS_KEY_SQL} AS key
  FROM (SELECT v, length(bin(v)) - 1 AS e FROM vals)
), buckets AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM keyed GROUP BY 1
), cum AS (
  SELECT key, {_DDS_EST_SQL} AS est,
    SUM(n) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS cum
  FROM buckets
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM buckets
), levels AS (
  SELECT q_level, n_total, n_buckets,
    CAST(ceil(q_level * CAST(n_total AS DOUBLE)) AS BIGINT) AS target
  FROM (VALUES {levels}) l(q_level) CROSS JOIN tot
), est AS (
  SELECT q_level, n_buckets, MIN(est) AS sketch_est
  FROM levels JOIN cum ON cum.cum >= levels.target
  GROUP BY 1, 2
), exact AS (
  {exact_union}
)
SELECT e.q_level, n_buckets, sketch_est,
  round(exact_val, 4) AS exact_val,
  round((sketch_est - exact_val) / exact_val, 6) AS rel_err,
  abs(round((sketch_est - exact_val) / exact_val, 6)) <= {DDS_ERR_FLOOR} AS ok
FROM est e JOIN exact x ON x.q_level = e.q_level
ORDER BY e.q_level
"""


def a_ddsketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch MERGEABILITY, gated: per-order-priority bucket
    histograms merged by count-sum equal the sketch built directly over
    the union, bucket-for-bucket, and answer the same median.

    This is the property that lets a 1000-executor deployment keep one
    ≤ ~900-row histogram per day/source/partition and combine them at
    query time without re-scanning — the quantile analogue of
    ``a_hll_merge`` (max-merge) and ``a_incremental_rollup`` (decimal
    partial states).  True by associativity of +; the gate (plus the
    pytest tripwire) pins that the IMPLEMENTATION preserves it."""
    t = load_tables(spark, sf_dir, ["orders"])
    v = t["orders"].select(
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
    )
    per_group = _dds_buckets(v, ["o_orderpriority"])
    merged = per_group.groupBy("key").agg(F.sum("n").alias("n"))
    direct = _dds_buckets(v.select("v"), [])
    cmp_full = (
        merged.alias("m")
        .join(direct.alias("d"), "key", "full_outer")
        .agg(
            F.sum(
                F.when(F.col("m.n").isNotNull() & (F.col("m.n") == F.col("d.n")), 0).otherwise(1)
            ).alias("mismatched")
        )
    )
    m50 = (
        _dds_estimates(merged)
        .filter(F.col("q_level") == 0.5)
        .select(F.col("sketch_est").alias("merged_q50"), F.col("n_buckets").alias("n_buckets"))
    )
    d50 = (
        _dds_estimates(direct)
        .filter(F.col("q_level") == 0.5)
        .select(F.col("sketch_est").alias("direct_q50"))
    )
    return (
        cmp_full.crossJoin(m50)
        .crossJoin(d50)
        .select(
            "n_buckets",
            (F.col("mismatched") == 0).alias("buckets_equal"),
            "merged_q50",
            "direct_q50",
            (F.col("merged_q50") == F.col("direct_q50")).alias("q50_equal"),
        )
    )


def _dds_merge_sql() -> str:
    return f"""
WITH vals AS (
  SELECT o_orderpriority AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), keyed AS (
  SELECT g, {_DDS_KEY_SQL} AS key
  FROM (SELECT g, v, length(bin(v)) - 1 AS e FROM vals)
), per_group AS (
  SELECT g, key, CAST(COUNT(*) AS BIGINT) AS n FROM keyed GROUP BY 1, 2
), merged AS (
  SELECT key, CAST(SUM(n) AS BIGINT) AS n FROM per_group GROUP BY 1
), direct AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM keyed GROUP BY 1
), cmp AS (
  SELECT CAST(COUNT(*) FILTER (m.n IS NULL OR d.n IS NULL OR m.n <> d.n) AS BIGINT)
    AS mismatched
  FROM merged m FULL OUTER JOIN direct d USING (key)
), m_est AS (
  SELECT MIN(est) AS merged_q50, ANY_VALUE(n_buckets) AS n_buckets FROM (
    SELECT {_DDS_EST_SQL} AS est,
      SUM(n) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS cum,
      CAST((SELECT COUNT(*) FROM merged) AS BIGINT) AS n_buckets,
      CAST(ceil(0.5 * CAST((SELECT SUM(n) FROM merged) AS DOUBLE)) AS BIGINT) AS target
    FROM merged
  ) WHERE cum >= target
), d_est AS (
  SELECT MIN(est) AS direct_q50 FROM (
    SELECT {_DDS_EST_SQL} AS est,
      SUM(n) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS cum,
      CAST(ceil(0.5 * CAST((SELECT SUM(n) FROM direct) AS DOUBLE)) AS BIGINT) AS target
    FROM direct
  ) WHERE cum >= target
)
SELECT n_buckets, mismatched = 0 AS buckets_equal,
  merged_q50, direct_q50, merged_q50 = direct_q50 AS q50_equal
FROM cmp CROSS JOIN m_est CROSS JOIN d_est
"""


# ---------------------------------------------- a_ddsketch_stream_parity

_DDS_STREAM_BATCHES = 3


def a_ddsketch_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch mergeability as STREAMING state, gated: accumulate the
    bucket histogram SEQUENTIALLY over arrival-ordered micro-batches
    (state_k = count-sum-merge(state_{k-1}, batch_k)) — the exact fold
    ``streaming.ddsketch.quantiles_stream`` performs across real
    micro-batches — and prove each running emission (buckets AND
    median) equals the histogram built directly over the stream prefix.

    ``a_ddsketch_merge`` gates one-shot mergeability; this gates the
    *incremental* left-deep form that matters for streaming state —
    the quantile analogue of ``a_hll_stream_parity`` (max-merge fold)
    and the same template.  Micro-batches = the first 3 order days in
    arrival order (day-batched ingest, the production streaming
    shape); one row per batch mirrors the stream's per-batch emission
    (n_rows_seen, running median).  The DuckDB oracle recomputes each
    PREFIX directly — a broken fold diverges from it.

    Scale: state is the ≤ ~900-row bucket histogram per key no matter
    how many rows the stream has seen; each fold round is a
    bucket-width union + count-sum, and the day-rank window runs over
    the distinct-day frame (tiny by design), never the order stream."""
    t = load_tables(spark, sf_dir, ["orders"])
    v = t["orders"].select(
        F.col("o_orderdate").alias("day"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
    )
    # Global window over the DISTINCT-DAY frame only (tiny by design).
    days = v.select("day").distinct()
    bids = days.select(
        "day", F.row_number().over(Window.orderBy("day")).alias("bid")
    ).where(F.col("bid") <= _DDS_STREAM_BATCHES)
    vb = v.join(F.broadcast(bids), "day").select("bid", "v")
    # ONE pass over the order stream (r9 bench trim): the per-(bid,
    # bucket) histogram is ≤ ~900×4 rows and every fold round (batch
    # histogram, direct prefix via count-sum — bit-equal to bucketing
    # the raw prefix by sum associativity — and n_seen, since every
    # row lands in exactly one bucket) derives from it.  The DuckDB
    # oracle still recomputes every prefix from raw rows.
    pbb = _dds_buckets(vb, ["bid"]).localCheckpoint(eager=True)

    state: DataFrame | None = None
    out: DataFrame | None = None
    for k in range(1, _DDS_STREAM_BATCHES + 1):
        batch = pbb.where(F.col("bid") == k).select("key", "n")
        state = (
            batch
            if state is None
            else state.unionByName(batch).groupBy("key").agg(F.sum("n").alias("n"))
        )
        direct = (
            pbb.where(F.col("bid") <= k)
            .groupBy("key")
            .agg(F.sum("n").alias("n"))
        )
        s50 = (
            _dds_estimates(state)
            .filter(F.col("q_level") == 0.5)
            .select(F.col("sketch_est").alias("stream_q50"))
        )
        d50 = (
            _dds_estimates(direct)
            .filter(F.col("q_level") == 0.5)
            .select(F.col("sketch_est").alias("direct_q50"))
        )
        cmp_full = (
            state.alias("s")
            .join(direct.alias("d"), "key", "full_outer")
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("s.n").isNotNull()
                            & (F.col("s.n") == F.col("d.n")),
                            0,
                        ).otherwise(1)
                    ),
                    F.lit(0),
                ).alias("mismatched")
            )
        )
        n_seen = pbb.where(F.col("bid") <= k).agg(
            F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias(
                "n_rows_seen"
            )
        )
        row = (
            n_seen.crossJoin(cmp_full)
            .crossJoin(s50)
            .crossJoin(d50)
            .select(
                F.lit(k).alias("batch_idx"),
                "n_rows_seen",
                (F.col("mismatched") == 0).alias("buckets_equal"),
                "stream_q50",
                "direct_q50",
                (F.col("stream_q50") == F.col("direct_q50")).alias("q50_equal"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("batch_idx")


def _dds_stream_parity_sql() -> str:
    """Oracle: each prefix histogram computed DIRECTLY (no fold) — the
    engine's sequential accumulation must land on the same buckets and
    median, so buckets_equal/q50_equal are literal TRUE here: if the
    engine's fold ever diverges, its own comparison flags flip false
    and the hash breaks."""

    def est_over(src: str) -> str:
        return f"""SELECT MIN(est) FROM (
    SELECT {_DDS_EST_SQL} AS est,
      SUM(n) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS cum,
      CAST(ceil(0.5 * CAST((SELECT SUM(n) FROM {src}) AS DOUBLE)) AS BIGINT) AS target
    FROM {src}) WHERE cum >= target"""

    prefix_ctes = ",\n".join(
        f"""b{k} AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM keyed WHERE bid <= {k} GROUP BY key
)"""
        for k in range(1, _DDS_STREAM_BATCHES + 1)
    )
    rows = " UNION ALL ".join(
        f"""SELECT {k} AS batch_idx,
  (SELECT COUNT(*) FROM vb WHERE bid <= {k}) AS n_rows_seen,
  TRUE AS buckets_equal,
  ({est_over(f'b{k}')}) AS stream_q50,
  ({est_over(f'b{k}')}) AS direct_q50,
  TRUE AS q50_equal"""
        for k in range(1, _DDS_STREAM_BATCHES + 1)
    )
    return f"""
WITH vals AS (
  SELECT o_orderdate AS day, CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), days AS (
  SELECT day, row_number() OVER (ORDER BY day) AS bid
  FROM (SELECT DISTINCT day FROM vals)
), vb AS (
  SELECT bid, v FROM vals JOIN days USING (day)
  WHERE bid <= {_DDS_STREAM_BATCHES}
), keyed AS (
  SELECT bid, {_DDS_KEY_SQL} AS key
  FROM (SELECT bid, v, length(bin(v)) - 1 AS e FROM vb)
),
{prefix_ctes}
{rows}
ORDER BY batch_idx
"""


# ------------------------------------------------------ a_grouping_sets

def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS over (event_type, day): the four
    granularities (type×day, type, day, grand total) in ONE pass with
    grouping_id disambiguating the NULL-rollup rows.

    Beyond-reference SQL surface (SURVEY §2.5 notes the reference's A3
    is a hand-rolled two-level rollup); completes the multi-granularity
    family next to ``a_cube_counts``/``a_rollup_daily``/
    ``a_rollup_cascade``.  Scale shape: Catalyst expands the sets into
    one Expand + single hash aggregate — one shuffle for all four
    granularities instead of four scans."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    return (
        e.groupingSets(
            [["event_type", "day"], ["event_type"], ["day"], []],
            "event_type",
            "day",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum("value"), 2).alias("sum_value"),
        )
        .select("gid", "event_type", "day", "n", "sum_value")
        .orderBy(
            F.col("gid").asc(),
            F.col("event_type").asc_nulls_first(),
            F.col("day").asc_nulls_first(),
        )
    )


def _grouping_sets_sql() -> str:
    return """
SELECT CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
  event_type, day,
  CAST(COUNT(*) AS BIGINT) AS n,
  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
FROM (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
ORDER BY gid, event_type NULLS FIRST, day NULLS FIRST
"""


# ----------------------------------------------------- g_triangle_count

_COPURCHASE_SUPPORT = 2


def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph: nodes are parts,
    edges join parts bought together in ≥ 2 distinct orders (the
    market-basket support threshold), one row out — (n_nodes, n_edges,
    n_wedges, n_triangles, clustering).

    Completes the graph family (PageRank ``t_textrank``, connected
    components ``dedup_clusters``) with the third classic distributed
    graph primitive.  Scale shape (operators/graph.py triangle_count):
    per-order baskets are small, so the pair self-join is Σ C(k,2)
    rows; the support HAVING prunes the long tail before any graph
    work; degree-ordered orientation bounds every node's out-degree by
    O(√m), capping the wedge join that hub parts would otherwise
    explode.  All-integer arithmetic; global clustering = 3·triangles /
    wedges, rounded where the engines divide.
    """
    from kp_crypto_market_analytics_spark.operators.copurchase import copurchase_pairs
    from kp_crypto_market_analytics_spark.operators.graph import triangle_count

    edges = copurchase_pairs(spark, sf_dir).select("u", "v")
    return triangle_count(edges).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.lit(3.0) * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double"),
            6,
        ).alias("clustering"),
    )


def _triangle_count_sql() -> str:
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT u, v FROM pairs GROUP BY 1, 2
  HAVING COUNT(*) >= {_COPURCHASE_SUPPORT}
), deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) GROUP BY 1
), oriented AS (
  SELECT CASE WHEN (d1.deg < d2.deg) OR (d1.deg = d2.deg AND u < v)
              THEN u ELSE v END AS src,
         CASE WHEN (d1.deg < d2.deg) OR (d1.deg = d2.deg AND u < v)
              THEN v ELSE u END AS dst,
         CASE WHEN (d1.deg < d2.deg) OR (d1.deg = d2.deg AND u < v)
              THEN d2.deg ELSE d1.deg END AS ddeg
  FROM edges JOIN deg d1 ON d1.n = edges.u JOIN deg d2 ON d2.n = edges.v
), wedges AS (
  SELECT a.dst AS x, b.dst AS y FROM oriented a JOIN oriented b
  ON a.src = b.src
  AND ((a.ddeg < b.ddeg) OR (a.ddeg = b.ddeg AND a.dst < b.dst))
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM wedges w JOIN oriented o ON o.src = w.x AND o.dst = w.y
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
  FROM deg
), ecnt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
  round(3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE), 6)
    AS clustering
FROM agg CROSS JOIN ecnt CROSS JOIN tri
"""


# ------------------------------------------------------- g_assoc_rules

def g_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchase pairs: top-20 directed rules
    antecedent→consequent by LIFT, with support / confidence — the
    market-basket mining surface on the same support-thresholded pair
    table ``g_triangle_count`` builds its graph from.

    lift = P(u,v) / (P(u)·P(v)) = s_uv·N / (s_u·s_v); confidence =
    s_uv / s_antecedent.  Both emitted per direction (confidence is
    asymmetric).  Determinism: counts are exact integers; the two
    ratios are single double divisions of BIGINTs, identical IEEE ops
    both engines, rounded to 6; the top-k ORDER BY carries the
    (antecedent, consequent) unique tiebreaker.

    Scale shape: pair generation is Σ C(basket,2) rows (baskets are
    small); item supports are a |parts|-sized aggregate joined twice —
    plain hash joins, never a broadcast of the fact side; top-k is
    TakeOrderedAndProject.  The support≥2 HAVING prunes the pair long
    tail before the joins."""
    from kp_crypto_market_analytics_spark.operators.windows import top_k

    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    item = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("s_item")
    )
    from kp_crypto_market_analytics_spark.operators.copurchase import copurchase_pairs

    pairs = copurchase_pairs(spark, sf_dir).withColumnRenamed("support", "s_pair")
    directed = pairs.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "s_pair"
    ).unionByName(
        pairs.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "s_pair"
        )
    )
    rules = (
        directed.join(
            item.select(F.col("item").alias("antecedent"), F.col("s_item").alias("s_ante")),
            "antecedent",
        )
        .join(
            item.select(F.col("item").alias("consequent"), F.col("s_item").alias("s_cons")),
            "consequent",
        )
        .crossJoin(n_orders)
        .select(
            "antecedent",
            "consequent",
            "s_pair",
            F.round(F.col("s_pair").cast("double") / F.col("s_ante").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("s_pair").cast("double") * F.col("n_orders").cast("double")
                / (F.col("s_ante").cast("double") * F.col("s_cons").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return top_k(
        rules,
        [F.col("lift").desc(), F.col("antecedent").asc(), F.col("consequent").asc()],
        20,
    ).select("antecedent", "consequent", "s_pair", "confidence", "lift")


def _assoc_rules_sql() -> str:
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
), item AS (
  SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS s_item FROM li GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS s_pair
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_COPURCHASE_SUPPORT}
), directed AS (
  SELECT u AS antecedent, v AS consequent, s_pair FROM pairs
  UNION ALL
  SELECT v, u, s_pair FROM pairs
)
SELECT antecedent, consequent, s_pair,
  round(CAST(s_pair AS DOUBLE) / CAST(sa.s_item AS DOUBLE), 6) AS confidence,
  round(CAST(s_pair AS DOUBLE) * CAST(n_orders AS DOUBLE)
        / (CAST(sa.s_item AS DOUBLE) * CAST(sc.s_item AS DOUBLE)), 6) AS lift
FROM directed d
JOIN item sa ON sa.item = d.antecedent
JOIN item sc ON sc.item = d.consequent
CROSS JOIN n
ORDER BY lift DESC, antecedent, consequent
LIMIT 20
"""


# -------------------------------------------------------- e_covariance

_EMB_DIM = 64


def e_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full covariance matrix of the embedding corpus (upper triangle,
    2080 cells) — the whitening / decorrelation primitive next to
    ``e_pca_power``'s top direction.

    Cov_ij = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n), raw moments in DECIMAL(27,12)
    partial states (order-independent; the e_pca_power recipe).  The
    upper-triangle products are generated per row by a NESTED
    higher-order transform (slice from i) — no self-join, so nothing
    row-shaped ever shuffles: the explode feeds straight into a
    map-side-combined per-(i,j) aggregate and the exchange carries only
    2080 cells × partitions.  At 100 TB that is the only plan that
    works — a comp⋈comp pair join would shuffle |rows|·d first.
    """
    from kp_crypto_market_analytics_spark.functions.vectors import to_double_array
    from kp_crypto_market_analytics_spark.session import ensure_parallelism

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = ensure_parallelism(t["embeddings"]).select(
        to_double_array("embedding").alias("x")
    )
    tri = F.flatten(
        F.transform(
            F.col("x"),
            lambda xi, i: F.transform(
                F.slice(F.col("x"), i + 1, F.lit(_EMB_DIM) - i),
                lambda xj, k: F.struct(
                    i.alias("i"), (i + k).alias("j"), (xi * xj).alias("p")
                ),
            ),
        )
    )
    sij = (
        emb.select(F.explode(tri).alias("c"))
        .select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(27,12)")).cast("double").alias("sij"))
    )
    si = (
        emb.select(F.posexplode("x").alias("i", "xi"))
        .groupBy("i")
        .agg(F.sum(F.col("xi").cast("decimal(27,12)")).cast("double").alias("si"))
    )
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    return (
        sij.join(si.select(F.col("i"), F.col("si").alias("s_a")), "i")
        .join(
            si.select(F.col("i").alias("j"), F.col("si").alias("s_b")), "j"
        )
        .crossJoin(F.broadcast(n))
        .select(
            (F.col("i") + 1).alias("dim_i"),
            (F.col("j") + 1).alias("dim_j"),
            # + 0.0 normalizes IEEE negative zero (round can yield -0.0
            # whose text form differs between engines).
            (
                F.round(
                    F.col("sij") / F.col("n")
                    - (F.col("s_a") / F.col("n")) * (F.col("s_b") / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
        .orderBy("dim_i", "dim_j")
    )


def _e_covariance_sql() -> str:
    return f"""
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), idx AS (
  SELECT x, unnest(generate_series(1, {_EMB_DIM})) AS i FROM e
), pairs AS (
  SELECT i, unnest(generate_series(i, {_EMB_DIM})) AS j, x FROM idx
), sij AS (
  SELECT i, j, CAST(SUM(CAST(x[i] * x[j] AS DECIMAL(27,12))) AS DOUBLE) AS sij
  FROM pairs GROUP BY 1, 2
), si AS (
  SELECT i, CAST(SUM(CAST(x[i] AS DECIMAL(27,12))) AS DOUBLE) AS si
  FROM idx GROUP BY 1
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e
)
SELECT s.i AS dim_i, s.j AS dim_j,
  round(sij / n - (a.si / n) * (b.si / n), 6) + 0.0 AS cov
FROM sij s JOIN si a ON a.i = s.i JOIN si b ON b.i = s.j CROSS JOIN nn
ORDER BY dim_i, dim_j
"""


# ------------------------------------------------------------ cdc_scd2

def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from the event stream:
    per user, collapse consecutive same-type events and emit one
    validity-interval row per state change — (user_id, event_type,
    valid_from, valid_to, version_n, is_current), half-open intervals,
    NULL valid_to on the current row.

    The warehouse-side complement of ``cdc_snapshot_diff`` (which diffs
    two snapshots; this reconstructs the full history dimension an
    SCD2 loader maintains).  Scale shape: ONE exchange on user_id —
    the change filter (lag) and the interval close (lead over the
    filtered set) both ride user-partitioned sorts, and the second
    window reuses the first's partitioning.
    """
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        t["events"]
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        chg.select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w2).alias("valid_to"),
            F.row_number().over(w2).cast("long").alias("version_n"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "version_n")
    )


def _cdc_scd2_sql() -> str:
    return """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_type
  FROM events
), chg AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type,
  ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       AS BIGINT) AS version_n,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
    AS is_current
FROM chg
ORDER BY user_id, version_n
"""


# -------------------------------------------------------- dq_drift_psi

_PSI_BINS = 10
_PSI_ALERT = 0.2


def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between two
    deterministic halves of the event stream (even vs odd epoch day) —
    the standard drift monitor a feature store runs between a training
    snapshot and live traffic.

    Bins: 10 equal-width over the REFERENCE half's [min, max] per
    type (current-half values clamp into the edge bins — out-of-range
    mass lands in bin 0/9, exactly what a drift monitor wants to see).
    Laplace-smoothed shares p = (n+1)/(N+10) make every bin defined;
    PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) ≥ 0, flagged at the
    industry 0.2 threshold.

    Determinism: bin edges are double arithmetic on per-type aggregate
    scalars (identical IEEE both engines); shares are BIGINT divisions;
    each PSI term folds through DECIMAL(28,12) so the 10-term sum is
    order-independent; final round(6).  Scale shape: two scans (ref
    stats, binning) + one (type, bin)-sized exchange; the bin spine is
    a tiny generated table — nothing row-shaped crosses after the
    partial agg.
    """
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].where(F.col("value").isNotNull()).select(
        "event_type",
        "value",
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) % 2 == 0).alias(
            "is_ref"
        ),
    )
    stats = (
        ev.where("is_ref")
        .groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
        .where(F.col("vmax") > F.col("vmin"))
    )
    binned = (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "is_ref",
            F.least(
                F.lit(_PSI_BINS - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("value") - F.col("vmin"))
                        * F.lit(float(_PSI_BINS))
                        / (F.col("vmax") - F.col("vmin"))
                    ),
                ),
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
        )
    )
    spine = stats.select("event_type").crossJoin(
        spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    )
    full = (
        spine.join(binned, ["event_type", "bin"], "left")
        .select(
            "event_type",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = full.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + _PSI_BINS).cast(
        "double"
    )
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + _PSI_BINS).cast(
        "double"
    )
    return (
        full.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            ((p_cur - p_ref) * F.log(p_cur / p_ref)).cast("decimal(28,12)").alias(
                "term"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n_ref").alias("rows_ref"),
            F.sum("n_cur").alias("rows_cur"),
            (F.round(F.sum("term").cast("double"), 6) + F.lit(0.0)).alias("psi"),
        )
        .withColumn("drifted", F.col("psi") > _PSI_ALERT)
        .orderBy("event_type")
    )


def _dq_drift_psi_sql() -> str:
    b = _PSI_BINS
    return f"""
WITH ev AS (
  SELECT event_type, value,
    ((CAST(ts AS DATE) - DATE '1970-01-01') % 2 = 0) AS is_ref
  FROM events WHERE value IS NOT NULL
), stats AS (
  SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
  FROM ev WHERE is_ref GROUP BY 1 HAVING MAX(value) > MIN(value)
), binned AS (
  SELECT e.event_type, is_ref,
    least({b - 1}, greatest(0,
      CAST(floor((value - vmin) * {float(b)} / (vmax - vmin)) AS BIGINT))) AS bin
  FROM ev e JOIN stats s ON s.event_type = e.event_type
), cnt AS (
  SELECT event_type, bin,
    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM binned GROUP BY 1, 2
), spine AS (
  SELECT event_type, unnest(generate_series(0, {b - 1})) AS bin FROM stats
), filled AS (
  SELECT s.event_type, s.bin,
    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
  FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type AND c.bin = s.bin
), tot AS (
  SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
  FROM filled GROUP BY 1
), terms AS (
  SELECT f.event_type, n_ref, n_cur,
    CAST((CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + {b} AS DOUBLE)
        - CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + {b} AS DOUBLE))
      * ln((CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + {b} AS DOUBLE))
         / (CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + {b} AS DOUBLE)))
      AS DECIMAL(28,12)) AS term
  FROM filled f JOIN tot t ON t.event_type = f.event_type
)
SELECT event_type,
  CAST(SUM(n_ref) AS BIGINT) AS rows_ref,
  CAST(SUM(n_cur) AS BIGINT) AS rows_cur,
  round(CAST(SUM(term) AS DOUBLE), 6) + 0.0 AS psi,
  (round(CAST(SUM(term) AS DOUBLE), 6) + 0.0) > {_PSI_ALERT} AS drifted
FROM terms GROUP BY event_type
ORDER BY event_type
"""


# ----------------------------------------------------------- a_benford

def a_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic data-quality screen for fabricated or truncated monetary
    columns.  One row per leading digit 1-9: observed count, observed
    share (exact half-away micro-rounding), the Benford expectation
    log₁₀(1 + 1/d), and the absolute deviation.

    Digit extraction is numeric (x / 10^⌊log₁₀x⌋), no string
    round-trip — double-formatting differs between engines, log₁₀ of
    the same double does not.  Single scan, 9-row exchange.
    """
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )

    t = load_tables(spark, sf_dir, ["orders"])
    digits = (
        t["orders"]
        .where(F.col("o_totalprice") > 0)
        .select(
            F.floor(
                F.col("o_totalprice")
                / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = digits.agg(F.sum("n").alias("total"))
    expected = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")), 6)
    pct = round_mean_micro(F.col("n").cast("decimal(18,6)"), F.col("total"))
    return (
        digits.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            pct.alias("pct"),
            expected.alias("expected_pct"),
            F.round(F.abs(pct - expected), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def _a_benford_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    pct = sql_round_mean_micro("CAST(n AS DECIMAL(18,6))", "total")
    return f"""
WITH d AS (
  SELECT CAST(floor(o_totalprice / power(10.0, floor(log10(o_totalprice))))
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
), cnt AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt
)
SELECT digit, n,
  {pct} AS pct,
  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS expected_pct,
  round(abs({pct} - round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)), 6)
    AS abs_dev
FROM cnt CROSS JOIN tot
ORDER BY digit
"""


# ----------------------------------------------------------- t_zipf_fit

_ZIPF_TOPK = 1000


def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(freq) on
    ln(rank) across the top-1000 tokens — slope ≈ −1 is the natural-
    language signature; a far-off slope flags synthetic or boilerplate
    corpora.  One row: (n_terms, slope, intercept, r2).

    Rank is row_number over (freq DESC, token ASC) — total order, so
    both engines rank identically; ln of exact integers is
    deterministic; all five OLS sums fold through DECIMAL(28,12)
    (order-independent), and the closed-form slope/intercept/r² are
    identical IEEE double expressions of those exact sums, rounded 6.

    Scale shape: vocab agg absorbs the token explode map-side; the
    top-k is TakeOrderedAndProject; the regression runs on 1000 rows.
    """
    from kp_crypto_market_analytics_spark.operators.windows import top_k
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    toks = _toks_df(spark, sf_dir).select(F.explode("toks").alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    top = top_k(vocab, [F.col("freq").desc(), F.col("tok").asc()], _ZIPF_TOPK)
    w = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    ).select(
        F.col("x").cast("decimal(28,12)").alias("x"),
        F.col("y").cast("decimal(28,12)").alias("y"),
        (F.col("x") * F.col("x")).cast("decimal(28,12)").alias("xx"),
        (F.col("y") * F.col("y")).cast("decimal(28,12)").alias("yy"),
        (F.col("x") * F.col("y")).cast("decimal(28,12)").alias("xy"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("yy").cast("double").alias("syy"),
        F.sum("xy").cast("double").alias("sxy"),
    )
    nn = F.col("n").cast("double")
    cov = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nn * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return s.select(
        F.col("n").alias("n_terms"),
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round((F.col("sy") - slope * F.col("sx")) / nn, 6) + F.lit(0.0)).alias(
            "intercept"
        ),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def _t_zipf_fit_sql() -> str:
    return f"""
WITH toks AS (
  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                ' ')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY 1
), top AS (
  SELECT tok, freq FROM vocab ORDER BY freq DESC, tok LIMIT {_ZIPF_TOPK}
), xy0 AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM top
), xy AS (
  SELECT CAST(x AS DECIMAL(28,12)) AS x, CAST(y AS DECIMAL(28,12)) AS y,
    CAST(x * x AS DECIMAL(28,12)) AS xx, CAST(y * y AS DECIMAL(28,12)) AS yy,
    CAST(x * y AS DECIMAL(28,12)) AS xy
  FROM xy0
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
    CAST(SUM(xx) AS DOUBLE) AS sxx, CAST(SUM(yy) AS DOUBLE) AS syy,
    CAST(SUM(xy) AS DOUBLE) AS sxy
  FROM xy
)
SELECT n AS n_terms,
  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS slope,
  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) + 0.0
    AS intercept,
  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
"""


# ------------------------------------------------------ w_gapfill_interp

def w_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free 5-minute resample with LINEAR INTERPOLATION per event
    type — the numeric-fill companion to ``w_resample_ffill``'s
    carry-forward (pandas ``resample().interpolate()`` parity; the
    fill a charting/feature pipeline wants for continuous signals
    where a step function would bias derivatives).

    interp(b) = prev + (next − prev) · (b − b_prev)/(b_next − b_prev)
    between the nearest observed buckets; observed rows pass through.
    Determinism: bucket averages are decimal-summed and rounded first
    (so the interpolation endpoints are identical doubles), the
    fraction is an explicit double division of BIGINT bucket indexes,
    and the interpolated value re-rounds with a −0 normalizer.

    Plan shape (same as resample_ffill): one map-side-combined bucket
    agg, a skinny bounds agg whose sequence() explode generates the
    grid shuffle-free, one left join, then TWO running-frame windows:
    prev over ``b`` ascending, next over ``b`` descending.  Spark
    re-evaluates a currentRow → unboundedFollowing frame on every row
    (O(n²) per event type), so "next" is the reversed running frame.
    """
    t = load_tables(spark, sf_dir, ["events"])
    step = 300
    b = F.floor(F.unix_timestamp("ts") / F.lit(step)).cast("long")
    agg = t["events"].groupBy(F.col("event_type"), b.alias("b")).agg(
        F.count("value").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("value"),
            6,
        ).alias("avg_value"),
    )
    bounds = agg.groupBy("event_type").agg(
        F.min("b").alias("lo"), F.max("b").alias("hi")
    )
    grid = bounds.select("event_type", F.explode(F.sequence("lo", "hi")).alias("b"))
    j = grid.join(agg, ["event_type", "b"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy(F.col("b").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ob = F.when(F.col("avg_value").isNotNull(), F.col("b"))
    j = j.withColumns(
        {
            "__pv": F.last("avg_value", ignorenulls=True).over(wp),
            "__pb": F.last(ob, ignorenulls=True).over(wp),
            "__nv": F.last("avg_value", ignorenulls=True).over(wn),
            "__nb": F.last(ob, ignorenulls=True).over(wn),
        }
    )
    pv, pb, nv, nb = F.col("__pv"), F.col("__pb"), F.col("__nv"), F.col("__nb")
    # Exact integer micro-unit interpolation: pv/nv are 6-dp values, so
    # pv + (nv−pv)·gap_frac lands on .5e-6 rounding ties STRUCTURALLY
    # (e.g. odd-micro diff halved); double round() then diverges
    # between engines.  Half-away integer division sidesteps IEEE
    # entirely (round_mean_micro recipe).
    pm = (pv.cast("decimal(18,6)") * 1000000).cast("long")
    nm = (nv.cast("decimal(18,6)") * 1000000).cast("long")
    num = (nm - pm) * (F.col("b") - pb)
    den = nb - pb
    q = F.call_function("div", F.lit(2) * F.abs(num) + den, F.lit(2) * den)
    sign = F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    interp = (pm + sign * q) / F.lit(1000000.0)
    return j.select(
        "event_type",
        F.to_timestamp(F.col("b") * step).alias("bucket"),
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .otherwise(interp)
        .alias("value"),
        F.when(F.col("avg_value").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "filled"
        ),
    ).orderBy("event_type", "bucket")


def _w_gapfill_interp_sql() -> str:
    return """
WITH a AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) AS BIGINT) AS b,
    COUNT(value) AS n_events,
    round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6)
      AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(b) AS lo, MAX(b) AS hi FROM a GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM bounds
), j AS (
  SELECT g.event_type, g.b, coalesce(a.n_events, 0) AS n_events, a.avg_value
  FROM grid g LEFT JOIN a ON g.event_type = a.event_type AND g.b = a.b
), w AS (
  SELECT event_type, b, n_events, avg_value,
    last_value(avg_value IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN avg_value IS NOT NULL THEN b END IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
    first_value(avg_value IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY b
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN avg_value IS NOT NULL THEN b END IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY b
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
  FROM j
)
, m AS (
  SELECT event_type, b, n_events, avg_value, pb, nb,
    CAST(CAST(pv AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pm,
    CAST(CAST(nv AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS nm
  FROM w
)
SELECT event_type, CAST(to_timestamp(b * 300) AS TIMESTAMP) AS bucket, n_events,
  CASE WHEN avg_value IS NOT NULL THEN avg_value
       ELSE (pm + (CASE WHEN (nm - pm) * (b - pb) < 0 THEN -1 ELSE 1 END)
                  * ((2 * abs((nm - pm) * (b - pb)) + (nb - pb))
                     // (2 * (nb - pb)))) / 1000000.0
  END AS value,
  CASE WHEN avg_value IS NULL THEN 1 ELSE 0 END AS filled
FROM m ORDER BY event_type, bucket
"""


# ------------------------------------------------------ e_jl_projection

_JL_DIM = 8
_JL_SAMPLE_MOD = 97
_EMB_D = 64


def _jl_sign(i, k):
    """Deterministic ±1 from pure int64 arithmetic — identical in both
    engines (no engine hash functions, whose algorithms differ)."""
    return F.when(
        ((i * F.lit(2654435761) + k * F.lit(40503)) % 7919) % 2 == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def e_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss distance-preservation audit: project a
    deterministic vector sample (vec_id ≡ 0 mod 97) from 64 → 8 dims
    with a ±1 sign matrix derived from integer arithmetic, then compare
    every sampled pair's squared distance before vs after (ratio
    normalized by the 1/√8 JL scale).  One row: n_pairs, mean / min /
    max ratio — the measured ε of the embedding-compression step a
    100 TB pipeline runs before ANN indexing (JL lemma, public).

    Determinism: the sign matrix is pure int64 arithmetic; projections
    and squared distances fold through DECIMAL(28,12) per-cell products
    (order-independent sums); ratios are double divisions of those
    exact sums; the mean rides a scale-12 decimal sum (e_covariance
    recipe).  Scale shape: the SAMPLE is filtered before any explode,
    so the pair join is |sample|² on skinny rows; full-corpus
    projection would be the same per-row explode feeding partial aggs —
    nothing here collects or broadcasts vectors.
    """
    from kp_crypto_market_analytics_spark.functions.vectors import to_double_array

    t = load_tables(spark, sf_dir, ["embeddings"])
    s = (
        t["embeddings"]
        .where(F.col("vec_id") % _JL_SAMPLE_MOD == 0)
        .select("vec_id", to_double_array("embedding").alias("x"))
    )
    dims = s.select(
        "vec_id", F.posexplode("x").alias("i0", "xv")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "xv")
    ks = spark.range(1, _JL_DIM + 1).select(F.col("id").alias("k"))
    proj = (
        dims.crossJoin(F.broadcast(ks))
        .select(
            "vec_id",
            "k",
            (_jl_sign(F.col("i"), F.col("k")) * F.col("xv"))
            .cast("decimal(28,12)")
            .alias("t"),
        )
        .groupBy("vec_id", "k")
        .agg(F.sum("t").cast("double").alias("y"))
    )
    dp = (
        proj.alias("a")
        .join(proj.alias("b"), (F.col("a.k") == F.col("b.k")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("u"),
            F.col("b.vec_id").alias("v"),
            ((F.col("a.y") - F.col("b.y")) * (F.col("a.y") - F.col("b.y")))
            .cast("decimal(28,12)")
            .alias("d2"),
        )
        .groupBy("u", "v")
        .agg(F.sum("d2").cast("double").alias("dproj"))
    )
    do = (
        dims.alias("a")
        .join(dims.alias("b"), (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("u"),
            F.col("b.vec_id").alias("v"),
            ((F.col("a.xv") - F.col("b.xv")) * (F.col("a.xv") - F.col("b.xv")))
            .cast("decimal(28,12)")
            .alias("d2"),
        )
        .groupBy("u", "v")
        .agg(F.sum("d2").cast("double").alias("dorig"))
    )
    ratios = (
        dp.join(do, ["u", "v"])
        .where(F.col("dorig") > 0)
        .select(
            (F.col("dproj") / (F.lit(float(_JL_DIM)) * F.col("dorig"))).alias("r")
        )
    )
    return ratios.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("r").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_ratio"),
        F.round(F.min("r"), 6).alias("min_ratio"),
        F.round(F.max("r"), 6).alias("max_ratio"),
    )


def _e_jl_projection_sql() -> str:
    sign = (
        "(CASE WHEN ((i * 2654435761 + k * 40503) % 7919) % 2 = 0"
        " THEN 1.0 ELSE -1.0 END)"
    )
    return f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
  FROM embeddings WHERE vec_id % {_JL_SAMPLE_MOD} = 0
), dims AS (
  SELECT vec_id, unnest(generate_series(1, {_EMB_D})) AS i, x FROM s
), dimv AS (
  SELECT vec_id, i, x[i] AS xv FROM dims
), proj AS (
  SELECT vec_id, k,
    CAST(SUM(CAST({sign} * xv AS DECIMAL(28,12))) AS DOUBLE) AS y
  FROM dimv CROSS JOIN (SELECT unnest(generate_series(1, {_JL_DIM})) AS k)
  GROUP BY vec_id, k
), dp AS (
  SELECT a.vec_id AS u, b.vec_id AS v,
    CAST(SUM(CAST((a.y - b.y) * (a.y - b.y) AS DECIMAL(28,12))) AS DOUBLE)
      AS dproj
  FROM proj a JOIN proj b ON a.k = b.k AND a.vec_id < b.vec_id
  GROUP BY 1, 2
), do_ AS (
  SELECT a.vec_id AS u, b.vec_id AS v,
    CAST(SUM(CAST((a.xv - b.xv) * (a.xv - b.xv) AS DECIMAL(28,12))) AS DOUBLE)
      AS dorig
  FROM dimv a JOIN dimv b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
), ratios AS (
  SELECT dproj / ({float(_JL_DIM)} * dorig) AS r
  FROM dp JOIN do_ USING (u, v) WHERE dorig > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
  round(CAST(SUM(CAST(r AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
    AS mean_ratio,
  round(MIN(r), 6) AS min_ratio,
  round(MAX(r), 6) AS max_ratio
FROM ratios
"""


# -------------------------------------------------------- a_kmv_overlap

_KMV_K = 256
_KMV_SCALE = 1 << 60  # hash64 range: [0, 2^60)


def a_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap via K-minimum-values / theta sketches
    (Beyer et al. 2007; the Theta-sketch set algebra behind Apache
    DataSketches, public) — the DIRECT-intersection alternative to
    ``a_hll_overlap``'s inclusion–exclusion: each type keeps its 256
    smallest distinct user-hashes; for a pair, θ = min of the two
    k-th values and |A∩B| ≈ |{h in both sketches, h < θ}| / θ.
    Inclusion–exclusion error compounds three estimates; the theta
    estimate is one binomial draw — the reason production sketch
    libraries intersect thetas, audited here against the exact join.

    Determinism: the sketch is the k smallest DISTINCT 60-bit md5
    hashes (total order, no ties), θ and the intersection count are
    pure integers; the only doubles are two final divisions of the
    same integers, rounded 6.

    Scale shape: sketch build is a per-type top-k (window over distinct
    hashes — at 100 TB swap to per-partition top-k + merge, same
    result by the order statistics' associativity); every pairwise
    intersection joins two 256-row sketches — broadcast-trivial —
    while the exact twin (audit-only) pays the per-user self-join the
    sketch exists to avoid."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, ["events"])
    # NOTE (r11, measured): leaving the single-partition scan alone is
    # 2-3x faster here — the ~600k-row md5 pass costs ~0.2s on one
    # core, less than the repartition shuffle that would fan it out
    # (A/B 0.3s vs 0.7s warm).  Contrast a_bootstrap_ci, whose 3.75M
    # hash+CASE rows DID warrant the fan-out.
    e = t["events"].select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    hashes = e.select(
        "event_type", hash64(F.concat(F.col("u"), F.lit("#kmv"))).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
        .localCheckpoint(eager=True)
    )
    stats = sk.groupBy("event_type").agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_kept")
    )
    theta_of = F.when(F.col("n_kept") < _KMV_K, F.lit(_KMV_SCALE)).otherwise(
        F.col("kth")
    )
    st = stats.select("event_type", theta_of.alias("theta"))
    pairs = (
        st.select(F.col("event_type").alias("ta"), F.col("theta").alias("th_a"))
        .crossJoin(
            st.select(F.col("event_type").alias("tb"), F.col("theta").alias("th_b"))
        )
        .where(F.col("ta") < F.col("tb"))
        .select("ta", "tb", F.least("th_a", "th_b").alias("theta"))
    )
    inter = (
        sk.alias("a")
        .join(
            sk.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
            F.col("a.h").alias("h"),
        )
    )
    n_inter = (
        F.broadcast(pairs)
        .join(inter, ["ta", "tb"], "left")
        .select(
            "ta", "tb", "theta",
            F.when(F.col("h") < F.col("theta"), 1).otherwise(0).alias("c"),
        )
        .groupBy("ta", "tb", "theta")
        .agg(F.sum("c").alias("n_inter"))
    )
    ed = e.distinct()
    exact = (
        ed.alias("x")
        .join(ed.alias("y"), "u")
        .where(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("ta"), F.col("y.event_type").alias("tb")
        )
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    est = (
        F.col("n_inter").cast("double")
        * F.lit(float(_KMV_SCALE))
        / F.col("theta").cast("double")
    )
    return (
        n_inter.join(exact, ["ta", "tb"], "left")
        .select(
            "ta",
            "tb",
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
            F.round(est, 6).alias("kmv_inter"),
            F.round(
                (est - F.col("exact_inter")) / F.col("exact_inter").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("ta", "tb")
    )


def _a_kmv_overlap_sql() -> str:
    k, scale = _KMV_K, _KMV_SCALE
    return f"""
WITH e AS (
  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u FROM events
), h AS (
  SELECT DISTINCT event_type,
    CAST('0x' || substr(md5(u || '#kmv'), 1, 15) AS BIGINT) AS h
  FROM e
), sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {k}
), stats AS (
  SELECT event_type,
    CASE WHEN COUNT(*) < {k} THEN CAST({scale} AS BIGINT) ELSE MAX(h) END
      AS theta
  FROM sk GROUP BY 1
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
    least(a.theta, b.theta) AS theta
  FROM stats a JOIN stats b ON a.event_type < b.event_type
), inter AS (
  SELECT a.event_type AS ta, b.event_type AS tb, a.h
  FROM sk a JOIN sk b ON a.h = b.h AND a.event_type < b.event_type
), ni AS (
  SELECT p.ta, p.tb, p.theta,
    CAST(SUM(CASE WHEN i.h < p.theta THEN 1 ELSE 0 END) AS BIGINT) AS n_inter
  FROM pairs p LEFT JOIN inter i ON i.ta = p.ta AND i.tb = p.tb
  GROUP BY 1, 2, 3
), ex AS (
  SELECT x.event_type AS ta, y.event_type AS tb,
    CAST(COUNT(*) AS BIGINT) AS exact_inter
  FROM e x JOIN e y ON x.u = y.u AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT ni.ta, ni.tb, coalesce(exact_inter, 0) AS exact_inter,
  round(CAST(n_inter AS DOUBLE) * {float(scale)} / CAST(theta AS DOUBLE), 6)
    AS kmv_inter,
  round((CAST(n_inter AS DOUBLE) * {float(scale)} / CAST(theta AS DOUBLE)
         - exact_inter) / CAST(exact_inter AS DOUBLE), 6) AS rel_err
FROM ni LEFT JOIN ex ON ex.ta = ni.ta AND ex.tb = ni.tb
ORDER BY ni.ta, ni.tb
"""


_KMV_STREAM_BATCHES = 3


def a_kmv_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch mergeability as STREAMING state, gated:
    accumulate the k-minimum-values sketch SEQUENTIALLY over
    arrival-ordered micro-batches (state_k = k-smallest-distinct of
    state_{k-1} ∪ sketch(batch_k)) and prove each running emission
    (the full hash set, its order statistics, AND the distinct-count
    estimate) equals the sketch built directly over the stream prefix
    — true by the min-wise order-statistic property (the k smallest
    of a union are contained in the union of each side's k smallest),
    and the gate catches the implementation ever breaking it.

    Completes the streaming-sketch parity QUARTET: HLL folds by max,
    DDSketch by bucket count-sum, count-min by cell sum, KMV by
    union + re-top-k.  Micro-batches = the first 3 event days in
    arrival order (same scaffold as a_hll_stream_parity); one row per
    batch mirrors the stream's per-batch emission.  The DuckDB oracle
    recomputes each PREFIX sketch directly — a broken fold diverges.

    Scale: state is ≤ _KMV_K (256) hashes per key regardless of
    events seen; each fold round unions ≤ 2k rows and re-ranks; the
    unpartitioned top-k window runs over the ≤ |distinct users| hash
    frame of a 4-day slice (gate query — the production path keeps
    per-partition top-k + merge, identical by associativity)."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select(
        F.to_date("ts").alias("day"), F.col("user_id").cast("string").alias("u")
    )
    days = e.select("day").distinct()
    bids = days.select(
        "day", F.row_number().over(Window.orderBy("day")).alias("bid")
    ).where(F.col("bid") <= _KMV_STREAM_BATCHES)
    # Checkpoint the small (bid, h) projection once — the unrolled
    # fold reads it ~3x per batch (same move as the other gates).
    eb = (
        e.join(F.broadcast(bids), "day")
        .select("bid", hash64(F.concat(F.col("u"), F.lit("#kmv"))).alias("h"))
        .localCheckpoint(eager=True)
    )

    def kmv_of(df: DataFrame) -> DataFrame:
        # smallest-K hashes via distributed TakeOrdered (each shard
        # forwards ≤ K rows) — not a rank over the full distinct frame
        return df.select("h").distinct().orderBy("h").limit(_KMV_K)

    def est_expr(nk, kth):
        # kth <= 0 → exact count: the divisor-zero guard, identical on
        # all three engines (streaming/kmv.py kmv_estimate, this expr,
        # the DuckDB est_over twin).
        return F.when((nk < _KMV_K) | (kth <= 0), nk.cast("double")).otherwise(
            F.round(
                F.lit(float(_KMV_K - 1))
                * F.lit(float(_KMV_SCALE))
                / kth.cast("double"),
                6,
            )
        )

    state: DataFrame | None = None
    out: DataFrame | None = None
    for k in range(1, _KMV_STREAM_BATCHES + 1):
        batch = kmv_of(eb.where(F.col("bid") == k))
        state = batch if state is None else kmv_of(state.unionByName(batch))
        direct = kmv_of(eb.where(F.col("bid") <= k))
        sa = state.select(F.col("h").alias("__sh"))
        da = direct.select(F.col("h").alias("__dh"))
        cmp_full = (
            sa.join(da, sa["__sh"] == da["__dh"], "full_outer")
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__sh").isNotNull() & F.col("__dh").isNotNull(), 0
                        ).otherwise(1)
                    ),
                    F.lit(0),
                ).alias("mismatched")
            )
        )
        s_stats = state.agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.coalesce(F.max("h"), F.lit(0)).alias("kth_value"),
        )
        d_stats = direct.agg(
            F.count(F.lit(1)).alias("__dn"),
            F.coalesce(F.max("h"), F.lit(0)).alias("__dk"),
        )
        n_seen = eb.where(F.col("bid") <= k).agg(
            F.count(F.lit(1)).alias("n_events_seen")
        )
        row = (
            n_seen.crossJoin(cmp_full)
            .crossJoin(s_stats)
            .crossJoin(d_stats)
            .select(
                F.lit(k).alias("batch_idx"),
                "n_events_seen",
                (F.col("mismatched") == 0).alias("sketch_equal"),
                "n_kept",
                "kth_value",
                est_expr(F.col("n_kept"), F.col("kth_value")).alias("stream_est"),
                est_expr(F.col("__dn"), F.col("__dk")).alias("direct_est"),
            )
            .withColumn(
                "est_equal", F.col("stream_est") == F.col("direct_est")
            )
            .drop("__dn", "__dk")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("batch_idx")


def _kmv_stream_parity_sql() -> str:
    """Oracle: each prefix sketch computed DIRECTLY (no fold) — the
    engine's sequential union + re-top-k must land on the same hash
    set and estimate, so sketch_equal/est_equal are literal TRUE
    here: if the engine's fold ever diverges, its own comparison
    flags flip false and the hash breaks."""
    k_, scale = _KMV_K, _KMV_SCALE

    def est_over(src: str) -> str:
        return (
            f"SELECT CASE WHEN COUNT(*) < {k_} OR coalesce(MAX(h), 0) <= 0 "
            f"THEN CAST(COUNT(*) AS DOUBLE) "
            f"ELSE round({float(k_ - 1)} * {float(scale)} / CAST(MAX(h) AS DOUBLE), 6) "
            f"END FROM {src}"
        )

    prefix_ctes = ",\n".join(
        f"""sk{k} AS MATERIALIZED (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM eb WHERE bid <= {k})
  ) WHERE rn <= {k_}
)"""
        for k in range(1, _KMV_STREAM_BATCHES + 1)
    )
    rows = " UNION ALL ".join(
        f"""SELECT {k} AS batch_idx,
  (SELECT COUNT(*) FROM eb WHERE bid <= {k}) AS n_events_seen,
  TRUE AS sketch_equal,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM sk{k}) AS n_kept,
  (SELECT coalesce(MAX(h), 0) FROM sk{k}) AS kth_value,
  ({est_over(f'sk{k}')}) AS stream_est,
  ({est_over(f'sk{k}')}) AS direct_est,
  TRUE AS est_equal"""
        for k in range(1, _KMV_STREAM_BATCHES + 1)
    )
    return f"""
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS u FROM events
), days AS (
  SELECT day, row_number() OVER (ORDER BY day) AS bid
  FROM (SELECT DISTINCT day FROM e)
), eb AS MATERIALIZED (
  SELECT bid, CAST('0x' || substr(md5(u || '#kmv'), 1, 15) AS BIGINT) AS h
  FROM e JOIN days USING (day) WHERE bid <= {_KMV_STREAM_BATCHES}
),
{prefix_ctes}
{rows}
ORDER BY batch_idx
"""


# ----------------------------------------------------- dedup_stream_parity

_DEDUP_STREAM_BATCHES = 4


def dedup_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup as SEQUENTIAL state, gated: fold
    day-ordered micro-batches through the dedup store (state_k =
    state_{k-1} ∪ new-keys(batch_k); a batch emits exactly the keys
    not in the prior state — the dropDuplicatesWithinWatermark
    semantic with the horizon covering the window) and prove per batch
    that (a) the fold's emission count equals the first-occurrence
    count of that batch and (b) the fold's store size equals the
    distinct-key count of the stream PREFIX recomputed directly.
    Brings the streaming-dedup family (streaming/dedup.py) into the
    same parity-gate pattern as the sketch quartet: the DuckDB oracle
    recomputes every prefix directly (min-first-batch per key), so a
    fold that ever re-emits a seen key or loses state diverges.

    Scale: state is the distinct-key set — exactly what any exact
    dedup must hold; the production operator bounds it by watermark
    eviction (keys older than the horizon age out), and this gate's
    4-batch window sits entirely inside one horizon so fold == exact.
    Each round is one left_anti join (shuffle on the key) + counts;
    localCheckpoint pins each round's result so plan size stays O(1)
    per round (the other gates' move)."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select(
        F.to_date("ts").alias("day"), F.col("user_id").cast("string").alias("k")
    )
    days = e.select("day").distinct()
    bids = days.select(
        "day", F.row_number().over(Window.orderBy("day")).alias("bid")
    ).where(F.col("bid") <= _DEDUP_STREAM_BATCHES)
    eb = (
        e.join(F.broadcast(bids), "day")
        .select("bid", "k")
        .localCheckpoint(eager=True)
    )
    state: DataFrame | None = None
    out: DataFrame | None = None
    for i in range(1, _DEDUP_STREAM_BATCHES + 1):
        batch_keys = eb.where(F.col("bid") == i).select("k").distinct()
        new_keys = (
            batch_keys
            if state is None
            else batch_keys.join(state, "k", "left_anti")
        ).localCheckpoint(eager=True)
        state = (
            new_keys
            if state is None
            else state.unionByName(new_keys).localCheckpoint(eager=True)
        )
        n_new = new_keys.agg(F.count(F.lit(1)).alias("n_new_emitted"))
        st_size = state.agg(F.count(F.lit(1)).alias("state_size"))
        direct = (
            eb.where(F.col("bid") <= i)
            .select("k")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_distinct_prefix"))
        )
        n_seen = eb.where(F.col("bid") <= i).agg(
            F.count(F.lit(1)).alias("n_events_seen")
        )
        row = (
            n_seen.crossJoin(n_new)
            .crossJoin(st_size)
            .crossJoin(direct)
            .select(
                F.lit(i).alias("batch_idx"),
                "n_events_seen",
                "n_new_emitted",
                "state_size",
                "n_distinct_prefix",
                (F.col("state_size") == F.col("n_distinct_prefix")).alias(
                    "dedup_ok"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("batch_idx")


def _dedup_stream_parity_sql() -> str:
    """Oracle: each prefix recomputed DIRECTLY — a key's emission batch
    is its MIN bid, the store size is the prefix's distinct-key count.
    dedup_ok is literal TRUE: if the engine's fold re-emits or drops a
    key, its own comparison flag flips false and the hash breaks."""
    rows = " UNION ALL ".join(
        f"""SELECT {k} AS batch_idx,
  (SELECT COUNT(*) FROM eb WHERE bid <= {k}) AS n_events_seen,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM firstb WHERE mb = {k}) AS n_new_emitted,
  (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) FROM eb WHERE bid <= {k}) AS state_size,
  (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) FROM eb WHERE bid <= {k}) AS n_distinct_prefix,
  TRUE AS dedup_ok"""
        for k in range(1, _DEDUP_STREAM_BATCHES + 1)
    )
    return f"""
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS k FROM events
), days AS (
  SELECT day, row_number() OVER (ORDER BY day) AS bid
  FROM (SELECT DISTINCT day FROM e)
), eb AS MATERIALIZED (
  SELECT bid, k FROM e JOIN days USING (day)
  WHERE bid <= {_DEDUP_STREAM_BATCHES}
), firstb AS MATERIALIZED (
  SELECT k, MIN(bid) AS mb FROM eb GROUP BY k
)
{rows}
ORDER BY batch_idx
"""


# ------------------------------------------------------ t_mg_stream_parity

_MG_K = 15
_MG_BATCHES = 3


def t_mg_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitter sketch as SEQUENTIAL state, gated:
    fold 3 deterministic micro-batches of the document token stream
    (batch = doc_id mod 3; r9 trimmed the fold from 4 rounds — the
    parity property is per-emission, and 3 rounds still chain two
    sequential merges) through the k=15-counter summary —
    state_k = mg_reduce(state_{k-1} + counts(batch_k)), where
    mg_reduce subtracts the (k+1)-th largest weight and keeps the
    positive remainder (Misra & Gries 1982; mergeable summaries per
    Agarwal et al. 2013).  k=15 < the 31-token vocabulary, so every
    round REALLY evicts.  Unlike the KMV/HLL folds, MG's fold result
    depends on the batching — so the DuckDB oracle replays the SAME
    unrolled fold step by step and every column must land bit-equal.

    Emitted per batch: state size (<= k), surviving weight mass, the
    subtracted value this step and its running total, the top counter,
    and the audited deterministic-error invariant: the worst
    underestimate across the state (true prefix count - weight) never
    exceeds the subtracted total.  All integer arithmetic.

    Scale: state is <= k counters regardless of stream length; the
    production path (operators/heavyhitters.misra_gries_topk) builds
    per-Arrow-batch partials so no token ever shuffles — this gate
    pins the fold algebra both engines share."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    # ONE pass over the token stream: the per-(batch, token) count
    # frame is |vocab|×4 rows and everything the fold needs (batch
    # counts, prefix counts, n_seen) derives from it — the r9 bench
    # trim that cut this query's 9 full-stream scans to 1 with
    # bit-identical output (same integer counts, same fold).
    pbc = (
        _toks_df(spark, sf_dir)
        .select(
            (F.pmod(F.col("doc_id"), F.lit(_MG_BATCHES)) + 1).alias("bid"),
            F.explode("toks").alias("tok"),
        )
        .groupBy("bid", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
        .localCheckpoint(eager=True)
    )
    state: DataFrame | None = None
    d_cum: DataFrame = spark.range(1).select(F.lit(0).cast("long").alias("d_cum"))
    out: DataFrame | None = None
    for k in range(1, _MG_BATCHES + 1):
        counts = pbc.where(F.col("bid") == k).select("tok", "cf")
        if state is None:
            merged = counts.select("tok", F.col("cf").alias("w"))
        else:
            merged = (
                state.withColumnRenamed("tok", "__stok")
                .join(counts, F.col("__stok") == F.col("tok"), "full_outer")
                .select(
                    F.coalesce(F.col("__stok"), F.col("tok")).alias("tok"),
                    (
                        F.coalesce(F.col("w"), F.lit(0))
                        + F.coalesce(F.col("cf"), F.lit(0))
                    ).alias("w"),
                )
            )
        # (k+1)-th largest via TakeOrdered(k+1) + MIN (0 when fewer
        # rows) — the mg_reduce order-statistic shape, not a full rank
        top = merged.select("w").orderBy(F.col("w").desc()).limit(_MG_K + 1)
        d_df = top.agg(
            F.when(F.count(F.lit(1)) == _MG_K + 1, F.min("w"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("d_step")
        )
        state = (
            merged.crossJoin(F.broadcast(d_df))
            .select("tok", (F.col("w") - F.col("d_step")).alias("w"))
            .where(F.col("w") > 0)
            .localCheckpoint(eager=True)
        )
        d_cum = (
            d_cum.crossJoin(d_df)
            .select((F.col("d_cum") + F.col("d_step")).alias("d_cum"))
            .localCheckpoint(eager=True)
        )
        prefix = (
            pbc.where(F.col("bid") <= k)
            .groupBy("tok")
            .agg(F.sum("cf").cast("long").alias("pcf"))
        )
        s_stats = state.join(prefix, "tok").agg(
            F.count(F.lit(1)).alias("state_size"),
            F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("state_wsum"),
            F.coalesce(F.max(F.col("pcf") - F.col("w")), F.lit(0))
            .cast("long")
            .alias("max_under"),
        )
        top = (
            state.orderBy(F.col("w").desc(), F.col("tok").asc())
            .limit(1)
            .select(F.col("tok").alias("top_tok"), F.col("w").alias("top_w"))
        )
        n_seen = pbc.where(F.col("bid") <= k).agg(
            F.coalesce(F.sum("cf"), F.lit(0).cast("long")).alias(
                "n_toks_seen"
            )
        )
        row = (
            n_seen.crossJoin(s_stats)
            .crossJoin(d_df)
            .crossJoin(d_cum)
            .crossJoin(top)
            .select(
                F.lit(k).alias("batch_idx"),
                "n_toks_seen",
                "state_size",
                "state_wsum",
                "d_step",
                "d_cum",
                "top_tok",
                "top_w",
                "max_under",
                (F.col("max_under") <= F.col("d_cum")).alias("bound_ok"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("batch_idx")


def _mg_stream_parity_sql() -> str:
    """Oracle: the SAME unrolled fold in SQL — per step, a full join
    of the carried state with the batch counts, the (k+1)-th-largest
    subtraction, and the positive remainder; each CTE is materialized
    so the chain evaluates once (the g_kcore lesson)."""
    from kp_crypto_market_analytics_spark.queries_ext import TOKENS_CTE

    kp1 = _MG_K + 1
    ctes = [
        f"""tk AS MATERIALIZED (
  SELECT doc_id % {_MG_BATCHES} + 1 AS bid, tok FROM toks
)"""
    ]
    prev = None
    for k in range(1, _MG_BATCHES + 1):
        cname = f"c{k}"
        ctes.append(
            f"""{cname} AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS w FROM tk WHERE bid = {k} GROUP BY tok
)"""
        )
        if prev is None:
            mname = cname
        else:
            mname = f"m{k}"
            ctes.append(
                f"""{mname} AS MATERIALIZED (
  SELECT coalesce(s.tok, c.tok) AS tok,
    coalesce(s.w, 0) + coalesce(c.w, 0) AS w
  FROM {prev} s FULL JOIN {cname} c ON s.tok = c.tok
)"""
            )
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT CAST(coalesce(max(w), 0) AS BIGINT) AS d FROM (
    SELECT w, row_number() OVER (ORDER BY w DESC) AS rn FROM {mname}
  ) WHERE rn = {kp1}
)"""
        )
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT tok, CAST(w - (SELECT d FROM d{k}) AS BIGINT) AS w
  FROM {mname} WHERE w - (SELECT d FROM d{k}) > 0
)"""
        )
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS pcf FROM tk WHERE bid <= {k} GROUP BY tok
)"""
        )
        prev = f"s{k}"
    d_cum = {
        k: " + ".join(f"(SELECT d FROM d{j})" for j in range(1, k + 1))
        for k in range(1, _MG_BATCHES + 1)
    }
    rows = " UNION ALL ".join(
        f"""SELECT {k} AS batch_idx,
  (SELECT COUNT(*) FROM tk WHERE bid <= {k}) AS n_toks_seen,
  (SELECT COUNT(*) FROM s{k}) AS state_size,
  (SELECT CAST(coalesce(SUM(w), 0) AS BIGINT) FROM s{k}) AS state_wsum,
  (SELECT d FROM d{k}) AS d_step,
  CAST({d_cum[k]} AS BIGINT) AS d_cum,
  (SELECT tok FROM s{k} ORDER BY w DESC, tok LIMIT 1) AS top_tok,
  (SELECT w FROM s{k} ORDER BY w DESC, tok LIMIT 1) AS top_w,
  (SELECT CAST(coalesce(MAX(p.pcf - s.w), 0) AS BIGINT)
     FROM s{k} s JOIN p{k} p USING (tok)) AS max_under,
  (SELECT CAST(coalesce(MAX(p.pcf - s.w), 0) AS BIGINT)
     FROM s{k} s JOIN p{k} p USING (tok)) <= CAST({d_cum[k]} AS BIGINT)
    AS bound_ok"""
        for k in range(1, _MG_BATCHES + 1)
    )
    joined = ",\n".join(ctes)
    return f"""
WITH {TOKENS_CTE},
{joined}
{rows}
ORDER BY batch_idx
"""


# ------------------------------------------------------ mm_audio_windows

def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality framing end-to-end: the 'audio' document slice
    through operators/multimodal.py:window_audio — each payload
    expands to its overlapping 1024-sample / 512-hop analysis windows
    (the STFT schedule a speech pipeline feeds its featurizer), with
    hash-derived sample rate and duration.  All gated columns are
    integers, so the oracle replays the exact window schedule in SQL
    and the Arrow 1→many re-batching path is what gets gated —
    completing the modality triple (image resize / video frames /
    audio windows)."""
    from kp_crypto_market_analytics_spark.operators.multimodal import window_audio

    t = load_tables(spark, sf_dir, ["documents"])
    # Fan the Python stage to the mm-family's shared 8-way width (r11,
    # guide §4.2): the single-file scan otherwise runs the whole
    # mapInPandas stage as ONE task on one worker; 8 matches
    # mm_scene_cut/mm_decode_stats so the pool spawned once serves the
    # whole family, and ensure_parallelism only ever raises the count.
    media = (
        ensure_parallelism(t["documents"], min_partitions=8)
        .where(F.col("doc_id") % 3 == 1)  # the 'audio' slice
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.repeat(F.md5("text"), 5), "UTF-8").alias("payload"),
        )
    )
    return (
        window_audio(media, fake=True)
        .select("media_id", "sr", "frame_idx", "start_sample", "t_start_ms")
        .orderBy("media_id", "frame_idx")
    )


def _mm_audio_sql() -> str:
    # Same 8×8 chained hash fold as the other mm oracles (a 64-deep
    # expression exceeds DuckDB's binder recursion cap).  The frame
    # series bound derives PER ROW from n_samples (scalar
    # generate_series form), matching the decoder's while-loop exactly.
    stages = []
    prev = "p0"
    for s in range(8):
        h = "0" if s == 0 else "h"
        for i in range(s * 8 + 1, s * 8 + 9):
            h = f"(({h}) * 131 + ascii(substr(p, {i}, 1))) % 2147483648"
        stages.append(f"h{s} AS (SELECT media_id, p, {h} AS h FROM {prev})")
        prev = f"h{s}"
    chain = ",\n".join(stages)
    return f"""
WITH p0 AS (
  SELECT doc_id AS media_id, repeat(md5(text), 5) AS p
  FROM documents WHERE doc_id % 3 = 1
), {chain}, a AS (
  SELECT media_id,
    CASE CAST(h % 3 AS INTEGER) WHEN 0 THEN 8000 WHEN 1 THEN 16000
         ELSE 44100 END AS sr,
    2048 + h % 100000 AS n_samples
  FROM h7
)
SELECT media_id, CAST(sr AS INTEGER) AS sr, CAST(i AS INTEGER) AS frame_idx,
  CAST(i * 512 AS BIGINT) AS start_sample,
  CAST((i * 512 * 1000) // sr AS BIGINT) AS t_start_ms
FROM (
  SELECT media_id, sr,
    unnest(generate_series(0, (n_samples - 1024) // 512)) AS i
  FROM a
)
ORDER BY media_id, frame_idx
"""


# --------------------------------------------------------- a_lorenz_gini

def a_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the inequality audit
    behind every concentration decision (the continuous companion to
    ``q_abc_pareto``'s three classes).  One row: n_customers,
    total_rev, gini = (2·Σ i·rᵢ − (n+1)·Σrᵢ) / (n·Σrᵢ) over revenues
    sorted ascending (rank-weighted Lorenz form, public).

    Exact: revenues and the rank-weighted sum fold through decimals
    (rank·revenue is DECIMAL × BIGINT, exact); gini is ONE double
    division of exact quantities, rounded 6.  Plan: facts collapse to
    |customers| aggregates first; the rank window sorts aggregates
    only (range-partition the sort at |users| scale — the
    q_rank_movers note applies)."""
    t = load_tables(spark, sf_dir, ["orders"])
    rev = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("r"))
    )
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    # |customers| grows with data: the ascending-revenue rank is
    # range-partitioned (local row_number + broadcast offsets), not a
    # single-partition window over the whole aggregate frame.
    ranked = range_partitioned_rank(
        rev, [F.col("r").asc(), F.col("o_custkey").asc()], out_col="__i"
    ).select("r", F.col("__i").cast("long").alias("i"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("r").cast("double"), 2).alias("total_rev"),
        F.round(
            (
                F.lit(2.0) * F.sum((F.col("r") * F.col("i")).cast("decimal(28,6)")).cast("double")
                - (F.count(F.lit(1)) + 1).cast("double") * F.sum("r").cast("double")
            )
            / (
                F.count(F.lit(1)).cast("double") * F.sum("r").cast("double")
            ),
            6,
        ).alias("gini"),
    )


def _a_lorenz_gini_sql() -> str:
    return """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS r
  FROM orders GROUP BY 1
), ranked AS (
  SELECT r,
    CAST(row_number() OVER (ORDER BY r ASC, o_custkey ASC) AS BIGINT) AS i
  FROM rev
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
  round(CAST(SUM(r) AS DOUBLE), 2) AS total_rev,
  round((2.0 * CAST(SUM(CAST(r * i AS DECIMAL(28,6))) AS DOUBLE)
         - CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(r) AS DOUBLE))
        / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(r) AS DOUBLE)), 6) AS gini
FROM ranked
"""


# --------------------------------------------------- e_matryoshka_prefix

_MRL_PREFIXES = (16, 32)


def e_matryoshka_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-prefix audit (Kusupati et al. 2022, public): how well
    do the first 16 / 32 dimensions of the 64-d embedding preserve
    pairwise cosine similarity?  One row per prefix length —
    (prefix_dim, n_pairs, mean_abs_dev, max_abs_dev vs the full-64
    cosine) over the deterministic vector sample — the measurement a
    pipeline runs before serving truncated embeddings for cheap
    first-stage retrieval.

    Same exactness recipe as e_jl_projection: per-dimension products
    fold through DECIMAL(28,12) (order-independent), cosines are
    identical double expressions of those exact sums, deviations are
    rounded with the scale-12 mean (e_covariance recipe).  The sample
    is filtered BEFORE the explode, so the pair stage is |sample|²
    skinny rows."""
    from kp_crypto_market_analytics_spark.functions.vectors import to_double_array

    t = load_tables(spark, sf_dir, ["embeddings"])
    s = (
        t["embeddings"]
        .where(F.col("vec_id") % _JL_SAMPLE_MOD == 0)
        .select("vec_id", to_double_array("embedding").alias("x"))
    )
    dims = s.select(
        "vec_id", F.posexplode("x").alias("i0", "xv")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "xv")
    pairs = (
        dims.alias("a")
        .join(
            dims.alias("b"),
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("u"),
            F.col("b.vec_id").alias("v"),
            F.col("a.i").alias("i"),
            (F.col("a.xv") * F.col("b.xv")).cast("decimal(28,12)").alias("dp"),
            (F.col("a.xv") * F.col("a.xv")).cast("decimal(28,12)").alias("na"),
            (F.col("b.xv") * F.col("b.xv")).cast("decimal(28,12)").alias("nb"),
        )
    )

    def cos_upto(limit: int, name: str):
        inside = F.when(F.col("i") <= limit, F.col("dp")).otherwise(
            F.lit(0).cast("decimal(28,12)")
        )
        ia = F.when(F.col("i") <= limit, F.col("na")).otherwise(
            F.lit(0).cast("decimal(28,12)")
        )
        ib = F.when(F.col("i") <= limit, F.col("nb")).otherwise(
            F.lit(0).cast("decimal(28,12)")
        )
        return (
            F.sum(inside).cast("double")
            / F.sqrt(F.sum(ia).cast("double") * F.sum(ib).cast("double"))
        ).alias(name)

    per_pair = pairs.groupBy("u", "v").agg(
        cos_upto(64, "c64"), cos_upto(16, "c16"), cos_upto(32, "c32")
    )
    rows = []
    for p in _MRL_PREFIXES:
        dev = F.abs(F.col(f"c{p}") - F.col("c64"))
        rows.append(
            per_pair.agg(
                F.lit(p).alias("prefix_dim"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(
                    F.sum(dev.cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("mean_abs_dev"),
                F.round(F.max(dev), 6).alias("max_abs_dev"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("prefix_dim")


def _e_matryoshka_sql() -> str:
    def cos(limit: int) -> str:
        return (
            f"CAST(SUM(CASE WHEN i <= {limit} THEN dp ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE)"
            f" / sqrt(CAST(SUM(CASE WHEN i <= {limit} THEN na ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE)"
            f" * CAST(SUM(CASE WHEN i <= {limit} THEN nb ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE))"
        )

    stats = "\nUNION ALL\n".join(
        f"""SELECT {p} AS prefix_dim, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  round(CAST(SUM(CAST(abs(c{p} - c64) AS DECIMAL(28,12))) AS DOUBLE)
        / COUNT(*), 6) AS mean_abs_dev,
  round(MAX(abs(c{p} - c64)), 6) AS max_abs_dev
FROM per_pair"""
        for p in _MRL_PREFIXES
    )
    return f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
  FROM embeddings WHERE vec_id % {_JL_SAMPLE_MOD} = 0
), idx AS (
  SELECT vec_id, x, unnest(generate_series(1, {_EMB_D})) AS i FROM s
), dimv AS (
  SELECT vec_id, i, x[i] AS xv FROM idx
), pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v, a.i,
    CAST(a.xv * b.xv AS DECIMAL(28,12)) AS dp,
    CAST(a.xv * a.xv AS DECIMAL(28,12)) AS na,
    CAST(b.xv * b.xv AS DECIMAL(28,12)) AS nb
  FROM dimv a JOIN dimv b ON a.i = b.i AND a.vec_id < b.vec_id
), per_pair AS MATERIALIZED (
  SELECT u, v,
    {cos(64)} AS c64,
    {cos(16)} AS c16,
    {cos(32)} AS c32
  FROM pairs GROUP BY u, v
)
SELECT * FROM ({stats}) ORDER BY prefix_dim
"""


# --------------------------------------------- w_seasonal_naive_forecast

def w_seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's mean value
    with the value 24 hours earlier, score per event type — (n_scored,
    mae, rmse, mape_pct) — the baseline every forecasting pipeline must
    beat, evaluated in-engine (Hyndman & Athanasopoulos' naive-2,
    public).

    Exactness: hourly means are micro-rounded; errors are differences
    of those 6-dp values folded through DECIMAL(28,12) for the MAE /
    MSE sums; RMSE's sqrt and MAPE's ratio are identical double ops of
    exact sums, rounded 6.  Plan: facts collapse to the (type, hour)
    grain first; the seasonal lookup is an equi-join on (type, hb−24)
    over that tiny grain (gap-proof, unlike a 24-row lag); scoring is
    a |types|-row aggregate."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )

    t = load_tables(spark, sf_dir, ["events"])
    b = F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("long")
    hourly = (
        t["events"]
        .where(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), b.alias("hb"))
        .agg(
            round_mean_micro(
                F.sum(F.col("value").cast("decimal(18,6)")), F.count("value")
            ).alias("v")
        )
    )
    # Seasonal lookup by JOIN on (type, hb−24), not a 24-ROW lag — a
    # row lag silently misaligns on gappy series (sparse SFs have
    # missing hours); the equi-join is gap-proof and co-partitions
    # with the bucket agg.
    hourly = hourly.localCheckpoint(eager=True)  # probe + build sides
    pred = hourly.select(
        "event_type", (F.col("hb") + 24).alias("hb"), F.col("v").alias("pred")
    )
    scored = (
        hourly.join(pred, ["event_type", "hb"])
        .where(F.col("v") != 0)
        .select(
            "event_type",
            (F.col("v") - F.col("pred")).alias("err"),
            (F.abs(F.col("v") - F.col("pred")) / F.abs(F.col("v"))).alias("ape"),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.round(
                F.sum(F.abs(F.col("err")).cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mae"),
            F.round(
                F.sqrt(
                    F.sum((F.col("err") * F.col("err")).cast("decimal(28,12)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("rmse"),
            F.round(
                F.lit(100.0)
                * F.sum(F.col("ape").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mape_pct"),
        )
        .orderBy("event_type")
    )


def _w_seasonal_naive_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    vmean = sql_round_mean_micro(
        "SUM(CAST(value AS DECIMAL(18,6)))", "COUNT(value)"
    )
    return f"""
WITH hourly AS MATERIALIZED (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb,
    {vmean} AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), scored AS (
  SELECT c.event_type, c.v - p.v AS err, abs(c.v - p.v) / abs(c.v) AS ape
  FROM hourly c JOIN hourly p
    ON p.event_type = c.event_type AND p.hb = c.hb - 24
  WHERE c.v <> 0
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
  round(CAST(SUM(CAST(abs(err) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
    AS mae,
  round(sqrt(CAST(SUM(CAST(err * err AS DECIMAL(28,12))) AS DOUBLE)
             / COUNT(*)), 6) AS rmse,
  round(100.0 * CAST(SUM(CAST(ape AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
    AS mape_pct
FROM scored GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------------ e_embedding_drift

def e_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift audit between the two deterministic corpus
    halves (even vs odd vec_id): centroid cosine, centroid L2 shift,
    and mean-norm ratio — the modality-side companion to
    ``dq_drift_psi`` (a retrained encoder or a poisoned batch moves the
    centroid long before downstream metrics notice).

    Exactness: per-dimension means come from DECIMAL(27,12) sums over
    a posexplode (e_covariance recipe — nothing row-shaped shuffles);
    the three comparisons are identical double expressions of those 64
    exact means, rounded 6.  One scan, dimension-sized exchanges."""
    from kp_crypto_market_analytics_spark.functions.vectors import to_double_array

    t = load_tables(spark, sf_dir, ["embeddings"])
    dims = (
        t["embeddings"]
        .select(
            (F.col("vec_id") % 2 == 0).alias("is_a"),
            F.posexplode(to_double_array("embedding")).alias("i", "xv"),
        )
        .groupBy("is_a", "i")
        .agg(
            (
                F.sum(F.col("xv").cast("decimal(27,12)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("m"),
            (
                F.sum((F.col("xv") * F.col("xv")).cast("decimal(27,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("m2"),
        )
    )
    a = dims.where("is_a").select("i", F.col("m").alias("ma"), F.col("m2").alias("m2a"))
    bb = dims.where("NOT is_a").select(
        "i", F.col("m").alias("mb"), F.col("m2").alias("m2b")
    )
    j = a.join(bb, "i").select(
        (F.col("ma") * F.col("mb")).cast("decimal(28,12)").alias("dot"),
        (F.col("ma") * F.col("ma")).cast("decimal(28,12)").alias("na"),
        (F.col("mb") * F.col("mb")).cast("decimal(28,12)").alias("nb"),
        ((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))
        .cast("decimal(28,12)")
        .alias("d2"),
        F.col("m2a").cast("decimal(28,12)").alias("sm2a"),
        F.col("m2b").cast("decimal(28,12)").alias("sm2b"),
    )
    return j.agg(
        F.round(
            F.sum("dot").cast("double")
            / F.sqrt(F.sum("na").cast("double") * F.sum("nb").cast("double")),
            6,
        ).alias("centroid_cos"),
        F.round(F.sqrt(F.sum("d2").cast("double")), 6).alias("centroid_l2"),
        F.round(
            F.sqrt(F.sum("sm2a").cast("double") / F.sum("sm2b").cast("double")), 6
        ).alias("energy_ratio"),
    )


def _e_embedding_drift_sql() -> str:
    return f"""
WITH e AS (
  SELECT (vec_id % 2 = 0) AS is_a, CAST(embedding AS DOUBLE[]) AS x
  FROM embeddings
), idx AS (
  SELECT is_a, x, unnest(generate_series(1, {_EMB_D})) AS i FROM e
), dims AS MATERIALIZED (
  SELECT is_a, i,
    CAST(SUM(CAST(x[i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m,
    CAST(SUM(CAST(x[i] * x[i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m2
  FROM idx GROUP BY 1, 2
), j AS (
  SELECT CAST(a.m * b.m AS DECIMAL(28,12)) AS dot,
    CAST(a.m * a.m AS DECIMAL(28,12)) AS na,
    CAST(b.m * b.m AS DECIMAL(28,12)) AS nb,
    CAST((a.m - b.m) * (a.m - b.m) AS DECIMAL(28,12)) AS d2,
    CAST(a.m2 AS DECIMAL(28,12)) AS sm2a,
    CAST(b.m2 AS DECIMAL(28,12)) AS sm2b
  FROM dims a JOIN dims b ON a.i = b.i AND a.is_a AND NOT b.is_a
)
SELECT
  round(CAST(SUM(dot) AS DOUBLE)
        / sqrt(CAST(SUM(na) AS DOUBLE) * CAST(SUM(nb) AS DOUBLE)), 6)
    AS centroid_cos,
  round(sqrt(CAST(SUM(d2) AS DOUBLE)), 6) AS centroid_l2,
  round(sqrt(CAST(SUM(sm2a) AS DOUBLE) / CAST(SUM(sm2b) AS DOUBLE)), 6)
    AS energy_ratio
FROM j
"""


# ------------------------------------------------ e_label_centroid_audit


def e_label_centroid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-embedding quality audit: per-label centroids, then for
    every vector the exact squared-L2 distance to ALL label centroids —
    reporting per label the nearest-centroid assignment accuracy and
    the mean margin (runner-up distance − best distance).  This is the
    first gate a dataset curator runs on an embedding table that
    carries class labels: collapsed margins / low accuracy mean the
    encoder (or the labels) can't support training downstream.

    Scale shape (the IVF assignment shape, operators/similarity.py):
    centroids are |labels|×64 DECIMAL partials with map-side combine;
    the 640-row centroid table broadcasts; scoring fans each dimension
    row against the broadcast and partial-agg absorbs the fan-out, so
    the only shuffle is |vectors|×|labels| skinny (vec_id, label, d2)
    rows — vectors themselves never shuffle.  The argmin window
    partitions on vec_id (never global).

    Exactness: centroid means and d2 both fold through DECIMAL(27,12)
    (order-independent; identical per-term doubles on both engines),
    the argmin tie-breaks on label, accuracy is integer-exact ppm, and
    the mean margin divides in exact int64 (round_mean_micro)."""
    from kp_crypto_market_analytics_spark.functions.vectors import to_double_array
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )
    from kp_crypto_market_analytics_spark.session import ensure_parallelism

    t = load_tables(spark, sf_dir, ["embeddings"])
    x = ensure_parallelism(t["embeddings"]).select(
        "vec_id",
        "label",
        F.posexplode(to_double_array("embedding")).alias("i", "xv"),
    )
    cent = x.groupBy(F.col("label").alias("c_label"), "i").agg(
        (
            F.sum(F.col("xv").cast("decimal(27,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    d = (
        x.join(F.broadcast(cent), "i")
        .select(
            "vec_id",
            "label",
            "c_label",
            ((F.col("xv") - F.col("m")) * (F.col("xv") - F.col("m")))
            .cast("decimal(27,12)")
            .alias("t2"),
        )
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum("t2").alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("c_label").asc())
    ranked = d.select(
        "vec_id", "label", "c_label", "d2", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= 2)
    # One conditional aggregate instead of a best×second self-join: the
    # window subtree is evaluated once, not twice.
    pv = (
        ranked.groupBy("vec_id", "label")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("c_label"))).alias("pred"),
            F.max(F.when(F.col("rk") == 1, F.col("d2"))).alias("d2_best"),
            F.max(F.when(F.col("rk") == 2, F.col("d2"))).alias("d2_second"),
        )
        .select(
            "label",
            (F.col("pred") == F.col("label")).alias("ok"),
            F.round(F.col("d2_second") - F.col("d2_best"), 6)
            .cast("decimal(18,6)")
            .alias("margin6"),
        )
    )
    n = F.count(F.lit(1))
    n_correct = F.sum(F.when(F.col("ok"), 1).otherwise(0))
    return (
        pv.groupBy("label")
        .agg(
            n.alias("n_vecs"),
            n_correct.cast("long").alias("n_correct"),
            F.call_function(
                "div", F.lit(1000000) * n_correct.cast("long"), n
            ).alias("acc_ppm"),
            round_mean_micro(F.sum("margin6"), n).alias("mean_margin"),
        )
        .orderBy("label")
    )


def _e_label_centroid_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), idx AS MATERIALIZED (
  SELECT vec_id, label, x, unnest(generate_series(1, {_EMB_D})) AS i FROM e
), cent AS MATERIALIZED (
  SELECT label AS c_label, i,
    CAST(SUM(CAST(x[i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m
  FROM idx GROUP BY 1, 2
), d AS MATERIALIZED (
  SELECT vec_id, label, c_label,
    SUM(CAST((x[i] - m) * (x[i] - m) AS DECIMAL(27,12))) AS d2
  FROM idx JOIN cent USING (i)
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT vec_id, label, c_label, d2,
    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
  FROM d
), pv AS (
  -- LEFT JOIN: a vector with no runner-up centroid (degenerate
  -- single-label input) keeps a NULL margin but still counts in
  -- n_vecs — matching the Spark side's conditional-agg pivot, which
  -- never drops rk=2-less vectors.
  SELECT b.label, b.c_label = b.label AS ok,
    CAST(round(s.d2 - b.d2, 6) AS DECIMAL(18,6)) AS margin6
  FROM (SELECT * FROM ranked WHERE rk = 1) b
  LEFT JOIN (SELECT vec_id, d2 FROM ranked WHERE rk = 2) s USING (vec_id)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(COUNT(*) FILTER (ok) AS BIGINT) AS n_correct,
  (1000000 * CAST(COUNT(*) FILTER (ok) AS BIGINT)) // COUNT(*) AS acc_ppm,
  {sql_round_mean_micro('SUM(margin6)', 'COUNT(*)')} AS mean_margin
FROM pv GROUP BY label ORDER BY label
"""


# --------------------------------------------------- e_fisher_separation


def e_fisher_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension Fisher separation of the labeled embeddings: for
    each of the 64 dimensions, between-class scatter over within-class
    scatter — Σ_l n_l·(m_{l,i} − m_i)² / Σ_l n_l·v_{l,i} (the
    per-feature Fisher criterion, Fisher 1936 / standard LDA texts,
    public) — reported for the top-10 most discriminative dimensions.
    The feature-audit companion to ``e_label_centroid_audit``: the
    centroid audit says whether labels are separable at all; this says
    WHICH dimensions carry the signal (and whether a Matryoshka-style
    prefix would keep them).  Beyond-reference scope: the reference's
    analytics stop at market tables (SURVEY §2); this extends the
    LLM-data-pipeline embedding family.

    Scale shape: one scan; the posexplode is absorbed by a map-side-
    combined (label, dim) aggregate, so the only shuffle is
    |labels|×64 skinny moment rows; everything after runs on that
    640-row frame.

    Exactness: per-(label, dim) moments fold through DECIMAL(27,12)
    (order-independent); means, variances, and the Fisher ratio are
    identical double expressions of those exact moments on both
    engines, rounded 6; top-10 tie-breaks on the dimension index."""
    from kp_crypto_market_analytics_spark.functions.vectors import to_double_array
    from kp_crypto_market_analytics_spark.session import ensure_parallelism

    t = load_tables(spark, sf_dir, ["embeddings"])
    x = ensure_parallelism(t["embeddings"]).select(
        "label", F.posexplode(to_double_array("embedding")).alias("i", "xv")
    )
    lm = x.groupBy("label", "i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xv").cast("decimal(27,12)")).alias("s"),
        F.sum((F.col("xv") * F.col("xv")).cast("decimal(27,12)")).alias("s2"),
    )
    # Global per-dim mean from the TOTAL sums (never a mean of means —
    # label sizes differ).
    g = lm.groupBy("i").agg(
        (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("gm")
    )
    terms = lm.join(g, "i").select(
        "i",
        "n",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("m"),
        (
            F.col("s2").cast("double") / F.col("n").cast("double")
        ).alias("m2"),
        "gm",
    )
    per_dim = (
        terms.select(
            "i",
            (
                F.col("n").cast("double")
                * (F.col("m") - F.col("gm"))
                * (F.col("m") - F.col("gm"))
            )
            .cast("decimal(28,12)")
            .alias("bt"),
            (
                F.col("n").cast("double")
                * (F.col("m2") - F.col("m") * F.col("m"))
            )
            .cast("decimal(28,12)")
            .alias("wt"),
        )
        .groupBy("i")
        .agg(F.sum("bt").alias("sb"), F.sum("wt").alias("sw"))
        .select(
            F.col("i").alias("dim"),
            F.round(F.col("sb").cast("double"), 6).alias("between_scatter"),
            F.round(F.col("sw").cast("double"), 6).alias("within_scatter"),
            F.round(
                F.col("sb").cast("double") / F.col("sw").cast("double"), 6
            ).alias("fisher_score"),
        )
    )
    return per_dim.orderBy(
        F.col("fisher_score").desc(), F.col("dim").asc()
    ).limit(10)


def _e_fisher_sql() -> str:
    return f"""
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), idx AS (
  SELECT label, x, unnest(generate_series(1, {_EMB_D})) AS i FROM e
), lm AS MATERIALIZED (
  SELECT label, i, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(x[i] AS DECIMAL(27,12))) AS s,
    SUM(CAST(x[i] * x[i] AS DECIMAL(27,12))) AS s2
  FROM idx GROUP BY 1, 2
), g AS (
  SELECT i, CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS gm
  FROM lm GROUP BY 1
), terms AS (
  SELECT lm.i, n,
    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
    gm
  FROM lm JOIN g ON g.i = lm.i
), per_dim AS (
  -- i is the 1-based DuckDB list index; the Spark side's posexplode
  -- position is 0-based, so the OUTPUT dim is i - 1.
  SELECT i - 1 AS dim,
    SUM(CAST(CAST(n AS DOUBLE) * (m - gm) * (m - gm) AS DECIMAL(28,12))) AS sb,
    SUM(CAST(CAST(n AS DOUBLE) * (m2 - m * m) AS DECIMAL(28,12))) AS sw
  FROM terms GROUP BY 1
)
SELECT dim, round(CAST(sb AS DOUBLE), 6) AS between_scatter,
  round(CAST(sw AS DOUBLE), 6) AS within_scatter,
  round(CAST(sb AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS fisher_score
FROM per_dim
ORDER BY fisher_score DESC, dim LIMIT 10
"""


_K_ANON_KS = (2, 5, 10, 20)


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-
    identifier (c_nationkey, c_mktsegment) — the privacy-risk check a
    training-data pipeline runs before releasing joined user data
    (Sweeney 2002: a row is k-anonymous iff at least k rows share its
    quasi-identifier combination).  One row per k in (2, 5, 10, 20):

    - n_groups / groups_below_k — QI-combination census;
    - rows_below_k — individuals re-identifiable at that k (their QI
      group is smaller than k);
    - risk_ppm — rows_below_k as integer ppm of the table (exact DIV,
      no float boundary);
    - min_group_size — the table's realized anonymity level (the
      largest k the table satisfies everywhere).

    Scale: the QI group table aggregates FIRST (one shuffle on the QI
    key, map-side combined), and the k-expansion cross-joins the tiny
    k list against that skinny group table — the base table is scanned
    once regardless of how many k thresholds are audited."""
    t = load_tables(spark, sf_dir, ["customer"])
    g = t["customer"].groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    ks = spark.createDataFrame([(k,) for k in _K_ANON_KS], "k int")
    return (
        g.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("groups_below_k"),
            F.sum(F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("rows_below_k"),
            F.min("n").alias("min_group_size"),
        )
        .withColumn("risk_ppm", F.expr("rows_below_k * 1000000 DIV n_rows"))
        .select(
            "k", "n_rows", "n_groups", "groups_below_k", "rows_below_k",
            "risk_ppm", "min_group_size",
        )
        .orderBy("k")
    )


def _dq_k_anonymity_sql() -> str:
    ks = ", ".join(str(k) for k in _K_ANON_KS)
    return f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n
  FROM customer GROUP BY 1, 2
), ks AS (SELECT unnest([{ks}]) AS k)
SELECT ks.k,
  CAST(SUM(g.n) AS BIGINT) AS n_rows,
  count(*) AS n_groups,
  CAST(SUM(CASE WHEN g.n < ks.k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
  CAST(SUM(CASE WHEN g.n < ks.k THEN g.n ELSE 0 END) AS BIGINT) AS rows_below_k,
  CAST(SUM(CASE WHEN g.n < ks.k THEN g.n ELSE 0 END) * 1000000 AS BIGINT)
    // CAST(SUM(g.n) AS BIGINT) AS risk_ppm,
  MIN(g.n) AS min_group_size
FROM ks CROSS JOIN g
GROUP BY ks.k
ORDER BY ks.k
"""


# ------------------------------------------------------ dq_dataset_checksum

# (table, canonical column expressions) — every value is rendered to a
# type-stable text form first: ints as-is, 2-dp doubles via
# DECIMAL(18,2) (both engines print '23.00'), timestamps as epoch-µs.
_CHECKSUM_TABLES: dict[str, list[str]] = {
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "CAST(CAST(l_quantity AS DECIMAL(18,2)) AS STRING)",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS STRING)",
        "CAST(CAST(l_discount AS DECIMAL(18,2)) AS STRING)",
        "CAST(CAST(l_tax AS DECIMAL(18,2)) AS STRING)",
        "l_returnflag", "l_linestatus", "unix_micros(l_shipdate)",
    ],
    "orders": [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)",
        "unix_micros(o_orderdate)", "o_orderpriority",
    ],
    "events": [
        "event_id", "unix_micros(ts)", "user_id", "event_type",
        "CAST(CAST(value AS DECIMAL(18,2)) AS STRING)", "props",
    ],
}

_MERSENNE61 = (1 << 61) - 1


def _checksum_canon(c: str) -> Column:
    """Canonical text form of one checksum column: explicit NULL
    sentinel plus delimiter escaping — the two collision classes of
    the same bug family.  concat_ws SKIPS nulls, so without the
    sentinel ('a', NULL, 'b') and ('a', 'b', NULL) would render (and
    hash) identically; and a free-text value containing '|' (or a
    literal '\\N') would render identically to a DIFFERENT row unless
    '\\' → '\\\\' and '|' → '\\|' are escaped per column BEFORE the
    join (an escaped value always carries a doubled backslash where
    the sentinel has a single one, so it can never equal '\\N')."""
    esc = F.replace(
        F.replace(F.expr(c).cast("string"), F.lit("\\"), F.lit("\\\\")),
        F.lit("|"),
        F.lit("\\|"),
    )
    return F.coalesce(esc, F.lit("\\N"))


def dq_dataset_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive dataset fingerprint per table — the
    copy/migration validator a 100 TB pipeline runs after every bulk
    move: if source and destination disagree on (n_rows, xor_sig,
    sum_sig) the copy is wrong, with no sort and no row-by-row diff.

    Each row renders to a canonical '|'-joined text form (ints as-is,
    money via DECIMAL(18,2) so both engines print '23.00', timestamps
    as epoch-µs), hashes to the portable 60-bit md5 hash64, and folds
    two ways: BIT_XOR (order-insensitive, O(1) state) and SUM mod
    2⁶¹−1 (DECIMAL(38,0) partial so 10¹² rows cannot overflow).  The
    two folds cover each other's blind spots: xor cancels on
    even-multiplicity duplicates, the modular sum does not.

    Scale shape: pure map-side partial aggregation — the exchange
    carries ONE (xor, sum, count) triple per partition per table;
    row text never shuffles."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, list(_CHECKSUM_TABLES))
    outs = []
    for name, cols in _CHECKSUM_TABLES.items():
        row_txt = F.concat_ws("|", *[_checksum_canon(c) for c in cols])
        h = hash64(row_txt)
        outs.append(
            t[name]
            .select(h.alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("bit_xor(h)").alias("xor_sig"),
                F.expr(
                    f"CAST(SUM(CAST(h AS DECIMAL(38,0))) % {_MERSENNE61} AS BIGINT)"
                ).alias("sum_sig"),
            )
            .select(
                F.lit(name).alias("table_name"), "n_rows", "xor_sig", "sum_sig"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name")


def _dq_dataset_checksum_sql() -> str:
    parts = []
    for name, cols in _CHECKSUM_TABLES.items():
        rendered = ", ".join(
            "coalesce(replace(replace(CAST("
            + c.replace("unix_micros(", "epoch_us(").replace(" AS STRING", " AS VARCHAR")
            + " AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N')"
            for c in cols
        )
        h = (
            "CAST(CAST('0x' || substr(md5(concat_ws('|', "
            + rendered
            + ")), 1, 15) AS BIGINT) AS BIGINT)"
        )
        parts.append(
            f"SELECT '{name}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(bit_xor(h) AS BIGINT) AS xor_sig,"
            f" CAST(SUM(CAST(h AS HUGEINT)) % {_MERSENNE61} AS BIGINT) AS sum_sig"
            f" FROM (SELECT {h} AS h FROM {name})"
        )
    return " UNION ALL ".join(parts) + " ORDER BY table_name"


# ------------------------------------------------------ dq_join_cardinality


def dq_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-blowup pre-flight: the exact output cardinality of the
    events⋈events self-join on user_id, computed WITHOUT running the
    join — Σₖ n(k)² over per-key counts.  The planner-style probe a
    100 TB pipeline runs before any pair-generating stage (similarity
    self-joins, co-occurrence mining): a skewed key turns 'big' into
    'never finishes', and this query names the keys.  Reports the
    total plus the 5 heaviest users with their share in ppm (exact
    integer half-away division).

    Scale shape: one per-key count agg (map-side combined), a 5-row
    top-k, and a 1-row total — the probe costs one scan of the key
    column regardless of how catastrophic the join it predicts would
    be.  The DuckDB oracle computes the identical arithmetic, so the
    gate proves the estimator against itself, not against an executed
    blowup."""
    t = load_tables(spark, sf_dir, ["events"])
    per_key = (
        t["events"]
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("pairs", F.col("n_events") * F.col("n_events"))
    )
    tot = per_key.agg(
        F.sum("n_events").alias("tot_events"), F.sum("pairs").alias("tot_pairs")
    )
    # distributed top-k (TakeOrdered), THEN rank the 5 survivors — a
    # global row_number window here would single-partition |keys| rows
    top5 = per_key.orderBy(F.col("pairs").desc(), F.col("user_id").asc()).limit(5)
    w = Window.orderBy(F.col("pairs").desc(), F.col("user_id").asc())
    top = top5.withColumn("rnk", F.row_number().over(w)).crossJoin(
        F.broadcast(tot)
    )
    share_ppm = F.call_function(
        "div",
        F.lit(2) * F.col("pairs") * F.lit(1_000_000) + F.col("tot_pairs"),
        F.lit(2) * F.col("tot_pairs"),
    )
    top_rows = top.select(
        F.lit("key").alias("scope"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("pairs").cast("long").alias("pairs"),
        share_ppm.cast("long").alias("share_ppm"),
        F.col("rnk").cast("long").alias("rnk"),
    )
    total_row = tot.select(
        F.lit("total").alias("scope"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("tot_events").cast("long").alias("n_events"),
        F.col("tot_pairs").cast("long").alias("pairs"),
        F.lit(1_000_000).cast("long").alias("share_ppm"),
        F.lit(0).cast("long").alias("rnk"),
    )
    return total_row.unionByName(top_rows).orderBy("rnk")


_DQ_JOIN_CARD_SQL = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n_events,
    COUNT(*) * COUNT(*) AS pairs
  FROM events GROUP BY user_id
), tot AS (
  SELECT SUM(n_events) AS tot_events, SUM(pairs) AS tot_pairs FROM per_key
), top AS (
  SELECT user_id, n_events, pairs,
    row_number() OVER (ORDER BY pairs DESC, user_id) AS rnk
  FROM per_key
)
SELECT 'total' AS scope, CAST(NULL AS BIGINT) AS user_id,
  CAST(tot_events AS BIGINT) AS n_events, CAST(tot_pairs AS BIGINT) AS pairs,
  CAST(1000000 AS BIGINT) AS share_ppm, CAST(0 AS BIGINT) AS rnk
FROM tot
UNION ALL
SELECT 'key', CAST(user_id AS BIGINT), CAST(n_events AS BIGINT),
  CAST(pairs AS BIGINT),
  CAST((2 * pairs * 1000000 + tot_pairs) // (2 * tot_pairs) AS BIGINT),
  CAST(rnk AS BIGINT)
FROM top CROSS JOIN tot WHERE rnk <= 5
ORDER BY rnk
"""


# ------------------------------------------------------ dq_fk_discovery

# (child_table, child_col, parent_table, parent_col) — the candidate
# inclusion dependencies the profiler checks.  The events→customer
# pair is a deliberate near-miss: user_ids are NOT all customers.
_FK_CANDIDATES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
]


def dq_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) discovery over a candidate
    list: for each (child.col → parent.col) pair, how many distinct
    child values exist, how many land in the parent, the containment
    ratio in ppm, and whether the pair is a clean FK — the schema
    profiler every warehouse migration runs before trusting joins
    (Bauckmann et al.'s SPIDER problem, public; here over a fixed
    candidate set rather than all column pairs).

    Scale shape: per pair, one distinct-collapse of the child KEY
    column (map-side partial), a LEFT SEMI join against the parent's
    distinct keys (broadcast when small), and a 1-row count — payload
    columns never read, never shuffled.  containment_ppm is the exact
    half-away integer division; is_fk is containment == 10⁶."""
    tables = sorted(
        {c for c, _, _, _ in _FK_CANDIDATES} | {p for _, _, p, _ in _FK_CANDIDATES}
    )
    t = load_tables(spark, sf_dir, tables)
    outs = []
    for child, ccol, parent, pcol in _FK_CANDIDATES:
        ckeys = t[child].select(F.col(ccol).alias("k")).where(F.col("k").isNotNull()).distinct()
        pkeys = t[parent].select(F.col(pcol).alias("k")).where(F.col("k").isNotNull()).distinct()
        n_child = ckeys.agg(F.count(F.lit(1)).alias("child_distinct"))
        n_parent = pkeys.agg(F.count(F.lit(1)).alias("parent_distinct"))
        n_in = ckeys.join(pkeys, "k", "left_semi").agg(
            F.count(F.lit(1)).alias("contained")
        )
        outs.append(
            n_child.crossJoin(n_parent)
            .crossJoin(n_in)
            .select(
                F.lit(f"{child}.{ccol}").alias("child_key"),
                F.lit(f"{parent}.{pcol}").alias("parent_key"),
                F.col("child_distinct").cast("long").alias("child_distinct"),
                F.col("parent_distinct").cast("long").alias("parent_distinct"),
                F.col("contained").cast("long").alias("contained"),
                F.call_function(
                    "div",
                    F.lit(2) * F.col("contained") * F.lit(1_000_000)
                    + F.col("child_distinct"),
                    F.lit(2) * F.col("child_distinct"),
                ).cast("long").alias("containment_ppm"),
                (F.col("contained") == F.col("child_distinct")).alias("is_fk"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("child_key", "parent_key")


def _dq_fk_discovery_sql() -> str:
    parts = []
    for child, ccol, parent, pcol in _FK_CANDIDATES:
        parts.append(f"""
SELECT '{child}.{ccol}' AS child_key, '{parent}.{pcol}' AS parent_key,
  CAST(c.n AS BIGINT) AS child_distinct,
  CAST(p.n AS BIGINT) AS parent_distinct,
  CAST(i.n AS BIGINT) AS contained,
  CAST((2 * i.n * 1000000 + c.n) // (2 * c.n) AS BIGINT) AS containment_ppm,
  i.n = c.n AS is_fk
FROM (SELECT COUNT(DISTINCT {ccol}) AS n FROM {child} WHERE {ccol} IS NOT NULL) c,
     (SELECT COUNT(DISTINCT {pcol}) AS n FROM {parent} WHERE {pcol} IS NOT NULL) p,
     (SELECT COUNT(*) AS n FROM
        (SELECT DISTINCT {ccol} AS k FROM {child} WHERE {ccol} IS NOT NULL) ck
      WHERE ck.k IN (SELECT {pcol} FROM {parent})) i
""")
    return " UNION ALL ".join(parts) + " ORDER BY child_key, parent_key"


# ------------------------------------------------------ a_bitmap_sets

_BMP_BITS = 60  # bits per word — stays inside positive int64, like hash64


def a_bitmap_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index set algebra: pack each order priority's customer
    audience into 60-bit words (word = custkey div 60, bit = custkey
    mod 60, OR-aggregated), then answer every pairwise intersection /
    union / Jaccard by word-aligned AND/OR + popcount — EXACT set
    operations with no per-member join, the roaring-bitmap pattern
    OLAP engines use for segment membership (and the exact complement
    to a_kmv_overlap's sketch estimates on the same question shape).

    Determinism: pure integer bit arithmetic end to end (bit mass
    stays under 2⁶⁰ so no sign-bit hazards); Jaccard reports as the
    exact half-away ppm division.

    Scale shape: the pack is ONE map-side-combined agg to (key, word)
    grain — |audience|/60 words per key, not |audience| rows; every
    pairwise op joins word tables on word index (broadcast-trivial)
    and popcounts in whole-stage codegen.  At 100 TB bitmaps shard by
    word range and AND/OR merges stay embarrassingly parallel."""
    t = load_tables(spark, sf_dir, ["orders"])
    e = (
        t["orders"]
        .select(
            F.col("o_orderpriority").alias("k"),
            F.col("o_custkey").cast("long").alias("id"),
        )
        .distinct()
    )
    words = e.groupBy(
        "k", F.call_function("div", F.col("id"), F.lit(_BMP_BITS)).alias("wd")
    ).agg(
        F.expr(f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(id % {_BMP_BITS} AS INT)))").alias("bits")
    )
    keys = words.select("k").distinct()
    key_pairs = (
        keys.select(F.col("k").alias("ta"))
        .crossJoin(keys.select(F.col("k").alias("tb")))
        .where(F.col("ta") < F.col("tb"))
    )
    # explicit (pair × word) domain so a word present on only ONE side
    # still contributes its bits to union and per-side counts
    dom = key_pairs.crossJoin(words.select("wd").distinct())
    a = words.select(F.col("k").alias("ta"), "wd", F.col("bits").alias("ba"))
    b = words.select(F.col("k").alias("tb"), "wd", F.col("bits").alias("bb"))
    aligned = (
        dom.join(a, ["ta", "wd"], "left")
        .join(b, ["tb", "wd"], "left")
        .select(
            "ta",
            "tb",
            F.coalesce("ba", F.lit(0)).alias("ba"),
            F.coalesce("bb", F.lit(0)).alias("bb"),
        )
    )
    pairs = aligned.groupBy("ta", "tb").agg(
        F.sum(F.expr("bit_count(ba & bb)")).alias("inter"),
        F.sum(F.expr("bit_count(ba | bb)")).alias("uni"),
        F.sum(F.expr("bit_count(ba)")).alias("n_a"),
        F.sum(F.expr("bit_count(bb)")).alias("n_b"),
    )
    jac_ppm = F.call_function(
        "div",
        F.lit(2) * F.col("inter") * F.lit(1_000_000) + F.col("uni"),
        F.lit(2) * F.col("uni"),
    )
    return pairs.select(
        "ta",
        "tb",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
        jac_ppm.cast("long").alias("jaccard_ppm"),
    ).orderBy("ta", "tb")


_A_BITMAP_SQL = f"""
WITH e AS (
  SELECT DISTINCT o_orderpriority AS k, o_custkey AS id FROM orders
), words AS (
  SELECT k, id // {_BMP_BITS} AS wd,
    bit_or(CAST(1 AS BIGINT) << CAST(id % {_BMP_BITS} AS INT)) AS bits
  FROM e GROUP BY k, id // {_BMP_BITS}
), key_pairs AS (
  SELECT a.k AS ta, b.k AS tb
  FROM (SELECT DISTINCT k FROM words) a, (SELECT DISTINCT k FROM words) b
  WHERE a.k < b.k
), dom AS (
  SELECT ta, tb, wd FROM key_pairs, (SELECT DISTINCT wd FROM words)
), aligned AS (
  SELECT d.ta, d.tb,
    coalesce(a.bits, 0) AS ba, coalesce(b.bits, 0) AS bb
  FROM dom d
  LEFT JOIN words a ON a.k = d.ta AND a.wd = d.wd
  LEFT JOIN words b ON b.k = d.tb AND b.wd = d.wd
), pairs AS (
  SELECT ta, tb,
    SUM(bit_count(ba & bb)) AS inter,
    SUM(bit_count(ba | bb)) AS uni,
    SUM(bit_count(ba)) AS n_a,
    SUM(bit_count(bb)) AS n_b
  FROM aligned GROUP BY ta, tb
)
SELECT ta, tb, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
  CAST((2 * inter * 1000000 + uni) // (2 * uni) AS BIGINT) AS jaccard_ppm
FROM pairs ORDER BY ta, tb
"""


# ------------------------------------------------------ a_kmv_difference


def a_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed set-DIFFERENCE estimation via theta-sketch AnotB
    (the third Theta-sketch set operation next to a_kmv_overlap's
    intersection; Apache DataSketches algebra, public): |A\\B| ≈
    |{h ∈ sketch(A), h < θ, h ∉ sketch(B)}| · scale / θ with θ =
    min(θ_A, θ_B) — "users who did A but never B", the audience-
    exclusion query, answered from two 256-row sketches instead of a
    per-user anti-join.  All 20 directed type pairs, audited against
    the exact anti-join.

    Determinism: identical recipe to a_kmv_overlap — distinct 60-bit
    md5 hashes (total order), integer θ and counts, two final
    divisions of the same integers rounded 6.

    Scale shape: sketch build shared shape with a_kmv_overlap (per-
    type top-k over distinct hashes); every AnotB is a 256-row
    broadcast anti-join; the exact twin (audit-only) pays the
    per-user anti-join the sketch exists to avoid.

    Audience domain: customers per order PRIORITY (~1300 distinct vs
    k=256, so the sketch genuinely subsamples) — the events table's
    150 users appear in every type, which would make every difference
    vacuously empty."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, ["orders"])
    e = t["orders"].select(
        F.col("o_orderpriority").alias("event_type"),
        F.col("o_custkey").cast("string").alias("u"),
    )
    hashes = e.select(
        "event_type", hash64(F.concat(F.col("u"), F.lit("#kmv"))).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
        .localCheckpoint(eager=True)
    )
    stats = sk.groupBy("event_type").agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_kept")
    )
    theta_of = F.when(F.col("n_kept") < _KMV_K, F.lit(_KMV_SCALE)).otherwise(
        F.col("kth")
    )
    st = stats.select("event_type", theta_of.alias("theta"))
    pairs = (
        st.select(F.col("event_type").alias("ta"), F.col("theta").alias("th_a"))
        .crossJoin(
            st.select(F.col("event_type").alias("tb"), F.col("theta").alias("th_b"))
        )
        .where(F.col("ta") != F.col("tb"))
        .select("ta", "tb", F.least("th_a", "th_b").alias("theta"))
    )
    # per directed pair: hashes of A's sketch below theta, minus those
    # ALSO present in B's sketch (broadcast anti-join on (tb, h))
    a_below = (
        F.broadcast(pairs)
        .join(
            sk.select(F.col("event_type").alias("ta"), "h"), ["ta"]
        )
        .where(F.col("h") < F.col("theta"))
    )
    sk_b = sk.select(F.col("event_type").alias("tb"), "h")
    # left-join the counts back onto the FULL pairs frame: a directed
    # pair whose sketch difference is empty must report n_diff = 0,
    # not vanish (the documented all-20-directed-pairs contract).
    diff_counts = (
        a_below.join(F.broadcast(sk_b), ["tb", "h"], "left_anti")
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    n_diff = pairs.join(diff_counts, ["ta", "tb"], "left").select(
        "ta",
        "tb",
        "theta",
        F.coalesce("n_diff", F.lit(0)).cast("long").alias("n_diff"),
    )
    ed = e.distinct()
    exact = (
        ed.select(F.col("event_type").alias("ta"), "u")
        .join(
            ed.select(F.col("event_type").alias("tb"), "u"),
            "u",
        )
        .where(F.col("ta") != F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = ed.groupBy(F.col("event_type").alias("ta")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    est = (
        F.col("n_diff").cast("double")
        * F.lit(float(_KMV_SCALE))
        / F.col("theta").cast("double")
    )
    return (
        n_diff.join(F.broadcast(exact), ["ta", "tb"], "left")
        .join(F.broadcast(sizes), "ta")
        .select(
            "ta",
            "tb",
            (F.col("n_a") - F.coalesce("n_common", F.lit(0))).alias("exact_diff"),
            F.round(est, 6).alias("kmv_diff"),
            # NULL rel_err when the exact difference is empty (A ⊆ B):
            # 0/0 is undefined and ANSI mode would raise.
            F.when(
                (F.col("n_a") - F.coalesce("n_common", F.lit(0))) > 0,
                F.round(
                    (est - (F.col("n_a") - F.coalesce("n_common", F.lit(0))))
                    / (F.col("n_a") - F.coalesce("n_common", F.lit(0))).cast(
                        "double"
                    ),
                    6,
                ),
            ).alias("rel_err"),
        )
        .orderBy("ta", "tb")
    )


def _a_kmv_difference_sql() -> str:
    k, scale = _KMV_K, _KMV_SCALE
    return f"""
WITH e AS (
  SELECT DISTINCT o_orderpriority AS event_type,
    CAST(o_custkey AS VARCHAR) AS u
  FROM orders
), h AS (
  SELECT DISTINCT event_type,
    CAST('0x' || substr(md5(u || '#kmv'), 1, 15) AS BIGINT) AS h
  FROM e
), sk AS MATERIALIZED (
  SELECT event_type, h FROM (
    SELECT event_type, h,
      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {k}
), st AS (
  SELECT event_type,
    CASE WHEN COUNT(*) < {k} THEN {scale} ELSE MAX(h) END AS theta
  FROM sk GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
    least(a.theta, b.theta) AS theta
  FROM st a, st b WHERE a.event_type <> b.event_type
), diff_counts AS (
  SELECT p.ta, p.tb, COUNT(*) AS n_diff
  FROM pairs p JOIN sk a ON a.event_type = p.ta AND a.h < p.theta
  WHERE NOT EXISTS (
    SELECT 1 FROM sk b WHERE b.event_type = p.tb AND b.h = a.h
  )
  GROUP BY p.ta, p.tb
), n_diff AS (
  -- every directed pair reports, empty difference as 0 (the
  -- all-20-pairs contract)
  SELECT p.ta, p.tb, p.theta,
    CAST(coalesce(d.n_diff, 0) AS BIGINT) AS n_diff
  FROM pairs p LEFT JOIN diff_counts d ON d.ta = p.ta AND d.tb = p.tb
), sizes AS (
  SELECT event_type AS ta, COUNT(*) AS n_a FROM e GROUP BY 1
), common AS (
  SELECT x.event_type AS ta, y.event_type AS tb, COUNT(*) AS n_common
  FROM e x JOIN e y ON x.u = y.u AND x.event_type <> y.event_type
  GROUP BY 1, 2
)
SELECT d.ta, d.tb,
  CAST(s.n_a - coalesce(c.n_common, 0) AS BIGINT) AS exact_diff,
  round(CAST(d.n_diff AS DOUBLE) * {float(scale)!r} / d.theta, 6) AS kmv_diff,
  CASE WHEN s.n_a - coalesce(c.n_common, 0) > 0 THEN
    round((CAST(d.n_diff AS DOUBLE) * {float(scale)!r} / d.theta
      - (s.n_a - coalesce(c.n_common, 0)))
      / CAST(s.n_a - coalesce(c.n_common, 0) AS DOUBLE), 6)
  END AS rel_err
FROM n_diff d
LEFT JOIN common c ON c.ta = d.ta AND c.tb = d.tb
JOIN sizes s ON s.ta = d.ta
ORDER BY d.ta, d.tb
"""


# ------------------------------------------------------ dq_ks_test

_KS_CRIT = 1.3581  # Kolmogorov c(alpha) at alpha = 0.05, shared literal


def dq_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per event type, even-
    vs odd-day halves (the dq_drift_psi split, so the two monitors
    watch the same boundary): D = sup|F₁−F₂| — the binning-free
    complement to PSI, sensitive to ANY distributional change, not
    just mass moving between fixed bins.

    Determinism: D is computed as an exact INTEGER — at each distinct
    value, |cum₁·n₂ − cum₂·n₁| (cross-multiplied ECDFs, no division
    until the final report), so two engines cannot disagree on the
    supremum; the α=0.05 decision compares the same exact integers
    against the Kolmogorov critical value via one double multiply.

    Scale shape: one (type, value)-grain agg (map-side combined), one
    per-type window cumsum over distinct values, one per-type max —
    the classic sort-merge ECDF sweep, never a pairwise comparison."""
    t = load_tables(spark, sf_dir, ["events"])
    marked = t["events"].select(
        "event_type",
        "value",
        (F.dayofmonth("ts") % 2 == 0).cast("int").alias("even"),
    )
    vals = marked.groupBy("event_type", "value").agg(
        F.sum("even").alias("c1"),
        F.sum(F.lit(1) - F.col("even")).alias("c2"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vals.select(
        "event_type",
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
    )
    sizes = marked.groupBy("event_type").agg(
        F.sum("even").alias("n1"),
        F.sum(F.lit(1) - F.col("even")).alias("n2"),
    )
    d = (
        cum.join(F.broadcast(sizes), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
            F.max(
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
            ).alias("d_scaled"),
        )
    )
    ks_d = F.round(
        F.col("d_scaled").cast("double") / (F.col("n1") * F.col("n2")), 6
    )
    crit = F.lit(_KS_CRIT) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double") / (F.col("n1") * F.col("n2"))
    )
    return d.select(
        "event_type",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("d_scaled").cast("long").alias("d_scaled"),
        ks_d.alias("ks_d"),
        F.round(crit, 6).alias("crit_05"),
        (ks_d > F.round(crit, 6)).alias("drifted"),
    ).orderBy("event_type")


_DQ_KS_SQL = f"""
WITH marked AS (
  SELECT event_type, value,
    CASE WHEN day(ts) % 2 = 0 THEN 1 ELSE 0 END AS even
  FROM events
), vals AS (
  SELECT event_type, value, SUM(even) AS c1, SUM(1 - even) AS c2
  FROM marked GROUP BY event_type, value
), cum AS (
  SELECT event_type,
    SUM(c1) OVER (PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
    SUM(c2) OVER (PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
  FROM vals
), sizes AS (
  SELECT event_type, SUM(even) AS n1, SUM(1 - even) AS n2
  FROM marked GROUP BY event_type
), d AS (
  SELECT c.event_type, MIN(n1) AS n1, MIN(n2) AS n2,
    MAX(abs(cum1 * n2 - cum2 * n1)) AS d_scaled
  FROM cum c JOIN sizes s ON s.event_type = c.event_type
  GROUP BY c.event_type
)
SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  CAST(d_scaled AS BIGINT) AS d_scaled,
  round(CAST(d_scaled AS DOUBLE) / (n1 * n2), 6) AS ks_d,
  round({_KS_CRIT!r} * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)), 6) AS crit_05,
  round(CAST(d_scaled AS DOUBLE) / (n1 * n2), 6)
    > round({_KS_CRIT!r} * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)), 6) AS drifted
FROM d ORDER BY event_type
"""


# ------------------------------------------------------ e_knn_eval


def e_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label audit over the embedding corpus: for
    each query vector (vec_id < 100), do its 5 nearest neighbors (by
    exact cosine, self excluded) majority-vote its own label?  The
    label-noise / embedding-quality smoke test run before training a
    classifier on the embeddings; per-label accuracy in exact ppm.
    Measured finding on this corpus: 9–15% across SFs — essentially
    the 10-label random baseline.  The labels separate at CENTROID
    scale (e_label_centroid_audit beats random) but local
    neighborhoods are noise-dominated at n=500 × 64-dim; surfacing
    that gap before anyone ships a kNN classifier is the audit's job.

    Determinism: neighbor sets come from the ROUNDED cosine with
    neighbor-id tiebreak (the sim_bruteforce_topk rule); the vote is
    an exact-integer (count DESC, label ASC) argmax; accuracy is the
    half-away integer ppm division.

    Scale shape: brute-force — eval-tier BY DESIGN (bounded query
    slice × corpus, the sim_bruteforce contract); the production path
    at corpus scale is the IVF shortlist feeding the same vote."""
    from kp_crypto_market_analytics_spark.operators.similarity import brute_force_topk

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.where(F.col("vec_id") < 100)
    nn = brute_force_topk(emb, queries, "embedding", "vec_id", k=5)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    votes = (
        nn.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("v").desc(), F.col("n_label").asc()
    )
    pred = (
        votes.withColumn("rk", F.row_number().over(w_vote))
        .where(F.col("rk") == 1)
        .select("query_id", F.col("n_label").alias("pred"))
    )
    truth = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("truth")
    )
    per_label = (
        pred.join(F.broadcast(truth), "query_id")
        .groupBy("truth")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum((F.col("pred") == F.col("truth")).cast("int")).alias("n_correct"),
        )
    )
    acc = F.call_function(
        "div",
        F.lit(2) * F.col("n_correct") * F.lit(1_000_000) + F.col("n_queries"),
        F.lit(2) * F.col("n_queries"),
    )
    return per_label.select(
        F.col("truth").alias("label"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_correct").cast("long").alias("n_correct"),
        acc.cast("long").alias("acc_ppm"),
    ).orderBy("label")


_E_KNN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, label AS truth,
    CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < 100
), scored AS (
  SELECT q.query_id, q.truth, c.vec_id AS neighbor_id, c.label AS n_label,
    round(list_cosine_similarity(q.qvec, CAST(c.embedding AS DOUBLE[])), 6) AS cos
  FROM q, embeddings c
  WHERE c.vec_id <> q.query_id
), topk AS (
  SELECT query_id, truth, n_label,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
), votes AS (
  SELECT query_id, MIN(truth) AS truth, n_label, COUNT(*) AS v
  FROM topk WHERE rank <= 5 GROUP BY query_id, n_label
), pred AS (
  SELECT query_id, truth, n_label AS pred,
    row_number() OVER (PARTITION BY query_id ORDER BY v DESC, n_label) AS rk
  FROM votes
), per_label AS (
  SELECT truth AS label, COUNT(*) AS n_queries,
    SUM(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS n_correct
  FROM pred WHERE rk = 1 GROUP BY truth
)
SELECT CAST(label AS INT) AS label,
  CAST(n_queries AS BIGINT) AS n_queries,
  CAST(n_correct AS BIGINT) AS n_correct,
  CAST((2 * n_correct * 1000000 + n_queries) // (2 * n_queries) AS BIGINT)
    AS acc_ppm
FROM per_label ORDER BY label
"""


# ------------------------------------------------------ e_quantile_normalize


def e_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of the embedding corpus with a
    Spearman audit: every dimension's values are replaced by their
    within-dimension ranks, and each dimension reports its Spearman
    correlation against dimension 1 — the scale-free dependence audit
    that survives any monotone distortion of the raw floats (the
    rank-based twin of ``e_covariance``'s Pearson moments).

    Determinism: ranks are row_number over (value, vec_id) — a total
    order, so ties in the float values cannot make engines disagree;
    every Spearman input (Σr, Σr², Σr·r₀) is an exact BIGINT (safe to
    n ≈ 2M rows; past that flip the moments to DECIMAL partials like
    e_covariance); the final formula is IEEE double on exact integers,
    rounded half-away with −0.0 normalized.

    Scale shape: the explode carries (vec_id, dim, value) scalars —
    vectors never shuffle whole; ranking is one per-dim window sort
    (dims partition evenly by construction); the moment agg is
    map-side combined to |dims| rows; the dim-1 rank frame joins by
    vec_id."""
    from kp_crypto_market_analytics_spark.functions.vectors import to_double_array
    from kp_crypto_market_analytics_spark.session import ensure_parallelism

    t = load_tables(spark, sf_dir, ["embeddings"])
    ranked = (
        ensure_parallelism(t["embeddings"])
        .select("vec_id", F.posexplode(to_double_array("embedding")).alias("i", "xi"))
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("i").orderBy(F.col("xi").asc(), F.col("vec_id").asc())
            ),
        )
        .select("vec_id", "i", "r")
    )
    base = ranked.where(F.col("i") == 0).select("vec_id", F.col("r").alias("r0"))
    m = (
        ranked.where(F.col("i") >= 1)
        .join(F.broadcast(base), "vec_id")
        .groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("r").alias("sx"),
            F.sum(F.col("r") * F.col("r")).alias("sx2"),
            F.sum("r0").alias("sy"),
            F.sum(F.col("r0") * F.col("r0")).alias("sy2"),
            F.sum(F.col("r") * F.col("r0")).alias("sxy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        (F.col("i") + 1).alias("dim"),
        F.col("n").cast("long").alias("n"),
        (F.round(num.cast("double") / den, 6) + F.lit(0.0)).alias("spearman_vs_dim1"),
    ).orderBy("dim")


def _e_quantile_normalize_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), long_form AS (
  SELECT vec_id, unnest(generate_series(1, {_EMB_DIM})) AS i, x FROM e
), ranked AS (
  SELECT vec_id, i - 1 AS i,
    row_number() OVER (PARTITION BY i ORDER BY x[i], vec_id) AS r
  FROM long_form
), base AS (
  SELECT vec_id, r AS r0 FROM ranked WHERE i = 0
), m AS (
  SELECT a.i, COUNT(*) AS n, SUM(a.r) AS sx, SUM(a.r * a.r) AS sx2,
    SUM(b.r0) AS sy, SUM(b.r0 * b.r0) AS sy2, SUM(a.r * b.r0) AS sxy
  FROM ranked a JOIN base b USING (vec_id) WHERE a.i >= 1 GROUP BY a.i
)
SELECT CAST(i + 1 AS INT) AS dim, CAST(n AS BIGINT) AS n,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
    / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
         * CAST(n * sy2 - sy * sy AS DOUBLE)), 6) + 0.0 AS spearman_vs_dim1
FROM m ORDER BY dim
"""


REGISTRY = (
    (dq_constraints, _dq_constraints_sql()),
    (dq_k_anonymity, _dq_k_anonymity_sql()),
    (a_ddsketch_quantiles, _dds_quantiles_sql()),
    (a_ddsketch_merge, _dds_merge_sql()),
    (a_ddsketch_stream_parity, _dds_stream_parity_sql()),
    (a_kmv_stream_parity, _kmv_stream_parity_sql()),
    (dedup_stream_parity, _dedup_stream_parity_sql()),
    (t_mg_stream_parity, _mg_stream_parity_sql()),
    (a_grouping_sets, _grouping_sets_sql()),
    (g_triangle_count, _triangle_count_sql()),
    (g_assoc_rules, _assoc_rules_sql()),
    (e_covariance, _e_covariance_sql()),
    (cdc_scd2, _cdc_scd2_sql()),
    (dq_drift_psi, _dq_drift_psi_sql()),
    (a_benford, _a_benford_sql()),
    (t_zipf_fit, _t_zipf_fit_sql()),
    (w_gapfill_interp, _w_gapfill_interp_sql()),
    (e_jl_projection, _e_jl_projection_sql()),
    (a_kmv_overlap, _a_kmv_overlap_sql()),
    (mm_audio_windows, _mm_audio_sql()),
    (a_lorenz_gini, _a_lorenz_gini_sql()),
    (e_matryoshka_prefix, _e_matryoshka_sql()),
    (w_seasonal_naive_forecast, _w_seasonal_naive_sql()),
    (e_embedding_drift, _e_embedding_drift_sql()),
    (e_label_centroid_audit, _e_label_centroid_sql()),
    (e_fisher_separation, _e_fisher_sql()),
    (dq_dataset_checksum, _dq_dataset_checksum_sql()),
    (dq_join_cardinality, _DQ_JOIN_CARD_SQL),
    (e_quantile_normalize, _e_quantile_normalize_sql()),
    (dq_fk_discovery, _dq_fk_discovery_sql()),
    (dq_ks_test, _DQ_KS_SQL),
    (a_kmv_difference, _a_kmv_difference_sql()),
    (a_bitmap_sets, _A_BITMAP_SQL),
    (e_knn_eval, _E_KNN_SQL),
)
