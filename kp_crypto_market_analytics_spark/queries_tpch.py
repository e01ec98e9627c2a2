"""TPC-H-shaped scale queries beyond the q1/q3/q5/q6 core.

These widen join/agg pattern coverage to the classic decision-support
shapes the reference's analytics map onto at warehouse scale
(SURVEY.md §2.4-§2.7): EXISTS-semi-join (q4), nation-pair theta filter
(q7), multi-dim profit rollup (q9), group-filter-topk (q10), conditional
share-of-total (q14), max-equality view join (q15), distinct-agg with
exclusion (q16), HAVING over a 600M-row-scale group (q18), OR-of-ANDs
bracket predicates (q19).  Adapted to the driver schema: no
partsupp/commitdate/shipmode columns, so q4 uses shipdate>orderdate as
the lateness predicate, q9 proxies supply cost with p_retailprice, q16
counts lineitem suppliers, q2's supply cost is each supplier's min
lineitem price, q11's inventory value is Σ extendedprice·quantity, and
q20's availqty test becomes share-of-shipped-volume.  With q2/q11/q20
the full 22-query pattern set is covered.

Determinism: decimal-moment sums presented as double, round(,6) on
ratios, unique tiebreakers under every LIMIT (queries.py header).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.aggregates import DEC
from kp_crypto_market_analytics_spark.operators.windows import top_k
from kp_crypto_market_analytics_spark.session import load_tables


def _sum_dec(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def _rev() -> "F.Column":
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape — priority counts over orders having a late lineitem
    (EXISTS → left-semi join with a non-equi conjunct; Catalyst keeps it
    a single semi hash join on l_orderkey)."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = o.join(
        t["lineitem"],
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape — shipping volume between two nations by year, both
    directions.  Dimensions broadcast; one shuffle for the final agg."""
    t = load_tables(spark, sf_dir, ["nation", "customer", "supplier", "orders", "lineitem"])
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    j = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year, {_sum_dec('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    CAST(year(l_shipdate) AS BIGINT) AS l_year,
    l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape — profit by nation×year for a part family (p_retailprice
    proxies ps_supplycost: the driver schema has no partsupp)."""
    t = load_tables(spark, sf_dir, ["part", "supplier", "nation", "orders", "lineitem"])
    p = t["part"].where(F.col("p_name").like("%widget%"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC)
    j = (
        t["lineitem"]
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
  {_sum_dec('l_extendedprice*(1-l_discount) - p_retailprice*l_quantity')} AS sum_profit
FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape — revenue lost to returns per customer, one quarter,
    top-20 (group-filter-topk; TakeOrderedAndProject bounds the sort)."""
    t = load_tables(spark, sf_dir, ["customer", "nation", "orders", "lineitem"])
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    j = (
        t["lineitem"]
        .where(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(_rev()).cast("double").alias("revenue")
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20).select(
        "c_custkey", "c_name", "revenue", "c_acctbal", "n_name"
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, {_sum_dec('l_extendedprice*(1-l_discount)')} AS revenue,
  c_acctbal, n_name
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape — promo revenue share for one month: conditional sum /
    total sum, both decimal-exact, one broadcast join."""
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    j = l.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo.cast(DEC)).cast("double")
            / F.sum(rev.cast(DEC)).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q14_SQL = f"""
SELECT round(
    100.0 * {_sum_dec("CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END")}
          / {_sum_dec('l_extendedprice*(1-l_discount)')}, 6) AS promo_revenue_pct,
  COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape — supplier(s) with max quarterly revenue: revenue view
    joined to its own max.  Exact decimal sums make the double equality
    deterministic on both engines."""
    t = load_tables(spark, sf_dir, ["supplier", "lineitem"])
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(F.sum(_rev()).cast("double").alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue"))
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {_sum_dec('l_extendedprice*(1-l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-10-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape — distinct supplier count per part descriptor with a
    brand exclusion (distinct-agg after a fact⋈dim join)."""
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    p = t["part"].where(F.col("p_brand") != "Brand#1")
    j = t["lineitem"].join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    agg = j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )
    return top_k(
        agg,
        [
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        ],
        50,
    ).select("p_brand", "p_type", "p_size", "supplier_cnt")


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape — HAVING over the biggest group-by in the schema
    (per-orderkey quantity), then enrich with customer/orders and top-k.
    The HAVING filter runs before the joins, so only qualifying orders
    shuffle onward."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"))
        .where(F.col("sum_qty") > 200)
    )
    j = (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
    )
    return top_k(j, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 100).select(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
    )


Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey, {_sum_dec('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {_sum_dec('l_quantity')} > 200
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape — OR-of-ANDs bracket predicates across the fact⋈dim
    join (the classic pushdown stress: each conjunct prunes part rows
    before the join, the OR runs post-join)."""
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    j = t["lineitem"].join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    qty, size, ptype = F.col("l_quantity"), F.col("p_size"), F.col("p_type")
    cond = (
        ((ptype == "PROMO") & size.between(1, 15) & qty.between(1, 20))
        | ((ptype == "ECONOMY") & size.between(10, 30) & qty.between(10, 30))
        | ((ptype == "LARGE") & size.between(20, 50) & qty.between(20, 40))
    )
    return j.where(cond).agg(
        F.sum(_rev()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q19_SQL = f"""
SELECT {_sum_dec('l_extendedprice*(1-l_discount)')} AS revenue, COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_type = 'PROMO'   AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
   OR (p_type = 'ECONOMY' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'LARGE'   AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape — one nation's revenue share per year within one
    region's customers: conditional-sum / total-sum per group over a
    6-way join (share-of-total at join depth)."""
    t = load_tables(
        spark, sf_dir, ["region", "nation", "customer", "supplier", "orders", "lineitem"]
    )
    n_c = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_s = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = t["region"].where(F.col("r_name") == "EUROPE")
    j = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cr_key") == F.col("r_regionkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(F.lit(0.0))
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(target.cast(DEC)).cast("double") / F.sum(rev.cast(DEC)).cast("double"), 6
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
  round({_sum_dec("CASE WHEN n2.n_name = 'NATION_7' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END")}
      / {_sum_dec('l_extendedprice*(1-l_discount)')}, 6) AS mkt_share,
  COUNT(*) AS n_rows
FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n1.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1 ORDER BY o_year
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape — late-shipment counts split by priority class (no
    shipmode column: priority stands in): conditional counts over a
    date-window join."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    j = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    return (
        j.groupBy(late.alias("late_30d"))
        .agg(
            F.sum(high).alias("high_priority_count"),
            F.sum(1 - high).alias("low_priority_count"),
        )
        .orderBy("late_30d")
    )


Q12_SQL = """
SELECT l_shipdate > o_orderdate + INTERVAL 30 DAY AS late_30d,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1 ORDER BY late_30d
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — histogram of per-customer order counts: left join so
    zero-order customers land in bucket 0, agg-of-agg."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape — revenue from below-one-fifth-of-average-quantity
    orders of one brand.  The correlated scalar subquery (per-part avg)
    decorrelates to an aggregate + equi-join; the threshold compare
    uses the exact decimal avg so both engines agree bitwise."""
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    p = t["part"].where(F.col("p_brand") == "Brand#3")
    per_part = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("pp_key"))
        .agg(
            (F.lit(0.2) * (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("l_quantity"))).alias("qty_thresh")
        )
    )
    j = (
        t["lineitem"]
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(per_part), F.col("l_partkey") == F.col("pp_key"))
        .where(F.col("l_quantity") < F.col("qty_thresh"))
    )
    return j.agg(
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q17_SQL = f"""
WITH thresh AS (
  SELECT l_partkey AS pp_key,
    0.2 * ({_sum_dec('l_quantity')} / COUNT(l_quantity)) AS qty_thresh
  FROM lineitem GROUP BY l_partkey
)
SELECT {_sum_dec('l_extendedprice')} / 7.0 AS avg_yearly, COUNT(*) AS n_rows
FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN thresh ON pp_key = l_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < qty_thresh
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — suppliers solely responsible for late multi-supplier
    orders (no commit/receipt dates in this schema: 'late' = shipped
    >60 days after order date).  EXISTS → left-semi, NOT EXISTS →
    left-anti, both with non-equi conjuncts on the same key."""
    t = load_tables(spark, sf_dir, ["supplier", "orders", "lineitem"])
    l1 = (
        t["lineitem"]
        .join(
            t["orders"].where(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    others = t["lineitem"].select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey"),
        F.col("l_shipdate").alias("x_shipdate"),
    )
    has_other = l1.join(
        others,
        (F.col("l_orderkey") == F.col("x_orderkey")) & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_semi",
    )
    sole_late = has_other.join(
        others,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey"))
        & (F.col("x_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_anti",
    )
    agg = (
        sole_late.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return top_k(agg, [F.col("numwait").desc(), F.col("s_suppkey").asc()], 100).select(
        "s_suppkey", "s_name", "numwait"
    )


Q21_SQL = """
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM lineitem l1
  JOIN orders ON o_orderkey = l1.l_orderkey
  JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 100
"""


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape — wealthy customers with no recent orders, by nation
    (no phone column: nationkey stands in for the country code).  The
    global average is a 1-row broadcast; NOT EXISTS is a left-anti."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    c = t["customer"]
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("c_acctbal")).alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("avg_bal"))
    recent = t["orders"].where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    dormant = rich.join(
        recent.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    )
    return (
        dormant.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = f"""
SELECT c_nationkey, COUNT(*) AS numcust, {_sum_dec('c_acctbal')} AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT {_sum_dec('c_acctbal')} / COUNT(c_acctbal)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — cheapest-supplier-per-part via a correlated scalar MIN,
    decorrelated into agg + equality re-join (exactly Catalyst's own
    decorrelation).  Supply cost proxies as each supplier's minimum
    lineitem price for the part (no partsupp in the driver schema);
    region restriction applies INSIDE the min, as in the original.
    All dims broadcast; lineitem shuffles once on (part, supp)."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation", "region", "part"])
    eur = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = (
        t["lineitem"]
        .join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = costs.groupBy("l_partkey").agg(F.min("cost").alias("mincost"))
    p = t["part"].where((F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY"))
    j = (
        costs.join(F.broadcast(best.withColumnRenamed("l_partkey", "bk")),
                   (F.col("l_partkey") == F.col("bk")) & (F.col("cost") == F.col("mincost")))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    )
    return top_k(
        j,
        [F.col("s_acctbal").desc(), F.col("n_name").asc(), F.col("s_name").asc(), F.col("p_partkey").asc()],
        100,
    ).select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost")


Q2_SQL = """
WITH eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), costs AS (
  SELECT l_partkey, l_suppkey, s_name, s_acctbal, n_name,
    MIN(l_extendedprice) AS cost
  FROM lineitem JOIN eur ON l_suppkey = s_suppkey
  GROUP BY 1, 2, 3, 4, 5
), best AS (
  SELECT l_partkey AS bk, MIN(cost) AS mincost FROM costs GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost
FROM costs JOIN best ON l_partkey = bk AND cost = mincost
JOIN part ON p_partkey = l_partkey
WHERE p_size <= 15 AND p_type = 'ECONOMY'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape — per-part inventory value for one nation's suppliers,
    kept when above a fraction of the GLOBAL total (group agg + scalar
    subquery → broadcast 1-row cross join; the fact shuffles once).
    Value proxies as Σ extendedprice·quantity (no partsupp).  The
    threshold is 3× the MEAN part value — scale-free, like the spec's
    0.0001/SF fraction (a fixed share of the total empties out as part
    count grows) — and compares in double on BOTH engines (a
    decimal×decimal compare would type-differ across engines)."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    n1 = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].where(F.col("n_name") == "NATION_1")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    v = (
        t["lineitem"]
        .join(F.broadcast(n1), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)")).alias("val")
        )
    )
    tot = v.agg(
        (F.sum("val").cast("double") / F.count(F.lit(1))).alias("mean_val")
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .where(F.col("val").cast("double") > F.lit(3.0) * F.col("mean_val"))
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


Q11_SQL = """
WITH n1 AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
), v AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS val
  FROM lineitem JOIN n1 ON l_suppkey = s_suppkey
  GROUP BY 1
)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM v
WHERE CAST(val AS DOUBLE) > 3.0 * (SELECT CAST(SUM(val) AS DOUBLE) / COUNT(*) FROM v)
ORDER BY part_value DESC, l_partkey
"""


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape — nested agg-in-subquery feeding a semi-join: suppliers
    who shipped more than half of a 'red' part's 1995-96 volume
    (availqty-vs-half-shipped adapted to share-of-shipments; no
    partsupp).  Two aggs reuse ONE shuffle partitioning ((part, supp) →
    part), then a distinct supplier set semi-joins the dim."""
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("sq")
    )
    tot = pq.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    red = t["part"].where(F.col("p_name").like("red%")).select("p_partkey")
    dom = (
        pq.join(tot, "l_partkey")
        .join(F.broadcast(red), F.col("p_partkey") == F.col("l_partkey"))
        .where(F.col("sq").cast("double") > F.lit(0.5) * F.col("tq").cast("double"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return (
        t["supplier"]
        .join(dom, "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name", "s_suppkey")
    )


Q20_SQL = """
WITH pq AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1, 2
), tot AS (
  SELECT l_partkey, SUM(sq) AS tq FROM pq GROUP BY 1
), dom AS (
  SELECT DISTINCT l_suppkey
  FROM pq JOIN tot USING (l_partkey)
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%' AND CAST(sq AS DOUBLE) > 0.5 * CAST(tq AS DOUBLE)
)
SELECT s_suppkey, s_name, s_acctbal
FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
ORDER BY s_name, s_suppkey
"""


REGISTRY = (
    (q4_order_priority, Q4_SQL),
    (q7_nation_volume, Q7_SQL),
    (q9_product_profit, Q9_SQL),
    (q10_returned_items, Q10_SQL),
    (q14_promo_share, Q14_SQL),
    (q15_top_supplier, Q15_SQL),
    (q16_supplier_cnt, Q16_SQL),
    (q18_large_orders, Q18_SQL),
    (q19_bracket_revenue, Q19_SQL),
    (q8_market_share, Q8_SQL),
    (q12_priority_shipping, Q12_SQL),
    (q13_order_distribution, Q13_SQL),
    (q17_small_quantity, Q17_SQL),
    (q21_waiting_supplier, Q21_SQL),
    (q22_dormant_customers, Q22_SQL),
    (q2_min_cost_supplier, Q2_SQL),
    (q11_important_parts, Q11_SQL),
    (q20_dominant_suppliers, Q20_SQL),
)
