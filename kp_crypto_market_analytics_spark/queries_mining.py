"""Round-3 mining family: feature hashing, link prediction, sequence
transition models, and period-over-period rank movement.

- ``t_hashed_features``  — the hashing trick (Weinberger et al. 2009,
  public): tokens → fixed 1024-bucket feature space via the portable
  60-bit md5 hash; per-bucket mass + collision width, top-50.  The
  fixed-dimension vectorization step a 100 TB text pipeline uses when
  a vocabulary table would be a shuffle-heavy join.
- ``g_jaccard_sim``      — neighborhood-Jaccard link prediction on the
  co-purchase graph: common-neighbor wedges over the edge list, J =
  |N(u)∩N(v)| / |N(u)∪N(v)|, top-30 candidate links.
- ``a_markov_transition`` — first-order Markov transition matrix over
  per-user event sequences: P(next_type | cur_type) with exact
  half-away micro-rounding — the session-flow model product analytics
  builds on top of ``w_sessionize``.
- ``q_rank_movers``      — part revenue rank, first half (orderdate <
  1998) vs second half, biggest rank movers — the period-over-period
  ranking report every BI deployment runs.

Reference anchors: t_hashed_features generalizes the reference's
fixed-width feature frames (`src/analytics/binance_analysis.py:380-420`
builds fixed-column stat tables); a_markov_transition is the
event-sequence analog of its OHLC state rollups; q_rank_movers mirrors
its period-comparison report shape (`binance_analysis.py:604-651`).

Determinism: hashing is the md5-based hash64 (engine-portable); wedge
and transition counts are exact integers; the only doubles are single
divisions of BIGINTs (round 6) or exact micro-rounded means; every
top-k carries a unique tiebreaker.

Scale shape: feature hashing aggregates bucket mass map-side (shuffle
= 1024 rows × partitions); the wedge join is bounded by Σ deg² over
the support-pruned edge list (degree-cap lever documented); the
transition matrix rides ONE (user) exchange for the lag and a
|types|²-sized agg; rank movers is two partial aggs + one join on
partkey."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.aggregates import (
    round_mean_micro,
    round_ratio_micro_dec,
    sql_round_mean_micro,
    sql_round_ratio_micro_huge,
)
from kp_crypto_market_analytics_spark.session import ensure_parallelism, load_tables

# ------------------------------------------------------ t_hashed_features

_HF_BUCKETS = 1024


def t_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature space over the corpus: every token maps to
    bucket = hash64(tok·salt) mod 1024; output the top-50 buckets by
    token mass with their collision width (distinct tokens sharing the
    bucket) — the collision audit that sizes the hash dimension.

    Shuffle = 1024 bucket rows (partial agg absorbs the explode);
    count_distinct of tokens per bucket shuffles (bucket, token) pairs
    bounded by |vocab|, not |tokens|."""
    from kp_crypto_market_analytics_spark.functions.text import hash64
    from kp_crypto_market_analytics_spark.operators.windows import top_k
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    toks = _toks_df(spark, sf_dir).select(F.explode("toks").alias("tok"))
    agg = (
        toks.select(
            F.pmod(hash64(F.concat(F.col("tok"), F.lit("#hf"))), F.lit(_HF_BUCKETS)).alias(
                "bucket"
            ),
            "tok",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("tok").alias("n_distinct"),
        )
    )
    return top_k(
        agg, [F.col("n_tokens").desc(), F.col("bucket").asc()], 50
    ).select("bucket", "n_tokens", "n_distinct")


def _t_hashed_features_sql() -> str:
    return f"""
WITH toks AS (
  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                ' ')) AS tok
  FROM documents
), b AS (
  SELECT CAST('0x' || substr(md5(tok || '#hf'), 1, 15) AS BIGINT)
           % {_HF_BUCKETS} AS bucket,
         tok
  FROM toks
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
FROM b GROUP BY bucket
ORDER BY n_tokens DESC, bucket LIMIT 50
"""


# --------------------------------------------------------- g_jaccard_sim

_SUPPORT = 2


def g_jaccard_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard on the co-purchase
    graph: for every pair with ≥1 common neighbor, J = common /
    (deg_u + deg_v − common); top-30 by (J desc, u, v) with an
    ``is_edge`` flag (high-J non-edges are the recommendations).

    The wedge join is bounded by Σ deg(n)² over the support-pruned
    edge list — the same hub exposure as g_triangle_count, where
    degree-ordered orientation is the documented lever; here the full
    (x, y) candidate set IS the output domain, so the lever at 100 TB
    is a degree cap on wedge centers (drop n with deg > D; hubs
    contribute near-zero Jaccard anyway).  All-integer until the one
    final division."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    adj = edges.select(F.col("u").alias("n"), F.col("v").alias("m")).unionByName(
        edges.select(F.col("v").alias("n"), F.col("u").alias("m"))
    )
    deg = adj.groupBy(F.col("m").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    wedge = (
        adj.alias("x")
        .join(adj.alias("y"), (F.col("x.n") == F.col("y.n")) & (F.col("x.m") < F.col("y.m")))
        .groupBy(F.col("x.m").alias("pu"), F.col("y.m").alias("pv"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    scored = (
        wedge.join(deg.select(F.col("node").alias("pu"), F.col("deg").alias("du")), "pu")
        .join(deg.select(F.col("node").alias("pv"), F.col("deg").alias("dv")), "pv")
        .join(
            edges.select(
                F.col("u").alias("pu"), F.col("v").alias("pv"), F.lit(True).alias("e")
            ),
            ["pu", "pv"],
            "left",
        )
        .select(
            F.col("pu").alias("u"),
            F.col("pv").alias("v"),
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
            F.coalesce("e", F.lit(False)).alias("is_edge"),
        )
    )
    from kp_crypto_market_analytics_spark.operators.windows import top_k

    return top_k(
        scored, [F.col("jaccard").desc(), F.col("u").asc(), F.col("v").asc()], 30
    ).select("u", "v", "common", "jaccard", "is_edge")


def _g_jaccard_sim_sql() -> str:
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_SUPPORT}
), adj AS MATERIALIZED (
  SELECT u AS n, v AS m FROM edges UNION ALL SELECT v, u FROM edges
), deg AS (
  SELECT m AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1
), wedge AS (
  SELECT x.m AS pu, y.m AS pv, CAST(COUNT(*) AS BIGINT) AS common
  FROM adj x JOIN adj y ON x.n = y.n AND x.m < y.m
  GROUP BY 1, 2
)
SELECT pu AS u, pv AS v, common,
  round(CAST(common AS DOUBLE) / CAST(du.deg + dv.deg - common AS DOUBLE), 6)
    AS jaccard,
  coalesce(e.is_edge, FALSE) AS is_edge
FROM wedge
JOIN deg du ON du.node = wedge.pu
JOIN deg dv ON dv.node = wedge.pv
LEFT JOIN (SELECT u, v, TRUE AS is_edge FROM edges) e
  ON e.u = wedge.pu AND e.v = wedge.pv
ORDER BY jaccard DESC, u, v LIMIT 30
"""


# ---------------------------------------------------- a_markov_transition

def a_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | cur_type) with exact transition counts —
    the session-flow model (what users do after a click) a product
    pipeline derives from the same ordered stream w_sessionize cuts.

    One (user) exchange for the lead window; the (cur, next) agg is
    |types|² rows; probabilities are exact micro-rounded means of
    BIGINT counts (round_mean_micro — the structural-tie-safe path)."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        t["events"]
        .select(
            "user_id",
            F.col("event_type").alias("cur_type"),
            "ts",
            "event_id",
        )
        .withColumn("next_type", F.lead("cur_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_tot = trans.groupBy("cur_type").agg(F.sum("n").alias("row_n"))
    return (
        trans.join(F.broadcast(row_tot), "cur_type")
        .select(
            "cur_type",
            "next_type",
            "n",
            round_mean_micro(F.col("n").cast("decimal(18,6)"), F.col("row_n")).alias(
                "p"
            ),
        )
        .orderBy("cur_type", "next_type")
    )


def _a_markov_transition_sql() -> str:
    p = sql_round_mean_micro("CAST(n AS DECIMAL(18,6))", "row_n")
    return f"""
WITH seq AS (
  SELECT user_id, event_type AS cur_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
), trans AS (
  SELECT cur_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT cur_type, CAST(SUM(n) AS BIGINT) AS row_n FROM trans GROUP BY 1
)
SELECT t.cur_type, next_type, n, {p} AS p
FROM trans t JOIN tot ON tot.cur_type = t.cur_type
ORDER BY t.cur_type, next_type
"""


# -------------------------------------------------------- q_rank_movers

_MOVERS_SPLIT = "1998-01-01"
_MOVERS_TOPK = 20


def q_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue rank movement: rank parts by revenue
    in orders before vs since 1998, top-20 biggest movers (|Δrank|
    desc) among parts sold in BOTH halves.  Revenue folds through
    DECIMAL(18,6) (exact ⇒ rank ties impossible beyond the explicit
    partkey tiebreaker); ranks are row_numbers over (revenue desc,
    partkey) — total order, engine-identical.

    Plan: the lineitem⋈orders date split is ONE scan each half with
    the filter pushed to the orders side of a broadcast-key join; the
    rank windows run over |parts|-sized aggregates, not facts."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    li = t["lineitem"].select(
        "l_orderkey",
        "l_partkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).cast("decimal(18,6)").alias("rev"),
    )
    od = t["orders"].select(
        "o_orderkey",
        (F.col("o_orderdate") < F.lit(_MOVERS_SPLIT).cast("timestamp")).alias("first_half"),
    )
    j = li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))

    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    # ONE scan+join+aggregate for BOTH halves (r11 optimization, guide
    # §2.3): grouping by (partkey, half) partitions the exact same row
    # sets the old per-half filters did, so each decimal sum is
    # bit-identical; the two rank passes then run over the shared
    # |parts|-sized checkpoint instead of re-executing the fact join.
    agg2 = (
        j.groupBy("l_partkey", "first_half")
        .agg(F.sum("rev").alias("rev"))
        .localCheckpoint(eager=True)
    )

    def half(flag: bool, rank_name: str) -> DataFrame:
        agg = agg2.where(F.col("first_half") == flag).select("l_partkey", "rev")
        # |parts| grows linearly with data (20M rows at sf100): the
        # global revenue rank is range-partitioned, never a
        # single-partition window over the aggregate frame.
        ranked = range_partitioned_rank(
            agg,
            [F.col("rev").desc(), F.col("l_partkey").asc()],
            out_col="__gr",
        )
        return ranked.select(
            "l_partkey",
            F.col("rev").cast("double").alias(f"rev_{rank_name}"),
            F.col("__gr").cast("long").alias(f"rank_{rank_name}"),
        )

    a, b = half(True, "a"), half(False, "b")
    return (
        a.join(b, "l_partkey")
        .select(
            "l_partkey",
            "rank_a",
            "rank_b",
            (F.col("rank_a") - F.col("rank_b")).alias("rank_delta"),
            F.round("rev_a", 2).alias("rev_first"),
            F.round("rev_b", 2).alias("rev_second"),
        )
        .orderBy(
            F.abs(F.col("rank_delta")).desc(),
            F.col("l_partkey").asc(),
        )
        .limit(_MOVERS_TOPK)
    )


def _q_rank_movers_sql() -> str:
    rev = (
        "CAST(CAST(l_extendedprice AS DECIMAL(18,6))"
        " * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))"
        " AS DECIMAL(18,6))"
    )
    return f"""
WITH j AS (
  SELECT l_partkey, {rev} AS rev,
    o_orderdate < TIMESTAMP '{_MOVERS_SPLIT} 00:00:00' AS first_half
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), ha AS (
  SELECT l_partkey, CAST(SUM(rev) AS DOUBLE) AS rev_a,
    CAST(row_number() OVER (ORDER BY SUM(rev) DESC, l_partkey) AS BIGINT)
      AS rank_a
  FROM j WHERE first_half GROUP BY l_partkey
), hb AS (
  SELECT l_partkey, CAST(SUM(rev) AS DOUBLE) AS rev_b,
    CAST(row_number() OVER (ORDER BY SUM(rev) DESC, l_partkey) AS BIGINT)
      AS rank_b
  FROM j WHERE NOT first_half GROUP BY l_partkey
)
SELECT ha.l_partkey, rank_a, rank_b, rank_a - rank_b AS rank_delta,
  round(rev_a, 2) AS rev_first, round(rev_b, 2) AS rev_second
FROM ha JOIN hb ON ha.l_partkey = hb.l_partkey
ORDER BY abs(rank_a - rank_b) DESC, ha.l_partkey LIMIT {_MOVERS_TOPK}
"""


# ------------------------------------------------------------- g_kcore

_KCORE_K = 2
_KCORE_ROUNDS = 4


def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition by iterative peeling on the co-purchase
    graph: each round drops nodes with degree < 2 and restricts the
    edge list to survivors; one row per round — (round, n_nodes,
    n_edges) — showing the peel converge (round 0 = the raw graph).
    The degeneracy report that sizes community / dense-subgraph work.

    Bounded-round contract (4 rounds, the honest form at 100 TB — the
    same guard philosophy as dedup_clusters / g_label_prop); each round
    is one degree agg + two semi-joins on the edge list, all-integer,
    edge frames localCheckpointed so plan trees stay O(1)."""
    pairs = _copurchase_edges(spark, sf_dir)
    rounds = []
    edges = pairs.localCheckpoint(eager=True)
    for r in range(_KCORE_ROUNDS + 1):
        nodes = edges.select(F.col("u").alias("n")).unionAll(
            edges.select(F.col("v").alias("n"))
        )
        deg = nodes.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
        stat = deg.agg(
            F.lit(r).alias("round"),
            F.count(F.lit(1)).alias("n_nodes"),
            # coalesce: if the peel empties the edge set mid-schedule,
            # sum over zero rows is NULL but the oracle's COUNT(*)/2
            # is 0 — match it.
            (F.coalesce(F.sum("deg"), F.lit(0)) / 2).cast("long").alias("n_edges"),
        )
        rounds.append(stat)
        if r == _KCORE_ROUNDS:
            break
        keep = deg.where(F.col("deg") >= _KCORE_K).select("n")
        edges = (
            edges.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    out = rounds[0]
    for s in rounds[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-≥2 canonical co-purchase pairs — the session-cached
    shared build (operators/copurchase.py), one materialization per
    bench/driver session for the whole graph family."""
    from kp_crypto_market_analytics_spark.operators.copurchase import copurchase_pairs

    return copurchase_pairs(spark, sf_dir).select("u", "v")


def _g_kcore_sql() -> str:
    # Every CTE in the peel chain is MATERIALIZED: DuckDB inlines CTEs
    # by default, and each level references its predecessor ~5 times
    # (degree union ×2, semi-filters ×2, stats ×2) — inlined, the
    # expensive e0 pair join would be re-evaluated O(5^rounds) times
    # (measured: the sf0.1 oracle ran 35+ min before this fix, <2s
    # after).
    parts = [f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_SUPPORT}
)"""]
    for r in range(_KCORE_ROUNDS):
        parts.append(f""", d{r} AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM e{r} UNION ALL SELECT v FROM e{r}) GROUP BY 1
), k{r} AS MATERIALIZED (
  SELECT n FROM d{r} WHERE deg >= {_KCORE_K}
), e{r + 1} AS MATERIALIZED (
  SELECT u, v FROM e{r}
  WHERE u IN (SELECT n FROM k{r}) AND v IN (SELECT n FROM k{r})
)""")
    stats = "\nUNION ALL\n".join(
        f"""SELECT {r} AS round,
  CAST(COUNT(DISTINCT n) AS BIGINT) AS n_nodes,
  CAST(COUNT(*) / 2 AS BIGINT) AS n_edges
FROM (SELECT u AS n FROM e{r} UNION ALL SELECT v FROM e{r})"""
        for r in range(_KCORE_ROUNDS + 1)
    )
    parts.append(f"\nSELECT * FROM ({stats}) ORDER BY round\n")
    return "".join(parts)


# --------------------------------------------------------- q_yoy_growth

def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: order totals rolled to
    (year, month), each month joined to the same month one year back —
    yoy = (rev − prev)/prev.  The calendar self-join BI report next to
    ``q_rank_movers``'s rank view.

    Revenue folds through DECIMAL(18,6) (exact, order-independent);
    the growth ratio is one double division of two exact sums, rounded
    6 with the −0 normalizer.  Plan: one |months|-sized aggregate, one
    self-join on the (year−1, month) key — aggregates only, facts
    never re-shuffle."""
    t = load_tables(spark, sf_dir, ["orders"])
    m = (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    prev = m.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mo"),
        F.col("rev").alias("prev_rev"),
    )
    return (
        m.join(prev, ["yr", "mo"])
        .select(
            "yr",
            "mo",
            "n_orders",
            F.round(F.col("rev").cast("double"), 2).alias("rev"),
            F.round(F.col("prev_rev").cast("double"), 2).alias("prev_rev"),
            (
                F.round(
                    (F.col("rev") - F.col("prev_rev")).cast("double")
                    / F.col("prev_rev").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("yoy"),
        )
        .orderBy("yr", "mo")
    )


def _q_yoy_growth_sql() -> str:
    return """
WITH m AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
    CAST(month(o_orderdate) AS INTEGER) AS mo,
    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev,
    CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2
)
SELECT c.yr, c.mo, c.n_orders,
  round(CAST(c.rev AS DOUBLE), 2) AS rev,
  round(CAST(p.rev AS DOUBLE), 2) AS prev_rev,
  round(CAST(c.rev - p.rev AS DOUBLE) / CAST(p.rev AS DOUBLE), 6) + 0.0 AS yoy
FROM m c JOIN m p ON p.yr = c.yr - 1 AND p.mo = c.mo
ORDER BY c.yr, c.mo
"""


# -------------------------------------------------------- j_scd2_lookup

def j_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup against the SCD2 history: every event
    joined to the state-version interval containing its timestamp
    (key equi-join + half-open range residual — the
    dimension-at-event-time join every warehouse fact load performs
    against a versioned dimension), rolled up to events-per-version-
    ordinal: (version_n, n_intervals, n_events).

    Non-vacuous containment check: the intervals ARE derived from the
    same stream (cdc_scd2 semantics), so every event must land in
    exactly one version — the gate pins the full distribution, and the
    n_events total equals the event count (pytest).  Plan: intervals
    and facts share ONE user_id exchange (the window sort and the join
    reuse the partitioning); the range condition rides the equi-join
    as a residual filter, never a nested loop."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    iv = chg.select(
        F.col("user_id").alias("iv_user"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version_n"),
    )
    j = ev.join(
        iv,
        (F.col("user_id") == F.col("iv_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return (
        j.groupBy("version_n")
        .agg(
            F.count_distinct("iv_user").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("version_n")
    )


def _j_scd2_lookup_sql() -> str:
    return """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_type
  FROM events
), chg AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
), iv AS (
  SELECT user_id, ts AS valid_from,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS BIGINT) AS version_n
  FROM chg
)
SELECT version_n,
  CAST(COUNT(DISTINCT iv.user_id) AS BIGINT) AS n_users,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e JOIN iv
  ON e.user_id = iv.user_id
 AND e.ts >= iv.valid_from
 AND (iv.valid_to IS NULL OR e.ts < iv.valid_to)
GROUP BY version_n
ORDER BY version_n
"""


# ----------------------------------------------------- w_stl_decompose

def w_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the hourly event-value
    series per type: value = trend + seasonal + residual, where trend
    is the centered 24-hour moving average, seasonal the hour-of-day
    mean of the detrended series, residual the remainder — the
    classical-decomposition shape (Cleveland's STL simplified to one
    pass, public) feeding anomaly detection on the residual channel.

    Determinism: hourly means are exact micro-rounded; the trend MA is
    a decimal-sum window over those 6-dp values with exact half-away
    division (the gapfill recipe); seasonal means re-apply it; the
    final subtraction re-rounds with −0 normalizers.  Edge hours
    lacking a full ±12 window emit NULL trend (and NULL residual) —
    the honest boundary, identical in both engines via explicit row
    counting.

    Scale shape: the fact scan collapses to (type, hour) means first
    (map-side combined); every window and the seasonal join run on the
    tiny bucket series — one sort per type, facts never re-shuffle."""
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
    wt = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(-12, 11)
    )
    # Exact MA of 6-dp values: decimal sum → int64 micro → half-away.
    hourly = hourly.withColumns(
        {
            "__msum": F.sum(F.col("v").cast("decimal(18,6)")).over(wt),
            "__mcnt": F.count(F.lit(1)).over(wt),
        }
    )
    msum, mcnt = F.col("__msum"), F.col("__mcnt")
    micro = (msum * 1000000).cast("long")
    trend_q = F.call_function(
        "div", F.lit(2) * F.abs(micro) + mcnt, F.lit(2) * mcnt
    )
    trend_sign = F.when(micro < 0, F.lit(-1)).otherwise(F.lit(1))
    trend = F.when(
        mcnt == 24, (trend_sign * trend_q) / F.lit(1000000.0)
    )  # full centered window only
    dt = hourly.select(
        "event_type",
        "hb",
        "v",
        trend.alias("trend"),
        (F.col("hb") % 24).alias("hod"),
    ).withColumn(
        "detr",
        F.round(F.col("v") - F.col("trend"), 6) + F.lit(0.0),
    )
    seas = dt.where(F.col("detr").isNotNull()).groupBy("event_type", "hod").agg(
        round_mean_micro(
            F.sum(F.col("detr").cast("decimal(18,6)")), F.count("detr")
        ).alias("seasonal")
    )
    return (
        dt.join(seas, ["event_type", "hod"], "left")
        .select(
            "event_type",
            "hb",
            "v",
            (F.round("trend", 6) + F.lit(0.0)).alias("trend"),
            (F.round("seasonal", 6) + F.lit(0.0)).alias("seasonal"),
            (
                F.round(F.col("detr") - F.col("seasonal"), 6) + F.lit(0.0)
            ).alias("residual"),
        )
        .orderBy("event_type", "hb")
    )


def _w_stl_decompose_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    vmean = sql_round_mean_micro(
        "SUM(CAST(value AS DECIMAL(18,6)))", "COUNT(value)"
    )
    smean = sql_round_mean_micro(
        "SUM(CAST(detr AS DECIMAL(18,6)))", "COUNT(detr)"
    )
    return f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb,
    {vmean} AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), ma AS (
  SELECT event_type, hb, v, hb % 24 AS hod,
    CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w * 1000000 AS BIGINT) AS micro,
    COUNT(*) OVER w AS mcnt
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hb
               ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
), tr AS (
  SELECT event_type, hb, v, hod,
    CASE WHEN mcnt = 24 THEN
      (CASE WHEN micro < 0 THEN -1 ELSE 1 END
       * ((2 * abs(micro) + mcnt) // (2 * mcnt))) / 1000000.0
    END AS trend
  FROM ma
), dt AS (
  SELECT event_type, hb, v, hod, trend,
    round(v - trend, 6) + 0.0 AS detr
  FROM tr
), seas AS (
  SELECT event_type, hod, {smean} AS seasonal
  FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2
)
SELECT d.event_type, hb, v,
  round(trend, 6) + 0.0 AS trend,
  round(seasonal, 6) + 0.0 AS seasonal,
  round(detr - seasonal, 6) + 0.0 AS residual
FROM dt d LEFT JOIN seas s ON s.event_type = d.event_type AND s.hod = d.hod
ORDER BY d.event_type, hb
"""


# -------------------------------------------------------- q_abc_pareto

def q_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    class A while cumulative share < 80%, B < 95%, C otherwise; one
    row per class — (abc_class, n_parts, class_revenue, rev_share) —
    the 80/20 report behind every catalog-rationalization decision.

    Class boundaries compare EXACT cumulative decimal revenue against
    integer percent thresholds (cum·100 vs pct·total as decimals — no
    float boundary can flip a part's class); shares are double
    divisions of the exact totals, rounded 6.  Plan: one |parts|-sized
    aggregate; the cumulative window rides a single revenue-ordered
    sort of aggregates (range-partition it at |users| scale); class
    rollup is a 3-row agg."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (
                        F.lit(1).cast("decimal(18,6)")
                        - F.col("l_discount").cast("decimal(18,6)")
                    )
                ).cast("decimal(18,6)")
            ).alias("rev")
        )
    )
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    tot = rev.agg(F.sum("rev").alias("total"))
    # Global running revenue over |parts| aggregates: range-partitioned
    # cumulative sum (local cumsums + broadcast per-range offsets), not
    # a single-partition ORDER BY window over a linearly-growing frame.
    cum = range_partitioned_rank(
        rev,
        [F.col("rev").desc(), F.col("l_partkey").asc()],
        out_col="__gr",
        sum_col="rev",
        cumsum_out="cum",
    ).drop("__gr")
    classed = (
        cum
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "rev",
            "total",
            F.when(F.col("cum") * 100 < F.col("total") * 80, "A")
            .when(F.col("cum") * 100 < F.col("total") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("rev").cast("double"), 2).alias("class_revenue"),
            F.round(
                F.sum("rev").cast("double") / F.max("total").cast("double"), 6
            ).alias("rev_share"),
        )
        .orderBy("abc_class")
    )


def _q_abc_pareto_sql() -> str:
    rev = (
        "CAST(CAST(l_extendedprice AS DECIMAL(18,6))"
        " * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))"
        " AS DECIMAL(18,6))"
    )
    return f"""
WITH r AS (
  SELECT l_partkey, SUM({rev}) AS rev FROM lineitem GROUP BY 1
), t AS (
  SELECT SUM(rev) AS total FROM r
), c AS (
  SELECT l_partkey, rev, total,
    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM r CROSS JOIN t
)
SELECT CASE WHEN cum * 100 < total * 80 THEN 'A'
            WHEN cum * 100 < total * 95 THEN 'B' ELSE 'C' END AS abc_class,
  CAST(COUNT(*) AS BIGINT) AS n_parts,
  round(CAST(SUM(rev) AS DOUBLE), 2) AS class_revenue,
  round(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(total) AS DOUBLE), 6) AS rev_share
FROM c GROUP BY 1 ORDER BY abc_class
"""


# --------------------------------------------------- a_funnel_windowed

_FUNNEL_WINDOW_DAYS = 7


def a_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound conversion funnel view → click → purchase: each step
    must happen within 7 days of the PREVIOUS step's qualifying event
    — the windowed refinement of ``a_funnel_steps``' unlimited-time
    strict funnel (the form growth teams actually report, since a
    click three months later is not a conversion).  One row per step:
    (step, n_users, conv_ppm of step-1).

    Integer-exact: qualifying times are min-aggregates, the window
    bound is a timestamp add of a literal interval, conversion is ppm
    integer division.  Plan: per step one predicate-pruned event slice
    joined against the shrinking qualified frame (same shape as
    a_funnel_steps — each step shuffles only (user, ts))."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]

    def slice_of(ev: str) -> DataFrame:
        return e.where(F.col("event_type") == ev).select("user_id", "ts")

    win = F.expr(f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAYS")
    v = (
        slice_of("view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=True)
    )
    c = (
        slice_of("click")
        .join(v, "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint(eager=True)
    )
    p = (
        slice_of("purchase")
        .join(c, "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(1).alias("step"), F.lit("view").alias("step_name"), "n"
    )
    nc = c.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(2).alias("step"), F.lit("click_7d").alias("step_name"), "n"
    )
    np_ = p.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(3).alias("step"), F.lit("purchase_7d").alias("step_name"), "n"
    )
    base = v.agg(F.count(F.lit(1)).alias("base"))
    return (
        nv.unionByName(nc)
        .unionByName(np_)
        .crossJoin(F.broadcast(base))
        .select(
            "step",
            "step_name",
            F.col("n").alias("n_users"),
            F.call_function(
                "div",
                F.col("n") * 1000000 + F.call_function("div", F.col("base"), F.lit(2)),
                F.col("base"),
            ).alias("conv_ppm"),
        )
        .orderBy("step")
    )


def _a_funnel_windowed_sql() -> str:
    d = _FUNNEL_WINDOW_DAYS
    return f"""
WITH v AS MATERIALIZED (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), c AS MATERIALIZED (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL {d} DAY
  GROUP BY 1
), p AS MATERIALIZED (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND e.ts <= c.t2 + INTERVAL {d} DAY
  GROUP BY 1
), counts AS (
  SELECT 1 AS step, 'view' AS step_name, CAST(COUNT(*) AS BIGINT) AS n FROM v
  UNION ALL
  SELECT 2, 'click_7d', CAST(COUNT(*) AS BIGINT) FROM c
  UNION ALL
  SELECT 3, 'purchase_7d', CAST(COUNT(*) AS BIGINT) FROM p
), b AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS base FROM v
)
SELECT step, step_name, n AS n_users,
  CAST((n * 1000000 + base // 2) // base AS BIGINT) AS conv_ppm
FROM counts CROSS JOIN b
ORDER BY step
"""


# ------------------------------------------------------ t_keyphrase_rake

_RAKE_STOPS = ("the", "a", "and", "of", "to", "in", "is")
_RAKE_TOPK = 15


def t_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, public): stopwords
    delimit candidate phrases; each word scores deg(w)/freq(w) (deg =
    Σ phrase lengths containing w), a phrase scores the sum of its
    word scores.  Top-15 multi-word phrases by (score, phrase) with
    occurrence counts — the second keyword extractor next to
    ``t_textrank`` (co-occurrence-graph-free, so it is one pass over
    the corpus instead of an iterative fixed-point).

    Determinism: deg/freq are exact integers; word scores are single
    int64 divisions (identical doubles); the phrase sum folds through
    DECIMAL(28,12); phrase strings assemble with an ORDER BY pos
    string-agg on both engines.  Scale shape: phrase segmentation is
    one posexplode + one per-doc running sum (stopword prefix count) —
    a single doc-partitioned sort; word stats and the phrase join are
    vocabulary-bounded aggregates."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    toks = (
        _toks_df(spark, sf_dir)
        .select("doc_id", F.posexplode("toks").alias("pos", "tok"))
        .withColumn("is_stop", F.col("tok").isin(*_RAKE_STOPS))
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seg = toks.withColumn(
        "grp", F.sum(F.col("is_stop").cast("int")).over(w)
    ).where(~F.col("is_stop"))
    phrases = (
        seg.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .where(F.col("plen") >= 2)
    )
    words = phrases.select(
        "plen", F.explode(F.split("phrase", " ")).alias("word")
    )
    stats = words.groupBy("word").agg(
        F.sum("plen").alias("deg"), F.count(F.lit(1)).alias("freq")
    )
    distinct_p = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.max("plen").alias("n_words"),
    )
    scored = (
        distinct_p.select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("word"),
        )
        .join(stats, "word")
        .groupBy("phrase", "n_words", "n_occurrences")
        .agg(
            F.round(
                F.sum(
                    (F.col("deg").cast("double") / F.col("freq").cast("double"))
                    .cast("decimal(28,12)")
                ).cast("double"),
                6,
            ).alias("score")
        )
    )
    from kp_crypto_market_analytics_spark.operators.windows import top_k

    return top_k(
        scored, [F.col("score").desc(), F.col("phrase").asc()], _RAKE_TOPK
    ).select("phrase", "n_words", "n_occurrences", "score")


def _t_keyphrase_rake_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    return f"""
WITH norm AS (
  SELECT doc_id,
    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS l
  FROM documents
), idx AS (
  SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM norm
), toks AS (
  SELECT doc_id, i - 1 AS pos, l[i] AS tok,
    l[i] IN ({stops}) AS is_stop
  FROM idx
), seg AS MATERIALIZED (
  SELECT doc_id, pos, tok, is_stop,
    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM toks
), kept AS MATERIALIZED (
  SELECT doc_id, pos, tok, grp FROM seg WHERE NOT is_stop
), phrases AS MATERIALIZED (
  SELECT doc_id, grp,
    string_agg(tok, ' ' ORDER BY pos) AS phrase,
    CAST(COUNT(*) AS BIGINT) AS plen
  FROM kept GROUP BY 1, 2
  HAVING COUNT(*) >= 2
), words AS (
  SELECT plen, unnest(string_split(phrase, ' ')) AS word FROM phrases
), stats AS MATERIALIZED (
  SELECT word, CAST(SUM(plen) AS BIGINT) AS deg,
    CAST(COUNT(*) AS BIGINT) AS freq
  FROM words GROUP BY 1
), dp AS MATERIALIZED (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
    CAST(MAX(plen) AS BIGINT) AS n_words
  FROM phrases GROUP BY 1
), pw AS (
  SELECT phrase, n_words, n_occurrences,
    unnest(string_split(phrase, ' ')) AS word
  FROM dp
)
SELECT phrase, n_words, n_occurrences,
  round(CAST(SUM(CAST(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE), 6) AS score
FROM pw JOIN stats USING (word)
GROUP BY phrase, n_words, n_occurrences
ORDER BY score DESC, phrase LIMIT {_RAKE_TOPK}
"""


# --------------------------------------------------------- a_cohort_ltv

def a_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: users grouped by first-seen week, with
    cumulative event value captured within 1 / 2 / 4 weeks of first
    touch — the value-weighted companion to ``a_retention_cohorts``'
    presence counts (what growth calls the LTV curve).

    Exact: cohort assignment is an integer week index, the windowed
    revenue cuts are conditional DECIMAL(18,6) sums on integer
    day-offsets.  Plan: one (user) first-seen agg, one join back to
    events on user (the only fact shuffle), conditional partial aggs
    to the |cohorts|-sized result."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].where(F.col("value").isNotNull())
    first = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
    j = e.select("user_id", "ts", "value").join(first, "user_id")
    dd = F.datediff(F.to_date("ts"), F.to_date("t0"))
    week0 = F.call_function(
        "div",
        F.datediff(F.to_date("t0"), F.lit("2024-01-01").cast("date")),
        F.lit(7),
    )

    def rev_within(days: int, name: str):
        return (
            F.sum(
                F.when(dd < days, F.col("value").cast("decimal(18,6)")).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )
            )
            .cast("double")
            .alias(name)
        )

    return (
        j.groupBy(week0.alias("cohort_week"))
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.round(rev_within(7, "r7"), 2).alias("rev_w1"),
            F.round(rev_within(14, "r14"), 2).alias("rev_w2"),
            F.round(rev_within(28, "r28"), 2).alias("rev_w4"),
        )
        .orderBy("cohort_week")
    )


def _a_cohort_ltv_sql() -> str:
    def rev(days: int) -> str:
        return (
            "round(CAST(SUM(CASE WHEN dd < {d} THEN CAST(value AS DECIMAL(18,6))"
            " ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 2)"
        ).format(d=days)

    return f"""
WITH e AS (
  SELECT user_id, ts, value FROM events WHERE value IS NOT NULL
), f AS (
  SELECT user_id, MIN(ts) AS t0 FROM e GROUP BY 1
), j AS (
  SELECT e.user_id, value,
    CAST(e.ts AS DATE) - CAST(f.t0 AS DATE) AS dd,
    (CAST(f.t0 AS DATE) - DATE '2024-01-01') // 7 AS cohort_week
  FROM e JOIN f ON f.user_id = e.user_id
)
SELECT cohort_week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  {rev(7)} AS rev_w1,
  {rev(14)} AS rev_w2,
  {rev(28)} AS rev_w4
FROM j GROUP BY cohort_week
ORDER BY cohort_week
"""


# --------------------------------------------------------- a_active_users

def a_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU active-user rollup per day with the DAU/MAU
    stickiness ratio — THE standing product-analytics metric family
    (windowed distinct counts, which no plain window frame can express
    because distinct does not decompose).

    Exact recipe: collapse events to the distinct (user, day) grain
    once (the only fact-scale shuffle), then count each day's trailing
    7- and 28-day windows by joining the tiny day spine against
    user-days on a range residual — |days| × |user-days-in-window|
    intermediate, bounded by span × daily-actives, never |events|.
    Stickiness is an exact micro-rounded ratio of BIGINTs.  At 100 TB
    the same plan holds: user-day is the pre-aggregated activity table
    every warehouse materializes, and the spine join broadcasts.  (The
    sketch alternative — mergeable HLL registers per day, max-merged
    over the window — is a_hll_merge's documented pattern when exact
    distinct is too wide.)"""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )

    t = load_tables(spark, sf_dir, ["events"])
    ud = (
        t["events"]
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def trailing(n_days: int, name: str) -> DataFrame:
        return (
            F.broadcast(days.select(F.col("day").alias("d")))
            .join(
                ud,
                (F.col("day") <= F.col("d"))
                & (F.col("day") > F.date_sub(F.col("d"), n_days)),
            )
            .groupBy("d")
            .agg(F.count_distinct("user_id").alias(name))
            .withColumnRenamed("d", "day")
        )

    return (
        dau.join(trailing(7, "wau"), "day")
        .join(trailing(28, "mau"), "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            round_mean_micro(
                F.col("dau").cast("decimal(18,6)"), F.col("mau")
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


def _a_active_users_sql() -> str:
    stick = sql_round_mean_micro("CAST(dau AS DECIMAL(18,6))", "mau")
    return f"""
WITH ud AS MATERIALIZED (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), days AS (
  SELECT DISTINCT day AS d FROM ud
), dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
), wau AS (
  SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM days JOIN ud ON ud.day <= d AND ud.day > d - 7
  GROUP BY 1
), mau AS (
  SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM days JOIN ud ON ud.day <= d AND ud.day > d - 28
  GROUP BY 1
)
SELECT dau.day, dau, wau, mau, {stick} AS stickiness
FROM dau JOIN wau ON wau.d = dau.day JOIN mau ON mau.d = dau.day
ORDER BY dau.day
"""


# -------------------------------------------------------- q_customer_rfm

def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles) —
    the canonical marketing-analytics customer partition.  Per
    customer: days since last order, order count, revenue; each scored
    1-5 against the exact population quintiles; output the segment
    grid (r_score, f_score, m_score, n_customers, avg_monetary).

    Exactness: metrics are integers / exact decimals; quintile
    thresholds come from the exact percentile (quantile_cont parity,
    the a_grouped_quantiles recipe — conf-switched to sketches at
    scale), and scoring is pure comparisons against those shared
    thresholds; avg monetary is the micro-rounded exact mean.  Plan:
    one |customers| aggregate, one broadcast threshold row, a ≤125-row
    segment rollup."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        percentile_expr,
    )

    t = load_tables(spark, sf_dir, ["orders"])
    o = t["orders"]
    gmax = o.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_o"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("monetary"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "o_custkey",
            F.datediff("gmax", "last_o").cast("long").alias("rec_days"),
            "freq",
            "monetary",
            F.col("monetary").cast("double").alias("m_dbl"),
        )
        .localCheckpoint(eager=True)  # feeds thresholds AND scoring
    )
    qs = cust.agg(
        *[
            percentile_expr(cust, "rec_days", p).alias(f"r{int(p * 100)}")
            for p in (0.2, 0.4, 0.6, 0.8)
        ],
        *[
            percentile_expr(cust, "freq", p).alias(f"f{int(p * 100)}")
            for p in (0.2, 0.4, 0.6, 0.8)
        ],
        *[
            percentile_expr(cust, "m_dbl", p).alias(f"m{int(p * 100)}")
            for p in (0.2, 0.4, 0.6, 0.8)
        ],
    )

    def score_up(col: str, pre: str):
        return (
            F.lit(1)
            + sum(
                F.when(F.col(col) > F.col(f"{pre}{q}"), 1).otherwise(0)
                for q in (20, 40, 60, 80)
            )
        ).cast("int")

    def score_down(col: str, pre: str):
        return (
            F.lit(1)
            + sum(
                F.when(F.col(col) < F.col(f"{pre}{q}"), 1).otherwise(0)
                for q in (20, 40, 60, 80)
            )
        ).cast("int")

    scored = cust.crossJoin(F.broadcast(qs)).select(
        score_down("rec_days", "r").alias("r_score"),
        score_up("freq", "f").alias("f_score"),
        score_up("m_dbl", "m").alias("m_score"),
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            round_mean_micro(F.sum("monetary"), F.count(F.lit(1))).alias(
                "avg_monetary"
            ),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def _q_customer_rfm_sql() -> str:
    avg_m = sql_round_mean_micro("SUM(monetary)", "COUNT(*)")
    up = lambda col, pre: " + ".join(
        f"(CASE WHEN {col} > {pre}{q} THEN 1 ELSE 0 END)" for q in (20, 40, 60, 80)
    )
    down = lambda col, pre: " + ".join(
        f"(CASE WHEN {col} < {pre}{q} THEN 1 ELSE 0 END)" for q in (20, 40, 60, 80)
    )
    return f"""
WITH g AS (
  SELECT MAX(o_orderdate) AS gmax FROM orders
), cust AS MATERIALIZED (
  SELECT o_custkey,
    CAST(CAST(gmax AS DATE) - CAST(MAX(o_orderdate) AS DATE) AS BIGINT)
      AS rec_days,
    CAST(COUNT(*) AS BIGINT) AS freq,
    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS monetary,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS m_dbl
  FROM orders CROSS JOIN g GROUP BY o_custkey, gmax
), qs AS (
  SELECT
    quantile_cont(rec_days, 0.2) AS r20, quantile_cont(rec_days, 0.4) AS r40,
    quantile_cont(rec_days, 0.6) AS r60, quantile_cont(rec_days, 0.8) AS r80,
    quantile_cont(freq, 0.2) AS f20, quantile_cont(freq, 0.4) AS f40,
    quantile_cont(freq, 0.6) AS f60, quantile_cont(freq, 0.8) AS f80,
    quantile_cont(m_dbl, 0.2) AS m20, quantile_cont(m_dbl, 0.4) AS m40,
    quantile_cont(m_dbl, 0.6) AS m60, quantile_cont(m_dbl, 0.8) AS m80
  FROM cust
), scored AS (
  SELECT CAST(1 + {down('rec_days', 'r')} AS INTEGER) AS r_score,
         CAST(1 + {up('freq', 'f')} AS INTEGER) AS f_score,
         CAST(1 + {up('m_dbl', 'm')} AS INTEGER) AS m_score,
         monetary
  FROM cust CROSS JOIN qs
)
SELECT r_score, f_score, m_score,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  {avg_m} AS avg_monetary
FROM scored GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
"""


# ----------------------------------------------------- a_order_intervals

def a_order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: per-customer day gaps
    between consecutive orders, summarized once — (n_intervals,
    mean / p50 / p90 days) — the inter-arrival analysis behind
    reorder-cycle and churn-risk models.

    One (customer) exchange for the lag, integer day gaps, exact
    micro-rounded mean and exact percentiles (conf-switched to
    sketches at scale, the standing a7 lever)."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        percentile_expr,
    )

    t = load_tables(spark, sf_dir, ["orders"])
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t["orders"]
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev", F.lag("o_orderdate").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            F.datediff("o_orderdate", "prev").cast("long").alias("gap_days")
        )
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        round_mean_micro(
            F.sum(F.col("gap_days").cast("decimal(18,6)")), F.count(F.lit(1))
        ).alias("mean_days"),
        F.round(percentile_expr(gaps, "gap_days", 0.5), 6).alias("p50_days"),
        F.round(percentile_expr(gaps, "gap_days", 0.9), 6).alias("p90_days"),
    )


def _a_order_intervals_sql() -> str:
    mean = sql_round_mean_micro(
        "SUM(CAST(gap_days AS DECIMAL(18,6)))", "COUNT(*)"
    )
    return f"""
WITH lagged AS (
  SELECT o_custkey, o_orderdate,
    lag(o_orderdate) OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
), gaps AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - CAST(prev AS DATE) AS BIGINT)
           AS gap_days
  FROM lagged WHERE prev IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_intervals,
  {mean} AS mean_days,
  round(quantile_cont(gap_days, 0.5), 6) AS p50_days,
  round(quantile_cont(gap_days, 0.9), 6) AS p90_days
FROM gaps
"""


# ------------------------------------------------------ a_session_paths


def a_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 session event-type PATHS: gap-sessionize (30 min, the
    w_sessionize rule), render each session as its ordered '>'-joined
    event-type sequence, and rank paths by frequency — full-path
    sequence mining, the whole-journey complement to
    a_markov_transition's first-order transitions (which by
    construction cannot distinguish view>click>buy from click>view>buy).

    Determinism: the path string is built from a sort_array over
    (epoch-µs, event_id, type) structs — a total order, so both
    engines render identical strings; counts are integers; the top-15
    breaks ties on the path string.

    Scale shape: ONE user exchange serves sessionize and the per-
    session path build (same partitioning); the path agg shuffles
    |distinct paths| rows (Zipfian — partial agg absorbs the mass) and
    the top-15 sorts path-grain scalars."""
    from kp_crypto_market_analytics_spark.operators.windows import sessionize

    t = load_tables(spark, sf_dir, ["events"])
    s = sessionize(t["events"], "user_id", "ts", gap_seconds=1800, tiebreak="event_id")
    paths = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("s_us"),
                                F.col("event_id").alias("eid"),
                                F.col("event_type").alias("et"),
                            )
                        )
                    ),
                    lambda x: x["et"],
                ),
                ">",
            ).alias("path")
        )
    )
    # distributed top-k (TakeOrdered), THEN rank the 15 survivors — a
    # global row_number window here would single-partition |paths| rows
    top15 = (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(15)
    )
    ranked = top15.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        ),
    )
    return ranked.select("rank", "path", "n_sessions").orderBy("rank")


_A_SESSION_PATHS_SQL = """
WITH lagged AS (
  SELECT user_id, ts, event_id, event_type,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN prev_ts IS NULL
      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
      THEN 1 ELSE 0 END AS new_s
  FROM lagged
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), paths AS (
  SELECT user_id, session_id,
    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM numbered GROUP BY user_id, session_id
), ranked AS (
  SELECT path, COUNT(*) AS n_sessions,
    row_number() OVER (ORDER BY COUNT(*) DESC, path) AS rank
  FROM paths GROUP BY path
)
SELECT CAST(rank AS BIGINT) AS rank, path,
  CAST(n_sessions AS BIGINT) AS n_sessions
FROM ranked WHERE rank <= 15 ORDER BY rank
"""


# ------------------------------------------------------ a_mutual_info


def a_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event_type and hour-of-day, with
    per-cell pointwise MI — the feature-selection primitive a training
    pipeline runs to rank categorical features against a target
    (Cover & Thomas, public).  Per (type, hour) cell: observed count,
    expected count under independence, PMI in nats, and the corpus MI
    (the same scalar on every row, by construction).

    Determinism: all inputs are exact integer counts; expected_n uses
    the exact half-away micro division (round_mean_micro); PMI rounds
    a single ln of an exact-integer ratio (−0 normalized); MI folds
    per-cell terms as rounded BIGINT micro-units and sums INTEGERS —
    a float Σ p·ln(p/(pₓp_y)) over cells would be order-dependent.

    Scale shape: one map-side-combined cell agg (|types|·24 rows), two
    broadcast marginal joins, one unpartitioned window over the cell
    table.  Nothing row-shaped survives the first agg."""
    t = load_tables(spark, sf_dir, ["events"])
    cells = (
        t["events"]
        .select("event_type", F.hour("ts").alias("hb"))
        .groupBy("event_type", "hb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mt = cells.groupBy("event_type").agg(F.sum("n").alias("nt"))
    mh = cells.groupBy("hb").agg(F.sum("n").alias("nh"))
    tot = cells.agg(F.sum("n").alias("n_tot"))
    joined = (
        cells.join(F.broadcast(mt), "event_type")
        .join(F.broadcast(mh), "hb")
        .crossJoin(F.broadcast(tot))
    )
    ln_ratio = F.log(
        F.col("n").cast("double")
        * F.col("n_tot")
        / (F.col("nt") * F.col("nh"))
    )
    term_micro = F.round(
        F.col("n").cast("double") / F.col("n_tot") * ln_ratio * F.lit(1_000_000.0), 0
    ).cast("long")
    terms = joined.withColumn("tm", term_micro)
    # corpus MI as a 1-row agg broadcast back onto the cells (r8: the
    # former SUM OVER () funneled the cell frame through one window
    # task; the agg+crossJoin form keeps the plan global-window-free
    # with identical values)
    mi = terms.agg(F.sum("tm").alias("tm_tot"))
    return (
        terms.crossJoin(F.broadcast(mi))
        .select(
            "event_type",
            "hb",
            F.col("n").cast("long").alias("n"),
            # DECIMAL(38,0) micro path: nt·nh exceeds int64 micro
            # range once a marginal holds ~3M rows (the a_mutual_info
            # overflow class round_ratio_micro_dec exists for).
            round_ratio_micro_dec(
                (F.col("nt") * F.col("nh")).cast("decimal(38,6)"), F.col("n_tot")
            ).alias("expected_n"),
            (F.round(ln_ratio, 6) + F.lit(0.0)).alias("pmi"),
            (F.col("tm_tot") / F.lit(1_000_000.0)).alias("mi_nats"),
        )
        .orderBy("event_type", "hb")
    )


def _a_mutual_info_sql() -> str:
    expected = sql_round_ratio_micro_huge("CAST(nt * nh AS DECIMAL(38,6))", "n_tot")
    ln_ratio = "ln(CAST(n AS DOUBLE) * n_tot / (nt * nh))"
    return f"""
WITH cells AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hb, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), mt AS (
  SELECT event_type, SUM(n) AS nt FROM cells GROUP BY 1
), mh AS (
  SELECT hb, SUM(n) AS nh FROM cells GROUP BY 1
), tot AS (
  SELECT SUM(n) AS n_tot FROM cells
), joined AS (
  SELECT c.event_type, c.hb, c.n, nt, nh, n_tot
  FROM cells c JOIN mt USING (event_type) JOIN mh USING (hb) CROSS JOIN tot
), terms AS (
  SELECT event_type, hb, n, nt, nh, n_tot,
    CAST(round(CAST(n AS DOUBLE) / n_tot * {ln_ratio} * 1000000.0, 0) AS BIGINT) AS tm
  FROM joined
)
SELECT event_type, hb, CAST(n AS BIGINT) AS n,
  {expected} AS expected_n,
  round({ln_ratio}, 6) + 0.0 AS pmi,
  SUM(tm) OVER () / 1000000.0 AS mi_nats
FROM terms ORDER BY event_type, hb
"""


# ------------------------------------------------------ q_skyline_frontier


def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over customers: (total spend,
    order count) — a customer is on the frontier iff no other customer
    has >= on both axes with > on at least one (Borzsony/Kossmann
    skyline operator, public).  The multi-objective "best customers"
    report a dominance query answers without a scoring formula.

    Scale shape: NOT the O(n²) anti-join the textbook definition
    implies — one agg to customer grain, then collapse to DISTINCT
    spend levels (per-level max count), one global sort of the level
    table, and a running-max lag gives dominance in O(levels): a row
    survives iff it carries its level's max count AND that count
    strictly exceeds every higher-spend level's best.  At 100 TB the
    level table is orders of magnitude smaller than the customer
    grain; the single sort rides AQE-coalesced scalar rows.  The
    DuckDB oracle runs the literal NOT EXISTS dominance predicate, so
    the gate proves the window rewrite IS the skyline.

    Determinism: spend is an exact DECIMAL(18,2) sum (level equality is
    exact); counts are integers; output casts spend to double only for
    display."""
    t = load_tables(spark, sf_dir, ["orders"])
    cust = t["orders"].groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    levels = cust.groupBy("spend_dec").agg(F.max("n_orders").alias("lvl_max"))
    # Exclusive prefix-max over descending spend, range-partitioned:
    # with DECIMAL(18,2) sums nearly every customer's spend is unique,
    # so |levels| ≈ |customers| — linear in data, not a frame to funnel
    # through one task.
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    frontier_lvls = (
        range_partitioned_rank(
            levels,
            [F.col("spend_dec").desc()],
            out_col="__lr",
            max_col="lvl_max",
            cummax_out="prev_best",
            exclusive_max=True,
        )
        .where(F.col("prev_best").isNull() | (F.col("lvl_max") > F.col("prev_best")))
        .select(
            F.col("spend_dec").alias("f_spend"), F.col("lvl_max").alias("f_max")
        )
    )
    return (
        cust.join(
            F.broadcast(frontier_lvls),
            (F.col("spend_dec") == F.col("f_spend"))
            & (F.col("n_orders") == F.col("f_max")),
        )
        .select(
            F.col("o_custkey").cast("long").alias("custkey"),
            F.col("spend_dec").cast("double").alias("spend"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
        .orderBy(F.col("spend").desc(), F.col("custkey"))
    )


_Q_SKYLINE_SQL = """
WITH cust AS (
  SELECT o_custkey AS custkey,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec,
    COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT CAST(a.custkey AS BIGINT) AS custkey,
  CAST(a.spend_dec AS DOUBLE) AS spend,
  CAST(a.n_orders AS BIGINT) AS n_orders
FROM cust a
WHERE NOT EXISTS (
  SELECT 1 FROM cust b
  WHERE b.spend_dec >= a.spend_dec AND b.n_orders >= a.n_orders
    AND (b.spend_dec > a.spend_dec OR b.n_orders > a.n_orders)
)
ORDER BY spend DESC, custkey
"""


# ------------------------------------------------------ a_attribution

_TOUCH_TYPES = ("view", "click", "signup")


def a_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch revenue attribution: every `purchase`
    credits its user's earliest and latest preceding touch event
    (view/click/signup) — the two bookend models of marketing
    attribution, computed in one pass.  Purchases with no prior touch
    are excluded (reported models require a touch to credit).

    Scale shape: ONE per-user window sort serves both models —
    first()/last() with ignorenulls over the unbounded-preceding frame
    picks the bookends without a self-join; the melt to (model, type)
    pairs is a 2× row map, and the final agg is |touch types|-sized.
    No per-purchase join against the touch history (which at 100 TB
    would be the classic event-attribution blowup).

    Determinism: revenue sums are exact DECIMAL(18,2) over 2-dp
    values; counts are integers; ties in event ordering break on
    event_id."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type").isin(*_TOUCH_TYPES), F.col("event_type"))
    conv = (
        e.withColumn("first_t", F.first(touch, ignorenulls=True).over(w))
        .withColumn("last_t", F.last(touch, ignorenulls=True).over(w))
        .where((F.col("event_type") == "purchase") & F.col("first_t").isNotNull())
        .select("first_t", "last_t", F.col("value").cast("decimal(18,2)").alias("rev"))
    )
    melted = conv.select(
        F.explode(
            F.array(
                F.struct(F.lit("first_touch").alias("model"), F.col("first_t").alias("touch_type"), F.col("rev")),
                F.struct(F.lit("last_touch").alias("model"), F.col("last_t").alias("touch_type"), F.col("rev")),
            )
        ).alias("x")
    ).select("x.model", "x.touch_type", "x.rev")
    return (
        melted.groupBy("model", "touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .orderBy("model", "touch_type")
    )


def _a_attribution_sql() -> str:
    touches = ", ".join(f"'{t}'" for t in _TOUCH_TYPES)
    return f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type, value,
    CASE WHEN event_type IN ({touches}) THEN event_type END AS touch
  FROM events
), bookends AS (
  SELECT event_type, value,
    first_value(touch IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_t,
    last_value(touch IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_t
  FROM marked
), conv AS (
  SELECT first_t, last_t, CAST(value AS DECIMAL(18,2)) AS rev
  FROM bookends
  WHERE event_type = 'purchase' AND first_t IS NOT NULL
), melted AS (
  SELECT 'first_touch' AS model, first_t AS touch_type, rev FROM conv
  UNION ALL
  SELECT 'last_touch' AS model, last_t AS touch_type, rev FROM conv
)
SELECT model, touch_type,
  CAST(COUNT(*) AS BIGINT) AS n_conversions,
  CAST(SUM(rev) AS DOUBLE) AS revenue
FROM melted GROUP BY model, touch_type
ORDER BY model, touch_type
"""


# ------------------------------------------------------ w_interval_merge

_IVM_SPAN_US = 300 * 1_000_000  # each event opens a 5-minute activity interval


def w_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge: every event opens a 5-minute
    activity interval; per event_type, coalesce all overlapping
    intervals (across users) into maximal islands and report island
    count, total covered time, and the longest island — the coverage
    primitive behind uptime/SLA reporting and validity-interval
    compaction.

    Scale shape: one per-type sort; the running max of interval ends
    over the preceding frame detects island starts, and a running sum
    of start flags numbers islands — the classic two-window rewrite
    that replaces the quadratic overlap self-join.  Everything after
    the sort is (type, island)-grain.  All arithmetic is exact BIGINT
    epoch-microseconds.

    Cf. j_interval_overlap (grid-cell overlap JOIN); this is the
    MERGE/coverage side of interval algebra."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.lit(_IVM_SPAN_US)).alias("en"),
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("event_type").orderBy("s", "event_id")
    flagged = e.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(F.max("en").over(w_prev), F.lit(-(1 << 62))),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("new_island").over(w_run))
    islands = flagged.groupBy("event_type", "island").agg(
        F.min("s").alias("i_start"),
        F.max("en").alias("i_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        islands.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("i_end") - F.col("i_start")).alias("covered_us"),
            F.max(F.col("i_end") - F.col("i_start")).alias("max_island_us"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("event_type")
    )


_W_INTERVAL_MERGE_SQL = f"""
WITH iv AS (
  SELECT event_type, event_id, epoch_us(ts) AS s,
    epoch_us(ts) + {_IVM_SPAN_US} AS en
  FROM events
), flagged AS (
  SELECT event_type, s, en,
    CASE WHEN s > coalesce(MAX(en) OVER (
        PARTITION BY event_type ORDER BY s, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), {-(1 << 62)})
      THEN 1 ELSE 0 END AS new_island,
    event_id
  FROM iv
), numbered AS (
  SELECT event_type, s, en,
    SUM(new_island) OVER (PARTITION BY event_type ORDER BY s, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), islands AS (
  SELECT event_type, island, MIN(s) AS i_start, MAX(en) AS i_end,
    COUNT(*) AS n_events
  FROM numbered GROUP BY event_type, island
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_islands,
  CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us,
  CAST(MAX(i_end - i_start) AS BIGINT) AS max_island_us,
  CAST(SUM(n_events) AS BIGINT) AS n_events
FROM islands GROUP BY event_type ORDER BY event_type
"""


REGISTRY = (
    (t_hashed_features, _t_hashed_features_sql()),
    (g_jaccard_sim, _g_jaccard_sim_sql()),
    (a_markov_transition, _a_markov_transition_sql()),
    (q_rank_movers, _q_rank_movers_sql()),
    (g_kcore, _g_kcore_sql()),
    (q_yoy_growth, _q_yoy_growth_sql()),
    (j_scd2_lookup, _j_scd2_lookup_sql()),
    (w_stl_decompose, _w_stl_decompose_sql()),
    (q_abc_pareto, _q_abc_pareto_sql()),
    (a_funnel_windowed, _a_funnel_windowed_sql()),
    (t_keyphrase_rake, _t_keyphrase_rake_sql()),
    (a_cohort_ltv, _a_cohort_ltv_sql()),
    (a_active_users, _a_active_users_sql()),
    (q_customer_rfm, _q_customer_rfm_sql()),
    (a_order_intervals, _a_order_intervals_sql()),
    (q_skyline_frontier, _Q_SKYLINE_SQL),
    (a_attribution, _a_attribution_sql()),
    (w_interval_merge, _W_INTERVAL_MERGE_SQL),
    (a_mutual_info, _a_mutual_info_sql()),
    (a_session_paths, _A_SESSION_PATHS_SQL),
)
