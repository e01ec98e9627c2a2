"""Round-3 graph-analytics family on the part co-purchase graph.

Extends the graph surface (PageRank-on-sentences ``t_textrank``,
connected components ``dedup_clusters``, triangle census
``g_triangle_count``, association rules ``g_assoc_rules``) with the
three remaining classic distributed-graph primitives, all on the same
support-thresholded co-purchase graph so the family shares one edge
builder:

- ``g_pagerank``     — node centrality: weighted PageRank (damping
  0.85, 3 iterations) over co-purchase edges weighted by support;
  top-20 parts by rank.
- ``g_degree_stats`` — the degree distribution (degree → node count →
  share), the first thing a graph job reports and the input to any
  skew plan (hub detection drives orientation/salting choices).
- ``g_label_prop``   — community detection by synchronous mode-label
  propagation (Raghavan, Albert & Kumara 2007, public), 2 rounds,
  deterministic (count DESC, label ASC) tie-break; top-20 communities
  by size.  Genuinely different fixed-point from dedup_clusters' CC
  min-fold: the update is an argmax over neighbor-label frequencies,
  not a min, so dense subgraphs keep separate labels where CC would
  merge every connected part into one blob.

Reference anchor: the co-purchase basket graph abstracts the
reference's symbol-correlation clustering surface
(`src/analytics/binance_analysis.py:504-560` builds a correlation
matrix and reads off strongly-linked groups); these queries are the
graph-native generalization at catalog scale.

Determinism recipe (shared with operators/graph.py): ratios are exact
integer divisions rendered once as doubles; PageRank contribution sums
fold through DECIMAL(28,12) (exact, order-independent); each iterate
rounds to 10 dp; label propagation is all-integer with a total-order
tie-break.  The DuckDB oracles unroll the same iterations and
reproduce every value bit-for-bit.

Scale shape: baskets are small, so pair generation is Σ C(k,2); the
support-2 HAVING prunes the long tail before any iteration; per
PageRank round one skinny hash join + map-side-combined sum; per LPA
round one join + count + argmax window over (node, label) pairs —
bounded by the edge count, never by |V|².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.copurchase import (
    PAIRS_SQL as _PAIRS_SQL,
    copurchase_pairs as _copurchase_pairs,
)

_PR_ITERS = 3
_LPA_ITERS = 2


# ----------------------------------------------------------- g_pagerank

def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by weighted PageRank over the co-purchase graph.

    Reuses operators/graph.py:pagerank_weighted (the t_textrank
    engine) on a BIGINT-node graph: edges are the support-weighted
    co-purchase pairs, symmetrized.  Rank mass concentrates on parts
    that co-occur with many other well-connected parts — the catalog
    centrality a recommender seeds from.
    """
    from kp_crypto_market_analytics_spark.operators.graph import pagerank_weighted

    pairs = _copurchase_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.col("support").alias("weight")
    ).unionByName(
        pairs.select(
            F.col("v").alias("src"), F.col("u").alias("dst"), F.col("support").alias("weight")
        )
    )
    pr = pagerank_weighted(edges, iters=_PR_ITERS)
    return (
        pr.select(
            F.col("node").alias("part"),
            F.round(F.col("pr"), 6).alias("rank_score"),
        )
        .orderBy(F.col("rank_score").desc(), F.col("part").asc())
        .limit(20)
    )


def _g_pagerank_sql(iters: int = _PR_ITERS) -> str:
    # Lockstep with pagerank_weighted: integer-exact ratios,
    # DECIMAL(28,12) contribution sums, 10 dp per-iteration rounding.
    parts = [f"""
WITH {_PAIRS_SQL}, edges AS (
  SELECT u AS src, v AS dst, support AS weight FROM pairs
  UNION ALL SELECT v, u, support FROM pairs
), wdeg AS (
  SELECT src, CAST(SUM(weight) AS BIGINT) AS wdeg FROM edges GROUP BY 1
), er AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(weight AS DOUBLE) / wdeg AS ratio
  FROM edges e JOIN wdeg USING (src)
), nodes AS (
  SELECT src AS node FROM er UNION SELECT dst FROM er
), pr0 AS (
  SELECT node, 1.0 AS pr FROM nodes
)"""]
    for i in range(1, iters + 1):
        parts.append(f""", c{i} AS (
  SELECT dst, CAST(SUM(CAST(ratio * pr AS DECIMAL(28,12))) AS DOUBLE) AS s
  FROM er JOIN pr{i - 1} p ON er.src = p.node GROUP BY dst
), pr{i} AS (
  SELECT node, round(0.15 + 0.85 * coalesce(s, 0.0), 10) AS pr
  FROM nodes LEFT JOIN c{i} ON c{i}.dst = nodes.node
)""")
    parts.append(f"""
SELECT node AS part, round(pr, 6) AS rank_score
FROM pr{iters}
ORDER BY rank_score DESC, part LIMIT 20
""")
    return "".join(parts)


# ------------------------------------------------------- g_degree_stats

def g_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: one row per
    degree value — (degree, n_parts, pct of nodes), ordered by degree.

    The hub-detection report that justifies every skew decision in
    this family (triangle orientation, LPA argmax bounds).  Two tiny
    aggregates after the shared pair build; pct is a single double
    division of BIGINTs, identical IEEE on both engines.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("u").alias("n"))
        .unionAll(pairs.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "degree",
            "n_parts",
            F.round(
                F.col("n_parts").cast("double") / F.col("n_nodes").cast("double"), 6
            ).alias("pct"),
        )
        .orderBy("degree")
    )


def _g_degree_stats_sql() -> str:
    return f"""
WITH {_PAIRS_SQL}, deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs) GROUP BY 1
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_parts,
  round(CAST(COUNT(*) AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6) AS pct
FROM deg CROSS JOIN nn
GROUP BY degree, n_nodes
ORDER BY degree
"""


# --------------------------------------------------------- g_label_prop

def g_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 communities by size after 2 synchronous rounds of
    mode-label propagation on the co-purchase graph — (community,
    n_members), community = the minimum original node id bearing the
    final label.

    Update rule per round: label(v) ← the neighbor label with the
    highest frequency among v's neighbors, ties to the SMALLEST label
    (total order ⇒ deterministic).  All-integer: counts, argmax via
    max(struct(count, -label)), no floats anywhere.

    Scale shape per round: one hash join of the edge list against the
    (node, label) vector, one (node, label) count, one max_by per node
    — every exchange bounded by |E|; rounds are fixed (bounded-round
    semantics, not run-to-convergence — the honest contract at 100 TB,
    mirroring dedup_clusters' guarded max_iters).
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionByName(pairs.select(F.col("v").alias("a"), F.col("u").alias("b")))
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ITERS):
        nb = (
            edges.join(labels, edges.b == labels.node)
            .select(F.col("a").alias("node"), "lbl")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # No per-round checkpoint: 2 FIXED rounds keep the lineage
        # shallow and single-path (measured 35% faster; the per-round
        # checkpoint is for unbounded-round algorithms like CC).
        labels = (
            nb.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("m"))
            .select("node", (-F.col("m.neg")).alias("lbl"))
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(20)
    )


def _g_label_prop_sql(iters: int = _LPA_ITERS) -> str:
    parts = [f"""
WITH {_PAIRS_SQL}, edges AS (
  SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs
), lb0 AS (
  SELECT DISTINCT a AS node, a AS lbl FROM edges
)"""]
    for i in range(1, iters + 1):
        parts.append(f""", nb{i} AS (
  SELECT e.a AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
  FROM edges e JOIN lb{i - 1} l ON l.node = e.b GROUP BY 1, 2
), lb{i} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
      row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
    FROM nb{i}
  ) WHERE rn = 1
)""")
    parts.append(f"""
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM lb{iters}
GROUP BY lbl
ORDER BY n_members DESC, community ASC LIMIT 20
""")
    return "".join(parts)


# ------------------------------------------------------ g_bfs_distance

_BFS_ROUNDS = 4


def g_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distances from the hub part (max degree, min
    id tiebreak) out to 4 hops on the co-purchase graph — (distance,
    n_parts) histogram, the reachability report that completes the
    graph family (BFS joins PageRank / CC / LPA / triangles / k-core
    as the last classic primitive).

    Bounded-round frontier expansion: dist_{r+1} = min(dist_r,
    1 + min over neighbors dist_r) — the min-fold recipe of
    dedup_clusters applied to distances, all-integer, one edge join +
    one min-agg per round.  Only the edge list is checkpointed: at 4
    FIXED rounds the distance lineage stays shallow, and skipping the
    per-round localCheckpoint measured 16% faster (the CC per-round
    checkpoint is for UNBOUNDED rounds, where the plan tree compounds).
    Nodes beyond 4 hops report distance −1 (honest bounded contract,
    not ∞)."""
    pairs = _copurchase_pairs(spark, sf_dir)
    edges = pairs.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        pairs.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).localCheckpoint(eager=True)
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    src = deg.orderBy(F.col("deg").desc(), F.col("node").asc()).limit(1).select(
        "node"
    )
    dist = deg.select("node").join(src.withColumnRenamed("node", "s"), how="cross").select(
        "node",
        F.when(F.col("node") == F.col("s"), F.lit(0)).otherwise(F.lit(-1)).alias(
            "dist"
        ),
    )
    for _ in range(_BFS_ROUNDS):
        nb = (
            edges.join(
                dist.where(F.col("dist") >= 0).withColumnRenamed("node", "b2"),
                F.col("b") == F.col("b2"),
            )
            .groupBy(F.col("a").alias("node"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        dist = (
            dist.join(nb, "node", "left")
            .select(
                "node",
                F.when(
                    (F.col("dist") >= 0)
                    & (F.col("nd").isNull() | (F.col("dist") <= F.col("nd"))),
                    F.col("dist"),
                )
                .otherwise(F.coalesce("nd", F.lit(-1)))
                .alias("dist"),
            )
        )
    return (
        dist.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("dist")
    )


def _g_bfs_distance_sql(rounds: int = _BFS_ROUNDS) -> str:
    parts = [f"""
WITH {_PAIRS_SQL}, edges AS MATERIALIZED (
  SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs
), deg AS MATERIALIZED (
  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1
), src AS MATERIALIZED (
  SELECT node FROM deg ORDER BY deg DESC, node LIMIT 1
), d0 AS MATERIALIZED (
  SELECT deg.node,
    CASE WHEN deg.node = src.node THEN 0 ELSE -1 END AS dist
  FROM deg CROSS JOIN src
)"""]
    for r in range(rounds):
        parts.append(f""", nb{r} AS MATERIALIZED (
  SELECT e.a AS node, MIN(d.dist) + 1 AS nd
  FROM edges e JOIN d{r} d ON d.node = e.b AND d.dist >= 0
  GROUP BY 1
), d{r + 1} AS MATERIALIZED (
  SELECT d.node,
    CASE WHEN d.dist >= 0 AND (nb{r}.nd IS NULL OR d.dist <= nb{r}.nd)
         THEN d.dist ELSE coalesce(nb{r}.nd, -1) END AS dist
  FROM d{r} d LEFT JOIN nb{r} ON nb{r}.node = d.node
)""")
    parts.append(f"""
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM d{rounds} GROUP BY dist ORDER BY dist
""")
    return "".join(parts)


# --------------------------------------------------------------- g_ppr

_PPR_SEEDS = 3


def g_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by PERSONALIZED PageRank seeded at the 3
    lowest-numbered parts in the co-purchase graph — proximity to the
    anchor set, not global centrality (contrast g_pagerank: same graph,
    same iteration engine, different teleport vector).  The "customers
    who bought these also buy" primitive, one anchor set per run.

    Seeds are the 3 smallest node ids — a deterministic, data-derived
    anchor the DuckDB oracle reproduces with ORDER BY node LIMIT 3.
    Scale shape: identical to g_pagerank (the shared materialized pair
    build + 3 skinny contribution joins); the seed table broadcasts."""
    from kp_crypto_market_analytics_spark.operators.graph import personalized_pagerank

    pairs = _copurchase_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.col("support").alias("weight")
    ).unionByName(
        pairs.select(
            F.col("v").alias("src"), F.col("u").alias("dst"), F.col("support").alias("weight")
        )
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .orderBy("node")
        .limit(_PPR_SEEDS)
    )
    pr = personalized_pagerank(edges, seeds, iters=_PR_ITERS)
    return (
        pr.select(
            F.col("node").alias("part"),
            F.round(F.col("pr"), 6).alias("ppr_score"),
            "is_seed",
        )
        .orderBy(F.col("ppr_score").desc(), F.col("part").asc())
        .limit(20)
    )


def _g_ppr_sql(iters: int = _PR_ITERS) -> str:
    # Lockstep with personalized_pagerank: teleport 1/|S| on the seed
    # set only, DECIMAL(28,12) folds, 10 dp per-iteration rounding.
    parts = [f"""
WITH {_PAIRS_SQL}, edges AS (
  SELECT u AS src, v AS dst, support AS weight FROM pairs
  UNION ALL SELECT v, u, support FROM pairs
), wdeg AS (
  SELECT src, CAST(SUM(weight) AS BIGINT) AS wdeg FROM edges GROUP BY 1
), er AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(weight AS DOUBLE) / wdeg AS ratio
  FROM edges e JOIN wdeg USING (src)
), nodes0 AS (
  SELECT src AS node FROM er UNION SELECT dst FROM er
), seeds AS (
  SELECT node FROM nodes0 ORDER BY node LIMIT {_PPR_SEEDS}
), nodes AS MATERIALIZED (
  SELECT n.node,
    CASE WHEN s.node IS NOT NULL
      THEN 1.0 / {_PPR_SEEDS} ELSE 0.0 END AS tele
  FROM nodes0 n LEFT JOIN seeds s ON s.node = n.node
), pr0 AS (
  SELECT node, tele, tele AS pr FROM nodes
)"""]
    for i in range(1, iters + 1):
        parts.append(f""", c{i} AS (
  SELECT dst, CAST(SUM(CAST(ratio * pr AS DECIMAL(28,12))) AS DOUBLE) AS s
  FROM er JOIN pr{i - 1} p ON er.src = p.node GROUP BY dst
), pr{i} AS (
  SELECT node, tele,
    round(0.15 * tele + 0.85 * coalesce(s, 0.0), 10) AS pr
  FROM nodes LEFT JOIN c{i} ON c{i}.dst = nodes.node
)""")
    parts.append(f"""
SELECT node AS part, round(pr, 6) AS ppr_score, tele > 0.0 AS is_seed
FROM pr{iters}
ORDER BY ppr_score DESC, part LIMIT 20
""")
    return "".join(parts)


# --------------------------------------------------------- g_modularity


def g_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities — the
    quality score that says whether g_label_prop's partition actually
    beats random: Q = Σ_c [L_c/m − (d_c/2m)²] over communities, with
    L_c = intra-community edges, d_c = degree mass, m = |E| (Newman &
    Girvan 2004, public).  Top-10 communities with their exact
    contribution, every row carrying the corpus Q.

    Determinism: the community assignment is the SAME 2-round
    deterministic LPA fold as g_label_prop (min-label ties); all
    inputs are integers, each contribution is ONE double division of
    the exact integer 4·m·L_c − d_c² by 4m², and Q sums those integer
    numerators BEFORE the single division — engines cannot disagree.
    Integer headroom: 4·m·L_c needs m < ~1.5×10⁹ edges in int64; past
    that flip the numerator to DECIMAL(38,0) partials.

    Scale shape: the LPA rounds are |E|-bounded joins (shared
    materialized pair build); the modularity tail is one edge-grain
    label join, two community-grain aggs, and a window over
    |communities| rows."""
    pairs = _copurchase_pairs(spark, sf_dir)
    edges = pairs.select("u", "v").localCheckpoint(eager=True)
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ITERS):
        nb = (
            und.join(labels, und.b == labels.node)
            .select(F.col("a").alias("node"), "lbl")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            nb.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("m"))
            .select("node", (-F.col("m.neg")).alias("lbl"))
        )
    labels = labels.localCheckpoint(eager=True)
    m_tot = edges.count()
    lab_u = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lab_v = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    intra = (
        edges.join(lab_u, "u")
        .join(lab_v, "v")
        .where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    deg = (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(labels, "node")
        .groupBy(F.col("lbl").alias("community"))
        .agg(F.sum("deg").alias("deg_sum"), F.count(F.lit(1)).alias("n_members"))
    )
    per_c = deg.join(intra, "community", "left").select(
        "community",
        "n_members",
        F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
        "deg_sum",
        (
            F.lit(4) * F.lit(m_tot) * F.coalesce("intra_edges", F.lit(0))
            - F.col("deg_sum") * F.col("deg_sum")
        ).alias("num"),
    )
    denom = float(4 * m_tot * m_tot)
    # corpus Q as a 1-row agg broadcast back onto the community frame
    # (r8: SUM OVER () funneled |communities| rows — which grow with
    # the graph — through one window task; identical values, no
    # global window)
    q_tot = per_c.agg(F.sum("num").alias("num_tot"))
    out = per_c.crossJoin(F.broadcast(q_tot)).select(
        "community",
        "n_members",
        "intra_edges",
        F.col("deg_sum").cast("long").alias("deg_sum"),
        (F.round(F.col("num") / F.lit(denom), 6) + F.lit(0.0)).alias("contribution"),
        (
            F.round(F.col("num_tot") / F.lit(denom), 6) + F.lit(0.0)
        ).alias("modularity"),
    )
    return out.orderBy(F.col("n_members").desc(), F.col("community").asc()).limit(10)


def _g_modularity_sql(iters: int = _LPA_ITERS) -> str:
    parts = [f"""
WITH {_PAIRS_SQL}, edges AS MATERIALIZED (
  SELECT u, v FROM pairs
), und AS MATERIALIZED (
  SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
), lb0 AS (
  SELECT DISTINCT a AS node, a AS lbl FROM und
)"""]
    for i in range(1, iters + 1):
        parts.append(f""", nb{i} AS (
  SELECT e.a AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
  FROM und e JOIN lb{i - 1} l ON l.node = e.b GROUP BY 1, 2
), lb{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
      row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
    FROM nb{i}
  ) WHERE rn = 1
)""")
    parts.append(f""", m_tot AS (
  SELECT COUNT(*) AS m FROM edges
), intra AS (
  SELECT lu.lbl AS community, COUNT(*) AS intra_edges
  FROM edges e
  JOIN lb{iters} lu ON lu.node = e.u
  JOIN lb{iters} lv ON lv.node = e.v
  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl
), deg AS (
  SELECT l.lbl AS community, SUM(d.deg) AS deg_sum, COUNT(*) AS n_members
  FROM (SELECT a AS node, COUNT(*) AS deg FROM und GROUP BY a) d
  JOIN lb{iters} l ON l.node = d.node
  GROUP BY l.lbl
), per_c AS (
  SELECT dg.community, dg.n_members,
    coalesce(i.intra_edges, 0) AS intra_edges,
    dg.deg_sum,
    4 * m.m * coalesce(i.intra_edges, 0) - dg.deg_sum * dg.deg_sum AS num,
    4.0 * m.m * m.m AS denom
  FROM deg dg LEFT JOIN intra i ON i.community = dg.community
  CROSS JOIN m_tot m
)
SELECT community, CAST(n_members AS BIGINT) AS n_members,
  CAST(intra_edges AS BIGINT) AS intra_edges,
  CAST(deg_sum AS BIGINT) AS deg_sum,
  round(num / denom, 6) + 0.0 AS contribution,
  round(SUM(num) OVER () / denom, 6) + 0.0 AS modularity
FROM per_c
ORDER BY n_members DESC, community ASC LIMIT 10
""")
    return "".join(parts)


REGISTRY = (
    (g_pagerank, _g_pagerank_sql()),
    (g_degree_stats, _g_degree_stats_sql()),
    (g_label_prop, _g_label_prop_sql()),
    (g_bfs_distance, _g_bfs_distance_sql()),
    (g_ppr, _g_ppr_sql()),
    (g_modularity, _g_modularity_sql()),
)
