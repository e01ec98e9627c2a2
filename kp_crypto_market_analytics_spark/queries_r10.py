"""Round-10 registry queries.

Headline: streaming near-dup dedup (VERDICT r9 ask #3) —
``dedup_lsh_stream_parity`` gates the incremental MinHash-LSH ingest
loop (streaming/dedup_lsh.py) as an unrolled batch fold: the corpus
arrives in 3 batches (doc_id mod 3), each batch is deduped against
the accumulated signature store by the SAME generator the stream's
``foreachBatch`` runs (lsh_ingest_pairs → operators.dedup.
incremental_lsh_pairs, 64 df-capped hashes / 16 bands / star-routed
bucket cap 64), and the union of the per-batch emissions is the
gated table.  tests/test_sinks_streaming.py::
test_lsh_dedup_stream_matches_gated_fold pins the real streaming
query emission-for-emission to this fold.

Every query carries an exact DuckDB oracle (same column names, exact
integer or n/64-exact arithmetic) per the repo determinism recipes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.functions.text import lang_id_sql
from kp_crypto_market_analytics_spark.operators.aggregates import DEC
from kp_crypto_market_analytics_spark.session import (
    ensure_parallelism,
    load_tables,
)


# --------------------------------------------- dedup_lsh_stream_parity

_SLSH_BATCHES = 3


def dedup_lsh_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-LSH near-dup ingest, gated batch-side:
    the corpus arrives as 3 micro-batches (doc_id mod 3 — deterministic
    integer arithmetic), and each batch's near-dup pairs against the
    accumulated signature store are emitted with the arrival batch id.
    The pair generator is the streaming loop's own core
    (streaming/dedup_lsh.py lsh_ingest_pairs): production 64-hash
    df-capped signatures from the frozen store (queries_ext.
    _minhash_sigs), 16 threshold-derived bands, star-routed bucket cap
    — bucket sizes (and hence pair/star tiers) are computed over the
    corpus AS OF each batch, exactly what the stream sees.

    Union-over-batches property: every near-dup pair is emitted at the
    batch where its LATER side arrives, exactly once; old×old pairs
    never re-form.  Determinism: doc ids are exact BIGINTs, tiers are
    min-folded strings, est_jaccard = matches/64 is binary-exact.
    Scale shape per batch: |batch| signature rows probe the band
    buckets — O(batch × bucket-mates), the same plan the gated
    dedup_incremental runs."""
    from kp_crypto_market_analytics_spark.queries_ext import (
        _LSH_BANDS,
        _LSH_BUCKET_CAP,
        _LSH_NUM_HASHES,
        _minhash_sigs,
    )

    # r11 OPTIMIZATION (guide §2.4): the original fold unrolled THREE
    # full lsh_ingest_pairs pipelines (one per batch prefix — each its
    # own band explode, bucket-sizing window, self-join, and two
    # 64-column signature joins; ~95 Exchange markers in the before
    # plan).  The union-over-batches table is equivalently computable
    # in ONE pass, because every emission time is decidable from the
    # per-bucket ARRIVAL PROFILE alone:
    #   - a 'pair' (a,b) in a bucket is emitted exactly at
    #     t = max(m_a, m_b) (the batch where its later side arrives —
    #     the probe side of the incremental generator), iff the
    #     bucket's as-of-t size is under the cap;
    #   - a 'star' edge (rep_t, d) is emitted at t iff the bucket is
    #     over-cap as-of t and d arrived at t OR the as-of-t rep
    #     arrived at t (the __rep_new condition of the generator);
    #   - as-of-t size / rep / rep-arrival are ONE groupBy over the
    #     exploded band table (m = doc_id % 3 is the batch id).
    # So: one band explode + one bucket-stats aggregation + one
    # bucket self-join replace 3x(explode + window + self-join).  The
    # emitted (batch, pair, tier, flags, est) rows are IDENTICAL —
    # the oracle (unchanged) and the stream-parity pytest pin it; the
    # streaming ingest loop itself still runs the incremental
    # generator (its per-trigger shape is the production property).
    nb = _SLSH_BATCHES
    cap = _LSH_BUCKET_CAP
    rows_per_band = _LSH_NUM_HASHES // _LSH_BANDS
    sigs = _minhash_sigs(spark, sf_dir).withColumn(
        "m", (F.col("doc_id") % nb).cast("int")
    )
    band_cols = []
    for b in range(_LSH_BANDS):
        cols = [
            F.col(f"mh_{j}").alias(f"h{i}")
            for i, j in enumerate(
                range(b * rows_per_band, (b + 1) * rows_per_band)
            )
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), *cols).alias(f"__band_{b}")
        )
    buckets = sigs.select(
        F.col("doc_id").alias("doc"),
        "m",
        F.explode(F.array(*band_cols)).alias("bucket"),
    )
    stats = buckets.groupBy("bucket").agg(
        *[
            a
            for t in range(nb)
            for a in (
                F.count(F.when(F.col("m") <= t, F.lit(1))).alias(f"sz_{t}"),
                F.min(F.when(F.col("m") <= t, F.col("doc"))).alias(
                    f"rep_{t}"
                ),
                F.min_by("m", F.when(F.col("m") <= t, F.col("doc"))).alias(
                    f"repm_{t}"
                ),
            )
        ]
    )
    idx = (F.col("batch") + 1).cast("int")
    sz_at = F.element_at(
        F.array(*[F.col(f"sz_{t}") for t in range(nb)]), idx
    )
    rep_at = F.element_at(
        F.array(*[F.col(f"rep_{t}") for t in range(nb)]), idx
    )
    repm_at = F.element_at(
        F.array(*[F.col(f"repm_{t}") for t in range(nb)]), idx
    )
    withstats = buckets.join(stats, "bucket")
    # Pre-join cap filter (r11 wave 6 — the explain audit caught the
    # wave-1 single-pass fold joining ALL bucket members and applying
    # the cap only after the self-join: a boilerplate bucket of B docs
    # would emit B²/2 join rows first, the very blowup the cap
    # exists to bound).  __szm = the bucket's size AS OF each member's
    # arrival batch (cumulative count over the (bucket, m) window).
    # Filtering BOTH join sides to __szm <= cap is EXACTLY the pair
    # emission condition, not just a necessary bound: a pair (a, b)
    # emits at t = max(m_a, m_b) iff sz_t <= cap, and the later side's
    # __szm IS sz_t while the earlier side's __szm <= sz_t by
    # monotonicity — so the old stats join + post-join filter drop out
    # of the pair branch entirely, and every join side is bounded at
    # <= cap members per bucket.
    w_arr = Window.partitionBy("bucket").orderBy("m").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    under = (
        buckets.withColumn("__szm", F.count(F.lit(1)).over(w_arr))
        .where(F.col("__szm") <= cap)
        .drop("__szm")
    )
    pair_cand = (
        under.alias("x")
        .join(under.alias("y"), F.col("x.bucket") == F.col("y.bucket"))
        .where(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.greatest("x.m", "y.m").cast("long").alias("batch"),
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.lit("pair").alias("tier"),
        )
    )
    star_cand = (
        withstats.select(
            "*",
            F.explode(
                F.filter(
                    F.sequence(
                        F.lit(0).cast("long"), F.lit(nb - 1).cast("long")
                    ),
                    lambda t: t >= F.col("m"),
                )
            ).alias("batch"),
        )
        .where(
            (sz_at > cap)
            & (F.col("doc") != rep_at)
            & ((F.col("m") == F.col("batch")) | (repm_at == F.col("batch")))
        )
        .select(
            "batch",
            rep_at.alias("doc_a"),
            F.col("doc").alias("doc_b"),
            F.lit("star").alias("tier"),
        )
    )
    cand = (
        pair_cand.unionByName(star_cand)
        .groupBy("batch", "doc_a", "doc_b")
        .agg(F.min("tier").alias("tier"))
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("m").alias("__ma"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(_LSH_NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("m").alias("__mb"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(_LSH_NUM_HASHES)],
    )
    est = None
    for j in range(_LSH_NUM_HASHES):
        term = F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        est = term if est is None else est + term
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "batch",
            "doc_a",
            "doc_b",
            (F.col("__ma") == F.col("batch")).alias("new_a"),
            (F.col("__mb") == F.col("batch")).alias("new_b"),
            "tier",
            (est / F.lit(_LSH_NUM_HASHES)).alias("est_jaccard"),
        )
        .orderBy("batch", "doc_a", "doc_b")
    )


def _dedup_lsh_stream_parity_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import (
        _BJOIN,
        _BKEY,
        _EST_SQL,
        _LSH_BUCKET_CAP,
        CAPPED_HSETS_CTE,
        _bands_select_sql,
    )

    cap = _LSH_BUCKET_CAP
    nb = _SLSH_BATCHES
    # Materialize the shared signature/band tables: 3 folds × (cand +
    # sa + sb) references would otherwise re-inline the minhash
    # aggregation ~12× (the g_kcore DuckDB-CTE lesson).
    hsets = CAPPED_HSETS_CTE.replace(
        "sigs AS (", "sigs AS MATERIALIZED ("
    )
    fold_ctes = []
    fold_sel = []
    for b in range(nb):
        pair_new = (
            f"AND (a.doc_id % {nb} = {b} OR b.doc_id % {nb} = {b})"
        )
        star_new = f"AND (doc_id % {nb} = {b} OR rep % {nb} = {b})"
        fold_ctes.append(
            f""", sized_{b} AS MATERIALIZED (
  SELECT *, COUNT(*) OVER (PARTITION BY {_BKEY}) AS bn,
         MIN(doc_id) OVER (PARTITION BY {_BKEY}) AS rep
  FROM bands WHERE doc_id % {nb} <= {b}
), cand_{b} AS (
  SELECT doc_a, doc_b, MIN(tier) AS tier FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 'pair' AS tier
    FROM sized_{b} a JOIN sized_{b} b ON {_BJOIN} AND a.doc_id < b.doc_id
    WHERE a.bn <= {cap} AND b.bn <= {cap} {pair_new}
    UNION ALL
    SELECT rep AS doc_a, doc_id AS doc_b, 'star' AS tier
    FROM sized_{b} WHERE bn > {cap} AND doc_id <> rep {star_new}
  ) GROUP BY 1, 2
)"""
        )
        fold_sel.append(
            f"""SELECT CAST({b} AS BIGINT) AS batch, doc_a, doc_b,
    doc_a % {nb} = {b} AS new_a, doc_b % {nb} = {b} AS new_b,
    tier, {_EST_SQL} AS est_jaccard
  FROM cand_{b}
  JOIN sigs sa ON sa.doc_id = doc_a JOIN sigs sb ON sb.doc_id = doc_b"""
        )
    return f"""
WITH {hsets}, bands AS MATERIALIZED (
  {_bands_select_sql()}
){''.join(fold_ctes)}
SELECT * FROM (
  {" UNION ALL ".join(fold_sel)}
)
ORDER BY batch, doc_a, doc_b
"""


# ------------------------------------------- daily OHLC bars with open
#
# The r9 daily-bar toolkit (queries_r9._daily_bars_df) carries H/L/C;
# the r10 range-volatility estimators also need the OPEN (first tick
# by (ts, event_id)).  Same determinism contract: micro-price BIGINTs,
# one (type, day) agg over the events scan, windows over the tiny bar
# frame.


def _daily_bars_oc_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, om, hm, lm, cm, vol) daily candles in
    micro-price integers; open/close = first/last tick.

    Session-materialized like its base ``_daily_bars_df`` (r11
    optimization): the open-side window pass over raw events runs
    once per session instead of once per consuming query; all-integer
    columns round-trip parquet exactly."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import _daily_bars_df

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["events"])
        e = ensure_parallelism(t["events"]).select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            F.round(F.col("value") * F.lit(1_000_000.0), 0)
            .cast("long")
            .alias("vm"),
        )
        wo = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
        opn = (
            e.withColumn("__rn", F.row_number().over(wo))
            .where(F.col("__rn") == 1)
            .select("event_type", "day", F.col("vm").alias("om"))
        )
        return _daily_bars_df(spark, sf_dir).join(opn, ["event_type", "day"])

    return session_materialized(spark, f"daily_bars_oc:{sf_dir}", build)


def _bars_oc_cte() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import DAILY_BARS_CTE

    return (
        DAILY_BARS_CTE
        + """, op AS (
  SELECT event_type, day, vm AS om FROM (
    SELECT event_type, day, vm,
      row_number() OVER (PARTITION BY event_type, day
                         ORDER BY ts, event_id) AS rn
    FROM ev) WHERE rn = 1
), barso AS (
  SELECT b.event_type, b.day, om, hm, lm, cm, vol
  FROM bars b JOIN op USING (event_type, day)
)"""
    )


# ---------------------------------------------------- ti_garman_klass


def ti_garman_klass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garman-Klass (1980) range-based daily variance estimator per
    symbol: mean over days of 0.5·ln²(H/L) − (2ln2−1)·ln²(C/O), with
    the daily volatility as its square root.  Reference parity: the
    reference ships close-to-close realized vol only
    (src/analytics/binance_analysis.py rolling std); GK is the
    published higher-efficiency range estimator a market-analytics
    engine adds on the same bars.

    Determinism: micro-price ratios cancel the scale; each day's term
    is ONE identical IEEE chain rounded to nano (1e-9) BIGINT, summed
    exactly; the mean/sqrt run once on the exact sum.  Scale: one
    (type, day) agg + a |types|-row fold."""
    bars = _daily_bars_oc_df(spark, sf_dir)
    lhl = F.log(F.col("hm").cast("double") / F.col("lm"))
    lco = F.log(F.col("cm").cast("double") / F.col("om"))
    term = (
        F.lit(0.5) * lhl * lhl
        - (F.lit(2.0) * F.log(F.lit(2.0)) - F.lit(1.0)) * lco * lco
    )
    tn = F.round(term * F.lit(1e9), 0).cast("long")
    g = bars.where((F.col("lm") > 0) & (F.col("om") > 0)).select(
        "event_type", tn.alias("tn")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("tn").alias("sn"),
    )
    var = F.col("sn") / F.lit(1e9) / F.col("n_days")
    return g.select(
        "event_type",
        "n_days",
        (F.round(var, 6) + F.lit(0.0)).alias("gk_daily_var"),
        F.when(var >= 0, F.round(F.sqrt(var), 6)).alias("gk_daily_vol"),
    ).orderBy("event_type")


def _ti_garman_klass_sql() -> str:
    return f"""
WITH {_bars_oc_cte()}, terms AS (
  SELECT event_type,
    CAST(round((0.5 * ln(CAST(hm AS DOUBLE) / lm) * ln(CAST(hm AS DOUBLE) / lm)
      - (2.0 * ln(2.0) - 1.0) * ln(CAST(cm AS DOUBLE) / om)
        * ln(CAST(cm AS DOUBLE) / om)) * 1e9) AS BIGINT) AS tn
  FROM barso WHERE lm > 0 AND om > 0
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(SUM(tn) AS BIGINT) AS sn
  FROM terms GROUP BY 1
)
SELECT event_type, n_days,
  round(sn / 1e9 / n_days, 6) + 0.0 AS gk_daily_var,
  CASE WHEN sn / 1e9 / n_days >= 0
    THEN round(sqrt(sn / 1e9 / n_days), 6) END AS gk_daily_vol
FROM g ORDER BY event_type
"""


# ------------------------------------------------- ti_rogers_satchell


def ti_rogers_satchell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rogers-Satchell (1991) drift-independent range variance per
    symbol: mean of ln(H/C)ln(H/O) + ln(L/C)ln(L/O) — the estimator
    that stays unbiased under nonzero drift, the published companion
    of Garman-Klass.  Same nano-fold determinism recipe."""
    bars = _daily_bars_oc_df(spark, sf_dir)
    lhc = F.log(F.col("hm").cast("double") / F.col("cm"))
    lho = F.log(F.col("hm").cast("double") / F.col("om"))
    llc = F.log(F.col("lm").cast("double") / F.col("cm"))
    llo = F.log(F.col("lm").cast("double") / F.col("om"))
    term = lhc * lho + llc * llo
    tn = F.round(term * F.lit(1e9), 0).cast("long")
    g = bars.where(
        (F.col("lm") > 0) & (F.col("om") > 0) & (F.col("cm") > 0)
    ).select("event_type", tn.alias("tn")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("tn").alias("sn"),
    )
    var = F.col("sn") / F.lit(1e9) / F.col("n_days")
    return g.select(
        "event_type",
        "n_days",
        (F.round(var, 6) + F.lit(0.0)).alias("rs_daily_var"),
        F.when(var >= 0, F.round(F.sqrt(var), 6)).alias("rs_daily_vol"),
    ).orderBy("event_type")


def _ti_rogers_satchell_sql() -> str:
    t = (
        "ln(CAST(hm AS DOUBLE) / cm) * ln(CAST(hm AS DOUBLE) / om)"
        " + ln(CAST(lm AS DOUBLE) / cm) * ln(CAST(lm AS DOUBLE) / om)"
    )
    return f"""
WITH {_bars_oc_cte()}, terms AS (
  SELECT event_type, CAST(round(({t}) * 1e9) AS BIGINT) AS tn
  FROM barso WHERE lm > 0 AND om > 0 AND cm > 0
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(SUM(tn) AS BIGINT) AS sn
  FROM terms GROUP BY 1
)
SELECT event_type, n_days,
  round(sn / 1e9 / n_days, 6) + 0.0 AS rs_daily_var,
  CASE WHEN sn / 1e9 / n_days >= 0
    THEN round(sqrt(sn / 1e9 / n_days), 6) END AS rs_daily_vol
FROM g ORDER BY event_type
"""


# ----------------------------------------------------- ti_yang_zhang


def ti_yang_zhang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yang-Zhang (2000) minimum-variance range estimator per symbol:
    σ²_YZ = σ²_overnight + k·σ²_open-to-close + (1−k)·σ²_RS with
    k = 0.34/(1.34 + (n+1)/(n−1)) — the published combination that is
    both drift-independent and jump-(overnight-)aware.

    Determinism: the three component series are nano-rounded BIGINTs
    (overnight = ln(O_t/C_{t−1}) needs the bar lag — first bar drops);
    sample variances fold as exact integer/decimal moments, and the
    k-blend is one identical IEEE chain over those exact sums."""
    # positivity filter BEFORE the lag (zero prices exist at sf0.1):
    # prev close refers to the previous POSITIVE bar in both engines.
    bars = _daily_bars_oc_df(spark, sf_dir).where(
        (F.col("lm") > 0) & (F.col("om") > 0)
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev_c = F.lag("cm").over(w)
    on = F.round(
        F.log(F.col("om").cast("double") / prev_c) * F.lit(1e9), 0
    ).cast("long")
    oc = F.round(
        F.log(F.col("cm").cast("double") / F.col("om")) * F.lit(1e9), 0
    ).cast("long")
    lhc = F.log(F.col("hm").cast("double") / F.col("cm"))
    lho = F.log(F.col("hm").cast("double") / F.col("om"))
    llc = F.log(F.col("lm").cast("double") / F.col("cm"))
    llo = F.log(F.col("lm").cast("double") / F.col("om"))
    rs = F.round((lhc * lho + llc * llo) * F.lit(1e9), 0).cast("long")
    d = "decimal(38,0)"
    s = bars.select(
        "event_type", on.alias("on"), oc.alias("oc"), rs.alias("rs")
    )
    g = s.groupBy("event_type").agg(
        F.count("oc").cast("long").alias("n"),
        F.count("on").cast("long").alias("no"),
        F.sum("on").alias("s_on"),
        F.sum(F.col("on").cast(d) * F.col("on").cast(d)).alias("s_on2"),
        F.sum("oc").alias("s_oc"),
        F.sum(F.col("oc").cast(d) * F.col("oc").cast(d)).alias("s_oc2"),
        F.sum("rs").alias("s_rs"),
    )

    def svar(s2, s1, n):  # sample variance of nano ints, in nat units
        return (
            (s2.cast("double") - s1.cast("double") * s1 / n) / (n - F.lit(1.0))
        ) / F.lit(1e18)

    v_on = svar(F.col("s_on2"), F.col("s_on"), F.col("no"))
    v_oc = svar(F.col("s_oc2"), F.col("s_oc"), F.col("n"))
    v_rs = F.col("s_rs") / F.lit(1e9) / F.col("n")
    k = F.lit(0.34) / (
        F.lit(1.34) + (F.col("n") + 1) / (F.col("n") - F.lit(1.0))
    )
    yz = v_on + k * v_oc + (F.lit(1.0) - k) * v_rs
    ok = (F.col("no") > 1) & (F.col("n") > 1)
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(ok, F.round(v_on, 6) + F.lit(0.0)).alias("overnight_var"),
        F.when(ok, F.round(v_oc, 6) + F.lit(0.0)).alias("open_close_var"),
        F.when(ok, F.round(v_rs, 6) + F.lit(0.0)).alias("rs_var"),
        F.when(ok, F.round(k, 6)).alias("k"),
        F.when(ok, F.round(yz, 6) + F.lit(0.0)).alias("yz_daily_var"),
        F.when(ok & (yz >= 0), F.round(F.sqrt(yz), 6)).alias(
            "yz_daily_vol"
        ),
    ).orderBy("event_type")


def _ti_yang_zhang_sql() -> str:
    rs_t = (
        "ln(CAST(hm AS DOUBLE) / cm) * ln(CAST(hm AS DOUBLE) / om)"
        " + ln(CAST(lm AS DOUBLE) / cm) * ln(CAST(lm AS DOUBLE) / om)"
    )
    v_on = "((CAST(s_on2 AS DOUBLE) - CAST(s_on AS DOUBLE) * s_on / no) / (no - 1.0)) / 1e18"
    v_oc = "((CAST(s_oc2 AS DOUBLE) - CAST(s_oc AS DOUBLE) * s_oc / n) / (n - 1.0)) / 1e18"
    v_rs = "s_rs / 1e9 / n"
    k = "0.34 / (1.34 + (n + 1) / (n - 1.0))"
    yz = f"({v_on}) + ({k}) * ({v_oc}) + (1.0 - ({k})) * ({v_rs})"
    return f"""
WITH {_bars_oc_cte()}, series AS (
  SELECT event_type,
    CAST(round(ln(CAST(om AS DOUBLE)
      / lag(cm) OVER (PARTITION BY event_type ORDER BY day)) * 1e9)
      AS BIGINT) AS onr,
    CAST(round(ln(CAST(cm AS DOUBLE) / om) * 1e9) AS BIGINT) AS oc,
    CAST(round(({rs_t}) * 1e9) AS BIGINT) AS rs
  FROM (SELECT * FROM barso WHERE lm > 0 AND om > 0)
), g AS (
  SELECT event_type,
    CAST(COUNT(oc) AS BIGINT) AS n, CAST(COUNT(onr) AS BIGINT) AS no,
    CAST(SUM(onr) AS BIGINT) AS s_on,
    SUM(CAST(onr AS DECIMAL(38,0)) * CAST(onr AS DECIMAL(38,0))) AS s_on2,
    CAST(SUM(oc) AS BIGINT) AS s_oc,
    SUM(CAST(oc AS DECIMAL(38,0)) * CAST(oc AS DECIMAL(38,0))) AS s_oc2,
    CAST(SUM(rs) AS BIGINT) AS s_rs
  FROM series GROUP BY 1
)
SELECT event_type, n AS n_days,
  CASE WHEN no > 1 AND n > 1 THEN round({v_on}, 6) + 0.0 END AS overnight_var,
  CASE WHEN no > 1 AND n > 1 THEN round({v_oc}, 6) + 0.0 END AS open_close_var,
  CASE WHEN no > 1 AND n > 1 THEN round({v_rs}, 6) + 0.0 END AS rs_var,
  CASE WHEN no > 1 AND n > 1 THEN round({k}, 6) END AS k,
  CASE WHEN no > 1 AND n > 1 THEN round({yz}, 6) + 0.0 END AS yz_daily_var,
  CASE WHEN no > 1 AND n > 1 AND ({yz}) >= 0
    THEN round(sqrt({yz}), 6) END AS yz_daily_vol
FROM g ORDER BY event_type
"""


# --------------------------------------------------------- ti_vortex

_VTX_N = 14


def ti_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator (Botes & Siepman 2010): VI+ = ΣVM+/ΣTR and
    VI− = ΣVM−/ΣTR over the trailing 14 bars, where VM+ = |H_t −
    L_{t−1}|, VM− = |L_t − H_{t−1}|, TR the daily true range.  All
    sums are exact micro-price integers; two final IEEE divisions,
    masked until 14 full (lagged) bars and a nonzero TR sum."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _with_true_range,
        _wd,
    )

    bars = _with_true_range(_daily_bars_df(spark, sf_dir))
    w = _wd()
    vmp = F.abs(F.col("hm") - F.lag("lm").over(w))
    vmm = F.abs(F.col("lm") - F.lag("hm").over(w))
    b = bars.select(
        "event_type", "day", "trm", vmp.alias("vmp"), vmm.alias("vmm")
    )
    wn = _wd().rowsBetween(-(_VTX_N - 1), 0)
    b = b.withColumns(
        {
            "__n_vm": F.count("vmp").over(wn),
            "__s_tr": F.sum("trm").over(wn),
            "__s_vp": F.sum("vmp").over(wn),
            "__s_vm": F.sum("vmm").over(wn),
        }
    )
    n_vm, s_tr, s_vp, s_vm = (
        F.col("__n_vm"),
        F.col("__s_tr"),
        F.col("__s_vp"),
        F.col("__s_vm"),
    )
    ok = (n_vm >= _VTX_N) & (s_tr > 0)
    return b.select(
        "event_type",
        "day",
        F.when(ok, F.round(s_vp / s_tr, 6)).alias("vi_plus"),
        F.when(ok, F.round(s_vm / s_tr, 6)).alias("vi_minus"),
        F.when(ok, F.round((s_vp - s_vm) / s_tr, 6) + F.lit(0.0)).alias(
            "vi_diff"
        ),
    ).orderBy("event_type", "day")


def _ti_vortex_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _TR_SQL,
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day, {_TR_SQL} AS trm,
    abs(hm - lag(lm) OVER ({_WD_SQL})) AS vmp,
    abs(lm - lag(hm) OVER ({_WD_SQL})) AS vmm
  FROM bars
)
SELECT event_type, day,
  CASE WHEN COUNT(vmp) OVER w >= {_VTX_N} AND SUM(trm) OVER w > 0
    THEN round(SUM(vmp) OVER w / CAST(SUM(trm) OVER w AS DOUBLE), 6)
  END AS vi_plus,
  CASE WHEN COUNT(vmp) OVER w >= {_VTX_N} AND SUM(trm) OVER w > 0
    THEN round(SUM(vmm) OVER w / CAST(SUM(trm) OVER w AS DOUBLE), 6)
  END AS vi_minus,
  CASE WHEN COUNT(vmp) OVER w >= {_VTX_N} AND SUM(trm) OVER w > 0
    THEN round((SUM(vmp) OVER w - SUM(vmm) OVER w)
               / CAST(SUM(trm) OVER w AS DOUBLE), 6) + 0.0
  END AS vi_diff
FROM b
WINDOW w AS ({_WD_SQL} ROWS BETWEEN {_VTX_N - 1} PRECEDING AND CURRENT ROW)
ORDER BY event_type, day
"""


# ------------------------------------------------- ti_chande_momentum

_CMO_N = 14


def ti_chande_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator (1994): 100·(Σgains − Σlosses)/
    (Σgains + Σlosses) over the trailing 14 close-to-close moves —
    the unsmoothed RSI relative.  Gains/losses are exact micro
    integers; one final IEEE division, masked below 14 moves or a
    flat window."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    d = F.col("cm") - F.lag("cm").over(_wd())
    b = bars.select("event_type", "day", d.alias("d"))
    wn = _wd().rowsBetween(-(_CMO_N - 1), 0)
    b = b.withColumns(
        {
            "__su": F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0)).over(wn),
            "__sd": F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0)).over(wn),
            "__n": F.count("d").over(wn),
        }
    )
    su, sd, n = F.col("__su"), F.col("__sd"), F.col("__n")
    ok = (n >= _CMO_N) & (su + sd > 0)
    return b.select(
        "event_type",
        "day",
        F.when(ok, F.round(F.lit(100.0) * (su - sd) / (su + sd), 6)
               + F.lit(0.0)).alias("cmo"),
    ).orderBy("event_type", "day")


def _ti_chande_momentum_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day, cm - lag(cm) OVER ({_WD_SQL}) AS d FROM bars
), s AS (
  SELECT event_type, day,
    SUM(CASE WHEN d > 0 THEN d ELSE 0 END) OVER w AS su,
    SUM(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER w AS sd,
    COUNT(d) OVER w AS n
  FROM b
  WINDOW w AS ({_WD_SQL} ROWS BETWEEN {_CMO_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, day,
  CASE WHEN n >= {_CMO_N} AND su + sd > 0
    THEN round(100.0 * (su - sd) / (su + sd), 6) + 0.0
  END AS cmo
FROM s ORDER BY event_type, day
"""


# ------------------------------------------------------------ ti_cci

_CCI_N = 20


def ti_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index (Lambert 1980): (TP − SMA20(TP)) /
    (0.015 · mean deviation) over the trailing 20 daily typical
    prices.  The mean deviation depends on TODAY's SMA (not each
    row's), so the window is expressed as a bounded self-join on the
    per-type day index — 20 candidate rows per bar on the tiny daily
    frame, the range-join shape both engines evaluate identically.

    Determinism: work in 3×micro units (tpm3 = H+L+C) so nothing
    fractional appears until the end: CCI = 1000·n·(n·tpm3 − S) /
    (15·Σᵢ|n·tpm3ᵢ − S|) — pure int64/decimal integers, ONE final
    IEEE division, masked below 20 bars or a flat window."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir).withColumn(
        "tpm3", F.col("hm") + F.col("lm") + F.col("cm")
    )
    b = bars.withColumn("rn", F.row_number().over(_wd())).select(
        "event_type", "day", "rn", "tpm3"
    )
    d = "decimal(38,0)"
    j = (
        b.alias("a")
        .join(
            b.alias("w"),
            (F.col("a.event_type") == F.col("w.event_type"))
            & (F.col("w.rn") >= F.col("a.rn") - F.lit(_CCI_N - 1))
            & (F.col("w.rn") <= F.col("a.rn")),
        )
        .groupBy("a.event_type", "a.day", "a.tpm3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("w.tpm3").cast(d).alias("s"),
            F.collect_list(F.struct("w.rn", "w.tpm3")).alias("win"),
        )
    )
    # mean deviation numerator Σ|n·tpmᵢ − S| without a second join:
    # re-aggregate the window list with exact decimal arithmetic.
    dev = F.aggregate(
        "win",
        F.lit(0).cast(d),
        lambda acc, x: acc
        + F.abs(
            x["tpm3"].cast(d) * F.col("n").cast(d) - F.col("s")
        ),
    )
    num = (
        F.col("tpm3").cast(d) * F.col("n").cast(d) - F.col("s")
    ) * F.col("n").cast(d) * F.lit(1000).cast(d)
    ok = (F.col("n") >= _CCI_N) & (dev > 0)
    return j.select(
        "event_type",
        "day",
        F.when(
            ok,
            F.round(
                num.cast("double") / (F.lit(15.0) * dev.cast("double")), 6
            )
            + F.lit(0.0),
        ).alias("cci"),
    ).orderBy("event_type", "day")


def _ti_cci_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day, hm + lm + cm AS tpm3,
    row_number() OVER ({_WD_SQL}) AS rn
  FROM bars
), agg AS (
  SELECT a.event_type, a.day, a.tpm3,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(w.tpm3) AS DECIMAL(38,0)) AS s
  FROM b a JOIN b w ON a.event_type = w.event_type
    AND w.rn BETWEEN a.rn - {_CCI_N - 1} AND a.rn
  GROUP BY 1, 2, 3
), dev AS (
  SELECT a.event_type, a.day,
    CAST(SUM(abs(CAST(w.tpm3 AS DECIMAL(38,0)) * g.n - g.s))
         AS DECIMAL(38,0)) AS sdev
  FROM b a JOIN b w ON a.event_type = w.event_type
    AND w.rn BETWEEN a.rn - {_CCI_N - 1} AND a.rn
  JOIN agg g ON g.event_type = a.event_type AND g.day = a.day
  GROUP BY 1, 2
)
SELECT g.event_type, g.day,
  CASE WHEN g.n >= {_CCI_N} AND d.sdev > 0 THEN
    round(CAST((CAST(g.tpm3 AS DECIMAL(38,0)) * g.n - g.s) * g.n * 1000
               AS DOUBLE) / (15.0 * CAST(d.sdev AS DOUBLE)), 6) + 0.0
  END AS cci
FROM agg g JOIN dev d ON g.event_type = d.event_type AND g.day = d.day
ORDER BY g.event_type, g.day
"""


# ---------------------------------------------------- ti_force_index

_FI_N = 13


def ti_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Force Index (Elder 1993), SMA-13 variant: volume · close-to-
    close move per bar, smoothed by a 13-bar simple average (the
    window-expressible published smoothing, same choice as ti_atr's
    Cutler form).  fi folds as exact DECIMAL micro·volume integers;
    the SMA is the half-away integer division of the exact sum."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    d = "decimal(38,0)"
    bars = _daily_bars_df(spark, sf_dir)
    dm = F.col("cm") - F.lag("cm").over(_wd())
    b = bars.withColumn("fim", dm.cast(d) * F.col("vol").cast(d)).select(
        "event_type", "day", "fim"
    )
    wn = _wd().rowsBetween(-(_FI_N - 1), 0)
    b = b.withColumns({"__n": F.count("fim").over(wn), "__s": F.sum("fim").over(wn)})
    n, s = F.col("__n"), F.col("__s")
    # half-away-from-zero integer division of the micro sum by n
    sma_micro = F.when(s < 0, -F.lit(1).cast(d)).otherwise(
        F.lit(1).cast(d)
    ) * F.call_function(
        "div", F.lit(2).cast(d) * F.abs(s) + n.cast(d), F.lit(2).cast(d) * n.cast(d)
    )
    return b.select(
        "event_type",
        "day",
        (F.col("fim").cast("double") / F.lit(1e6) + F.lit(0.0)).alias(
            "force_index"
        ),
        F.when(
            n >= _FI_N, sma_micro.cast("double") / F.lit(1e6) + F.lit(0.0)
        ).alias("force_index_sma13"),
    ).orderBy("event_type", "day")


def _ti_force_index_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day,
    CAST(cm - lag(cm) OVER ({_WD_SQL}) AS DECIMAL(38,0))
      * CAST(vol AS DECIMAL(38,0)) AS fim
  FROM bars
), s AS (
  SELECT event_type, day, fim,
    COUNT(fim) OVER w AS n, SUM(fim) OVER w AS sfim
  FROM b
  WINDOW w AS ({_WD_SQL} ROWS BETWEEN {_FI_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, day,
  CAST(fim AS DOUBLE) / 1e6 + 0.0 AS force_index,
  CASE WHEN n >= {_FI_N} THEN
    CAST((CASE WHEN sfim < 0 THEN -1 ELSE 1 END)
         * ((2 * abs(CAST(sfim AS HUGEINT)) + n) // (2 * n)) AS DOUBLE)
      / 1e6 + 0.0
  END AS force_index_sma13
FROM s ORDER BY event_type, day
"""


# ------------------------------------------------------------ ti_eom

_EOM_N = 14


def ti_eom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ease of Movement (Arms 1989): midpoint move divided by the box
    ratio — emv = (mid_t − mid_{t−1}) · (H − L) / volume — with a
    14-bar simple average.  The per-bar emv is (move2·range)/(2e12·
    vol) with an exact DECIMAL numerator (move2 = 2×micro midpoint
    move, range = micro H−L); each emv rounds to 6 dp and the SMA is
    the exact decimal-mean division (round_mean_micro)."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    d = "decimal(38,0)"
    bars = _daily_bars_df(spark, sf_dir)
    mid2 = F.col("hm") + F.col("lm")
    move2 = mid2 - F.lag(mid2).over(_wd())
    emv = F.when(
        (F.col("vol") > 0) & (F.col("hm") > F.col("lm")),
        F.round(
            (move2.cast(d) * (F.col("hm") - F.col("lm")).cast(d)).cast(
                "double"
            )
            / (F.lit(2e12) * F.col("vol")),
            6,
        )
        + F.lit(0.0),
    )
    b = bars.select("event_type", "day", emv.alias("emv"))
    wn = _wd().rowsBetween(-(_EOM_N - 1), 0)
    b = b.withColumns(
        {
            "__n": F.count("emv").over(wn),
            "__sm": F.sum(F.col("emv").cast(DEC)).over(wn),
        }
    )
    n, sm = F.col("__n"), F.col("__sm")
    return b.select(
        "event_type",
        "day",
        "emv",
        F.when(n >= _EOM_N, round_mean_micro(sm, n) + F.lit(0.0)).alias(
            "emv_sma14"
        ),
    ).orderBy("event_type", "day")


def _ti_eom_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    mean = sql_round_mean_micro("SUM(CAST(emv AS DECIMAL(18,6))) OVER w", "COUNT(emv) OVER w")
    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day,
    CASE WHEN vol > 0 AND hm > lm THEN
      round(CAST(CAST(hm + lm - lag(hm + lm) OVER ({_WD_SQL})
                      AS DECIMAL(38,0)) * (hm - lm) AS DOUBLE)
            / (2e12 * vol), 6) + 0.0
    END AS emv
  FROM bars
)
SELECT event_type, day, emv,
  CASE WHEN COUNT(emv) OVER w >= {_EOM_N} THEN {mean} + 0.0 END AS emv_sma14
FROM b
WINDOW w AS ({_WD_SQL} ROWS BETWEEN {_EOM_N - 1} PRECEDING AND CURRENT ROW)
ORDER BY event_type, day
"""


# ---------------------------------------------------- classifier-eval
#
# The quality score (functions.text.quality_score — THE heuristic
# every gated consumer shares) treated as a soft classifier for
# English documents (label = lang = 'en'): the standard eval metrics
# a training-data pipeline publishes for its quality filters.  All
# three queries rank/bin on the same scored frame; scores are 6-dp
# micro integers end to end.

_QS_LABEL_CTE = """scored AS (
  SELECT doc_id, lang = 'en' AS y,
    CAST(round(round(least(ntok / 100.0, 1.0) * 0.5
      + least(CASE WHEN ntok > 0
              THEN CAST(sw AS DOUBLE) / ntok END * 5, 1.0) * 0.5, 6)
      * 1000000) AS BIGINT) AS pm
  FROM (
    SELECT doc_id, lang, {hits} AS sw,
      CASE WHEN length(t) = 0 THEN 0
           ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
      END AS ntok
    FROM (
      SELECT doc_id, lang,
        trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t,
        ' ' || lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) || ' ' AS p
      FROM documents)
  ) WHERE ntok > 0
)"""


def _qs_label_cte() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS

    hits = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2}"
        " AS BIGINT)"
        for w in STOPWORDS
    )
    return _QS_LABEL_CTE.format(hits=hits)


def _qs_label_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, pm) scored classifier frame — session-materialized
    (r11 optimization): 7 classifier-eval queries each re-ran the
    per-doc quality_score string pipeline over raw documents; pm is
    an exact micro BIGINT, so the parquet round-trip changes no
    downstream value."""
    from kp_crypto_market_analytics_spark.functions.text import quality_score
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["documents"])
        d = ensure_parallelism(t["documents"])
        pm = F.round(quality_score("text") * F.lit(1_000_000), 0).cast(
            "long"
        )
        return d.select(
            "doc_id", (F.col("lang") == "en").alias("y"), pm.alias("pm")
        ).where(F.col("pm").isNotNull())

    return session_materialized(spark, f"qs_label:{sf_dir}", build)


def a_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the quality score as an English-document classifier,
    via the rank (Mann-Whitney) identity with midrank tie handling:
    AUC = (Σ_pos 2·midrank − n⁺(n⁺+1)) / (2 n⁺ n⁻).  Gini (= Somers'
    D) = 2·AUC − 1 rides along.

    Determinism: the a_mann_whitney midrank machinery — ONE
    range-partitioned global rank over (score, doc_id), per-score
    blocks contribute min+max ranks as exact integers; a single IEEE
    division at the end.  Scale: no single-partition sort."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    s = _qs_label_df(spark, sf_dir)
    ranked = range_partitioned_rank(s, ["pm", "doc_id"], out_col="rn")
    blocks = ranked.groupBy("pm").agg(
        (F.min("rn") + F.max("rn")).alias("r2"),
        F.count(F.when(F.col("y"), F.lit(1))).alias("pos"),
        F.count(F.lit(1)).alias("cnt"),
    )
    d = "decimal(38,0)"
    g = blocks.agg(
        F.sum("pos").cast("long").alias("np"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("nn"),
        F.sum(F.col("pos").cast(d) * F.col("r2").cast(d)).alias("r2p"),
    )
    auc = (
        F.col("r2p").cast("double")
        - F.col("np").cast("double") * (F.col("np") + F.lit(1.0))
    ) / (F.lit(2.0) * F.col("np") * F.col("nn"))
    ok = (F.col("np") > 0) & (F.col("nn") > 0)
    return g.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.when(ok, F.round(auc, 6)).alias("auc"),
        F.when(ok, F.round(F.lit(2.0) * auc - 1, 6) + F.lit(0.0)).alias(
            "gini"
        ),
    )


def _a_auc_roc_sql() -> str:
    return f"""
WITH {_qs_label_cte()}, ranked AS (
  SELECT y, pm, row_number() OVER (ORDER BY pm, doc_id) AS rn FROM scored
), blocks AS (
  SELECT pm, MIN(rn) + MAX(rn) AS r2,
    COUNT(CASE WHEN y THEN 1 END) AS pos, COUNT(*) AS cnt
  FROM ranked GROUP BY 1
), g AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS np,
    CAST(SUM(cnt - pos) AS BIGINT) AS nn,
    SUM(CAST(pos AS HUGEINT) * r2) AS r2p
  FROM blocks
)
SELECT np AS n_pos, nn AS n_neg,
  CASE WHEN np > 0 AND nn > 0 THEN
    round((CAST(r2p AS DOUBLE) - CAST(np AS DOUBLE) * (np + 1.0))
          / (2.0 * np * nn), 6)
  END AS auc,
  CASE WHEN np > 0 AND nn > 0 THEN
    round(2.0 * (CAST(r2p AS DOUBLE) - CAST(np AS DOUBLE) * (np + 1.0))
          / (2.0 * np * nn) - 1, 6) + 0.0
  END AS gini
FROM g
"""


# ------------------------------------------------------ a_brier_score


def a_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (1950) of the quality-score probability against the
    English label: mean squared error of the forecast.  Errors are
    exact micro integers (score is born 6-dp), squared into DECIMAL
    and summed exactly; one final IEEE division.  Also reports the
    all-positive-rate reference and the Brier skill score vs the
    base-rate forecast."""
    s = _qs_label_df(spark, sf_dir)
    d = "decimal(38,0)"
    err = F.col("pm") - F.when(F.col("y"), F.lit(1_000_000)).otherwise(0)
    g = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("np"),
        F.sum(err.cast(d) * err.cast(d)).alias("se2"),
    )
    brier = F.col("se2").cast("double") / (F.lit(1e12) * F.col("n"))
    base = F.col("np") / F.col("n").cast("double")
    ref = base * (1 - base)
    ok = F.col("n") > 0
    return g.select(
        "n",
        F.col("np").alias("n_pos"),
        F.when(ok, F.round(brier, 6)).alias("brier"),
        F.when(ok, F.round(ref, 6)).alias("brier_ref"),
        F.when(
            ok & (ref > 0), F.round(1 - brier / ref, 6) + F.lit(0.0)
        ).alias("brier_skill"),
    )


def _a_brier_score_sql() -> str:
    return f"""
WITH {_qs_label_cte()}, g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
    SUM(CAST(pm - CASE WHEN y THEN 1000000 ELSE 0 END AS HUGEINT)
        * CAST(pm - CASE WHEN y THEN 1000000 ELSE 0 END AS HUGEINT))
      AS se2
  FROM scored
)
SELECT n, np AS n_pos,
  CASE WHEN n > 0 THEN round(CAST(se2 AS DOUBLE) / (1e12 * n), 6)
  END AS brier,
  CASE WHEN n > 0 THEN
    round(np / CAST(n AS DOUBLE) * (1 - np / CAST(n AS DOUBLE)), 6)
  END AS brier_ref,
  CASE WHEN n > 0 AND np / CAST(n AS DOUBLE) * (1 - np / CAST(n AS DOUBLE)) > 0
  THEN round(1 - CAST(se2 AS DOUBLE) / (1e12 * n)
             / (np / CAST(n AS DOUBLE) * (1 - np / CAST(n AS DOUBLE))), 6)
       + 0.0
  END AS brier_skill
FROM g
"""


# -------------------------------------------------- a_ece_calibration


def a_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-calibration-error table (Naeini et al. 2015): the
    quality-score forecast binned into 10 equal-width probability
    bins; per bin the mean confidence, the empirical positive rate,
    and their absolute gap — plus each bin's weighted ECE
    contribution.  Confidence/accuracy are exact half-away micro
    divisions (round_mean_micro's integer path), so the gap is an
    exact 6-dp value, never an IEEE tie."""
    s = _qs_label_df(spark, sf_dir)
    bucket = F.least(
        F.lit(9).cast("long"),
        F.call_function("div", F.col("pm"), F.lit(100_000).cast("long")),
    )
    g = s.groupBy(bucket.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pm").alias("s_pm"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("sy"),
    )
    conf_m = F.call_function(
        "div",
        F.lit(2) * F.col("s_pm") + F.col("n_docs"),
        F.lit(2) * F.col("n_docs"),
    )
    acc_m = F.call_function(
        "div",
        F.lit(2) * F.col("sy") * F.lit(1_000_000) + F.col("n_docs"),
        F.lit(2) * F.col("n_docs"),
    )
    tot = g.agg(F.sum("n_docs").cast("long").alias("nt"))
    w = g.crossJoin(F.broadcast(tot)).withColumn(
        "gap_m", F.abs(conf_m - acc_m)
    )
    return w.select(
        "bin",
        "n_docs",
        (conf_m / F.lit(1e6)).alias("avg_conf"),
        (acc_m / F.lit(1e6)).alias("frac_pos"),
        (F.col("gap_m") / F.lit(1e6)).alias("abs_gap"),
        F.round(
            F.col("n_docs") * F.col("gap_m") / (F.col("nt") * F.lit(1e6)), 6
        ).alias("ece_term"),
    ).orderBy("bin")


def _a_ece_calibration_sql() -> str:
    conf = "((2 * s_pm + n_docs) // (2 * n_docs))"
    acc = "((2 * sy * 1000000 + n_docs) // (2 * n_docs))"
    return f"""
WITH {_qs_label_cte()}, g AS (
  SELECT least(9, pm // 100000) AS bin,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(pm) AS BIGINT) AS s_pm,
    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS sy
  FROM scored GROUP BY 1
), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt FROM g)
SELECT bin, n_docs,
  {conf} / 1e6 AS avg_conf,
  {acc} / 1e6 AS frac_pos,
  abs({conf} - {acc}) / 1e6 AS abs_gap,
  round(n_docs * abs({conf} - {acc}) / (nt * 1e6), 6) AS ece_term
FROM g CROSS JOIN tot ORDER BY bin
"""


# --------------------------------------------------------- a_cohens_d


def a_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g (small-sample-corrected) effect sizes
    between the weekend and weekday value distributions per event
    type — the standardized companion of a_welch_ttest (which reports
    significance, not magnitude).

    Determinism: per-arm moments fold as exact DECIMAL(18,6) sums;
    the pooled-SD chain is one identical IEEE expression over those
    sums; round(·,6)+0.0 normalizes -0."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        F.col("value").cast(DEC).alias("v"),
        F.dayofweek("ts").isin(1, 7).alias("wknd"),
    )
    g = e.groupBy("event_type").agg(
        F.count(F.when(F.col("wknd"), 1)).cast("long").alias("na"),
        F.count(F.when(~F.col("wknd"), 1)).cast("long").alias("nb"),
        F.sum(F.when(F.col("wknd"), F.col("v"))).alias("sa"),
        F.sum(F.when(F.col("wknd"), F.col("v") * F.col("v"))).alias("sa2"),
        F.sum(F.when(~F.col("wknd"), F.col("v"))).alias("sb"),
        F.sum(F.when(~F.col("wknd"), F.col("v") * F.col("v"))).alias("sb2"),
    )
    na, nb = F.col("na"), F.col("nb")
    sa, sa2 = F.col("sa").cast("double"), F.col("sa2").cast("double")
    sb, sb2 = F.col("sb").cast("double"), F.col("sb2").cast("double")
    ssa = sa2 - sa * sa / na
    ssb = sb2 - sb * sb / nb
    sp2 = (ssa + ssb) / (na + nb - F.lit(2.0))
    dd = (sa / na - sb / nb) / F.sqrt(sp2)
    corr = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (na + nb) - F.lit(9.0)
    )
    ok = (na > 1) & (nb > 1) & (sp2 > 0)
    return g.select(
        "event_type",
        F.col("na").alias("n_weekend"),
        F.col("nb").alias("n_weekday"),
        F.when(ok, F.round(dd, 6) + F.lit(0.0)).alias("cohens_d"),
        F.when(ok, F.round(dd * corr, 6) + F.lit(0.0)).alias("hedges_g"),
    ).orderBy("event_type")


def _a_cohens_d_sql() -> str:
    ssa = "(CAST(sa2 AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)"
    ssb = "(CAST(sb2 AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb)"
    sp2 = f"(({ssa} + {ssb}) / (na + nb - 2.0))"
    dd = f"((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / sqrt({sp2}))"
    corr = "(1.0 - 3.0 / (4.0 * (na + nb) - 9.0))"
    return f"""
WITH g AS (
  SELECT event_type,
    CAST(COUNT(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 END) AS BIGINT) AS na,
    CAST(COUNT(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN 1 END) AS BIGINT) AS nb,
    SUM(CASE WHEN dayofweek(ts) IN (0, 6)
        THEN CAST(value AS DECIMAL(18,6)) END) AS sa,
    SUM(CASE WHEN dayofweek(ts) IN (0, 6)
        THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) END)
      AS sa2,
    SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6)
        THEN CAST(value AS DECIMAL(18,6)) END) AS sb,
    SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6)
        THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) END)
      AS sb2
  FROM events GROUP BY 1
)
SELECT event_type, na AS n_weekend, nb AS n_weekday,
  CASE WHEN na > 1 AND nb > 1 AND {sp2} > 0
    THEN round({dd}, 6) + 0.0 END AS cohens_d,
  CASE WHEN na > 1 AND nb > 1 AND {sp2} > 0
    THEN round({dd} * {corr}, 6) + 0.0 END AS hedges_g
FROM g ORDER BY event_type
"""


# ------------------------------------------------------ a_cliffs_delta


def a_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (1993) ordinal effect size between the weekend
    and weekday arms per event type: P(X>Y) − P(X<Y), computed
    through the midrank identity δ = (Σ_A 2·midrank − n_A(n_A+1) −
    n_A·n_B)/(n_A·n_B) — no pair materialization, ties exact.
    Same rank machinery as a_mann_whitney (ONE range-partitioned
    global rank, per-type offsets); exact integers until one final
    IEEE division."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        "value",
        "event_id",
        F.dayofweek("ts").isin(1, 7).alias("wknd"),
    )
    ranked = range_partitioned_rank(
        e, ["event_type", "value", "event_id"], out_col="grn"
    )
    offs = ranked.groupBy("event_type").agg((F.min("grn") - 1).alias("off"))
    rn = ranked.join(F.broadcast(offs), "event_type").select(
        "event_type", "value", "wknd", (F.col("grn") - F.col("off")).alias("rn")
    )
    blocks = rn.groupBy("event_type", "value").agg(
        (F.min("rn") + F.max("rn")).alias("r2"),
        F.count(F.lit(1)).alias("tcnt"),
        F.count(F.when(F.col("wknd"), F.lit(1))).alias("a_v"),
    )
    d = "decimal(38,0)"
    g = blocks.groupBy("event_type").agg(
        F.sum("a_v").cast("long").alias("na"),
        F.sum(F.col("tcnt") - F.col("a_v")).cast("long").alias("nb"),
        F.sum(F.col("a_v").cast(d) * F.col("r2").cast(d)).alias("r2a"),
    )
    na, nb = F.col("na"), F.col("nb")
    num = (
        F.col("r2a").cast("double")
        - na.cast("double") * (na + F.lit(1.0))
        - na.cast("double") * nb
    )
    delta = num / (na.cast("double") * nb)
    ok = (na > 0) & (nb > 0)
    mag = F.abs(delta)
    return g.select(
        "event_type",
        F.col("na").alias("n_weekend"),
        F.col("nb").alias("n_weekday"),
        F.when(ok, F.round(delta, 6) + F.lit(0.0)).alias("cliffs_delta"),
        F.when(
            ok,
            F.when(mag < 0.147, "negligible")
            .when(mag < 0.33, "small")
            .when(mag < 0.474, "medium")
            .otherwise("large"),
        ).alias("magnitude"),
    ).orderBy("event_type")


def _a_cliffs_delta_sql() -> str:
    num = (
        "(CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * (na + 1.0)"
        " - CAST(na AS DOUBLE) * nb)"
    )
    delta = f"({num} / (CAST(na AS DOUBLE) * nb))"
    return f"""
WITH ranked AS (
  SELECT event_type, value,
    dayofweek(ts) IN (0, 6) AS wknd,
    row_number() OVER (ORDER BY event_type, value, event_id) AS grn
  FROM events
), offs AS (
  SELECT event_type, MIN(grn) - 1 AS off FROM ranked GROUP BY 1
), rn AS (
  SELECT r.event_type, r.value, r.wknd, r.grn - o.off AS rn
  FROM ranked r JOIN offs o USING (event_type)
), blocks AS (
  SELECT event_type, value, MIN(rn) + MAX(rn) AS r2,
    COUNT(*) AS tcnt, COUNT(CASE WHEN wknd THEN 1 END) AS a_v
  FROM rn GROUP BY 1, 2
), g AS (
  SELECT event_type, CAST(SUM(a_v) AS BIGINT) AS na,
    CAST(SUM(tcnt - a_v) AS BIGINT) AS nb,
    SUM(CAST(a_v AS HUGEINT) * r2) AS r2a
  FROM blocks GROUP BY 1
)
SELECT event_type, na AS n_weekend, nb AS n_weekday,
  CASE WHEN na > 0 AND nb > 0 THEN round({delta}, 6) + 0.0
  END AS cliffs_delta,
  CASE WHEN na > 0 AND nb > 0 THEN
    CASE WHEN abs({delta}) < 0.147 THEN 'negligible'
         WHEN abs({delta}) < 0.33 THEN 'small'
         WHEN abs({delta}) < 0.474 THEN 'medium'
         ELSE 'large' END
  END AS magnitude
FROM g ORDER BY event_type
"""


# ---------------------------------------------------------- a_mcnemar


def a_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (1947) on the two paired document KEEP gates the
    corpus funnel stacks — the length gate (tokens >= 25) vs the
    quality-score gate (score >= 0.4): do the gates disagree
    symmetrically, or does one systematically keep what the other
    drops?  Reports the discordant counts, the classic statistic
    (b−c)²/(b+c) and the continuity-corrected (|b−c|−1)²/(b+c).

    Determinism: flags are exact boolean chains (integer token counts,
    the 6-dp score), counts exact; two guarded divisions, round 6."""
    from kp_crypto_market_analytics_spark.functions.text import (
        quality_score,
        token_count,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    a = token_count("text") >= 25
    b = F.coalesce(quality_score("text") >= 0.4, F.lit(False))
    g = d.select(a.alias("a"), b.alias("b")).agg(
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_len_only"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_quality_only"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_neither"),
    )
    bb, cc = F.col("n_len_only"), F.col("n_quality_only")
    disc = bb + cc
    chi2 = (bb - cc) * (bb - cc) / disc.cast("double")
    chi2c = (
        (F.abs(bb - cc) - 1) * (F.abs(bb - cc) - 1) / disc.cast("double")
    )
    return g.select(
        "n_both",
        "n_len_only",
        "n_quality_only",
        "n_neither",
        F.when(disc > 0, F.round(chi2, 6)).alias("mcnemar_chi2"),
        F.when(disc > 0, F.round(chi2c, 6)).alias("mcnemar_chi2_cc"),
    )


def _a_mcnemar_sql() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS

    hits = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2}"
        " AS BIGINT)"
        for w in STOPWORDS
    )
    return f"""
WITH base AS (
  SELECT doc_id,
    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t,
    ' ' || lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) || ' ' AS p
  FROM documents
), flags AS (
  SELECT
    ntok >= 25 AS a,
    coalesce(round(least(ntok / 100.0, 1.0) * 0.5
      + least(CASE WHEN ntok > 0 THEN CAST(sw AS DOUBLE) / ntok END * 5,
              1.0) * 0.5, 6) >= 0.4, FALSE) AS b
  FROM (
    SELECT doc_id, {hits} AS sw,
      CASE WHEN length(t) = 0 THEN 0
           ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
      END AS ntok
    FROM base)
), g AS (
  SELECT
    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      AS n_len_only,
    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
      AS n_quality_only,
    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      AS n_neither
  FROM flags
)
SELECT n_both, n_len_only, n_quality_only, n_neither,
  CASE WHEN n_len_only + n_quality_only > 0 THEN
    round((n_len_only - n_quality_only) * (n_len_only - n_quality_only)
          / CAST(n_len_only + n_quality_only AS DOUBLE), 6)
  END AS mcnemar_chi2,
  CASE WHEN n_len_only + n_quality_only > 0 THEN
    round((abs(n_len_only - n_quality_only) - 1)
          * (abs(n_len_only - n_quality_only) - 1)
          / CAST(n_len_only + n_quality_only AS DOUBLE), 6)
  END AS mcnemar_chi2_cc
FROM g
"""


# --------------------------------------------------------- a_cochran_q


def a_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q (1950) across the corpus funnel's THREE per-doc
    keep gates as matched binary treatments — length (tokens >= 25),
    quality score (>= 0.4), repetition (dup-bigram ratio <= 0.06,
    vacuously true for short docs, the t_corpus_pipeline convention):
    Q = (k−1)(k·ΣCⱼ² − (ΣCⱼ)²)/(k·ΣRᵢ − ΣRᵢ²).  Every term is an
    exact integer (row sums ∈ {0..3}); one guarded division."""
    from kp_crypto_market_analytics_spark.functions.text import (
        quality_score,
        token_count,
    )
    from kp_crypto_market_analytics_spark.queries_r7 import _norm_text

    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    toks = F.split(_norm_text(), " ")
    nb = F.size(toks) - 1
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, nb),
            F.slice(toks, 2, nb),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_ratio = F.when(
        F.size(bigrams) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams)) / F.size(bigrams).cast("double"),
    )
    c1 = (token_count("text") >= 25).cast("int")
    c2 = F.coalesce(quality_score("text") >= 0.4, F.lit(False)).cast("int")
    c3 = F.coalesce(dup_ratio <= 0.06, F.lit(True)).cast("int")
    rows = d.select(c1.alias("c1"), c2.alias("c2"), c3.alias("c3"))
    ri = F.col("c1") + F.col("c2") + F.col("c3")
    g = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c1").cast("long").alias("t1"),
        F.sum("c2").cast("long").alias("t2"),
        F.sum("c3").cast("long").alias("t3"),
        F.sum(ri).cast("long").alias("sr"),
        F.sum(ri * ri).cast("long").alias("sr2"),
    )
    k = F.lit(3)
    num = (k - 1) * (
        k * (F.col("t1") * F.col("t1") + F.col("t2") * F.col("t2")
             + F.col("t3") * F.col("t3"))
        - F.col("sr") * F.col("sr")
    )
    den = k * F.col("sr") - F.col("sr2")
    return g.select(
        "n",
        F.col("t1").alias("n_pass_length"),
        F.col("t2").alias("n_pass_quality"),
        F.col("t3").alias("n_pass_repetition"),
        F.when(den > 0, F.round(num / den.cast("double"), 6)).alias(
            "cochran_q"
        ),
    )


def _a_cochran_q_sql() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS
    from kp_crypto_market_analytics_spark.queries_r8 import NORM_TEXT_SQL

    hits = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2}"
        " AS BIGINT)"
        for w in STOPWORDS
    )
    return f"""
WITH base AS (
  SELECT doc_id, {NORM_TEXT_SQL} AS t,
    ' ' || {NORM_TEXT_SQL} || ' ' AS p,
    string_split({NORM_TEXT_SQL}, ' ') AS l
  FROM documents
), feat AS (
  SELECT doc_id, {hits} AS sw,
    CASE WHEN length(t) = 0 THEN 0
         ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
    END AS ntok,
    CASE WHEN len(l) >= 2 THEN
      1.0 - CAST(len(list_distinct(list_transform(
            generate_series(1, len(l) - 1),
            i -> l[i] || ' ' || l[i + 1]))) AS DOUBLE) / (len(l) - 1)
    END AS dup_ratio
  FROM base
), flags AS (
  SELECT
    CAST(ntok >= 25 AS INT) AS c1,
    CAST(coalesce(round(least(ntok / 100.0, 1.0) * 0.5
      + least(CASE WHEN ntok > 0 THEN CAST(sw AS DOUBLE) / ntok END * 5,
              1.0) * 0.5, 6) >= 0.4, FALSE) AS INT) AS c2,
    CAST(coalesce(dup_ratio <= 0.06, TRUE) AS INT) AS c3
  FROM feat
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(c1) AS BIGINT) AS t1, CAST(SUM(c2) AS BIGINT) AS t2,
    CAST(SUM(c3) AS BIGINT) AS t3,
    CAST(SUM(c1 + c2 + c3) AS BIGINT) AS sr,
    CAST(SUM((c1 + c2 + c3) * (c1 + c2 + c3)) AS BIGINT) AS sr2
  FROM flags
)
SELECT n, t1 AS n_pass_length, t2 AS n_pass_quality,
  t3 AS n_pass_repetition,
  CASE WHEN 3 * sr - sr2 > 0 THEN
    round(2 * (3 * (t1 * t1 + t2 * t2 + t3 * t3) - sr * sr)
          / CAST(3 * sr - sr2 AS DOUBLE), 6)
  END AS cochran_q
FROM g
"""


# ------------------------------------------------------ a_friedman_test


def a_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (1937) for consistent ordering of the event
    types' daily value levels: blocks = complete days (all types
    present), treatments = event types, cell = the day's exact micro
    value sum; within-day midranks feed χ²_F = 3·ΣR2ⱼ²/(n·k·(k+1)) −
    3·n·(k+1) (R2 = doubled rank sums, so ties stay integer), plus
    Kendall's W = χ²_F/(n(k−1)).

    Determinism: cells are exact BIGINT micro sums; midranks are
    min+max integers; ONE IEEE division pair at the end."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    )
    cells = e.groupBy("day", "event_type").agg(
        F.sum("vm").alias("cell")
    )
    ktot = cells.agg(
        F.count_distinct("event_type").alias("kt")
    )
    complete = (
        cells.groupBy("day")
        .agg(F.count(F.lit(1)).alias("kk"))
        .crossJoin(F.broadcast(ktot))
        .where(F.col("kk") == F.col("kt"))
        .select("day")
    )
    c = cells.join(complete, "day")
    wd = Window.partitionBy("day").orderBy("cell", "event_type")
    wb = Window.partitionBy("day", "cell")
    r2 = (
        F.min(F.row_number().over(wd)).over(wb)
        + F.max(F.row_number().over(wd)).over(wb)
    )
    ranked = c.select("day", "event_type", r2.alias("r2"))
    byt = ranked.groupBy("event_type").agg(F.sum("r2").alias("rj2"))
    d = "decimal(38,0)"
    g = byt.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("rj2").cast(d) * F.col("rj2").cast(d)).alias("s2"),
    ).crossJoin(
        F.broadcast(
            ranked.select("day").distinct().agg(
                F.count(F.lit(1)).cast("long").alias("n")
            )
        )
    )
    chi2 = F.lit(3.0) * F.col("s2").cast("double") / (
        F.col("n") * F.col("k") * (F.col("k") + F.lit(1.0)) * F.lit(4.0)
    ) - F.lit(3.0) * F.col("n") * (F.col("k") + F.lit(1.0))
    ok = (F.col("n") > 0) & (F.col("k") > 1)
    return g.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("n_types"),
        F.when(ok, F.round(chi2, 6) + F.lit(0.0)).alias("friedman_chi2"),
        F.when(
            ok,
            F.round(chi2 / (F.col("n") * (F.col("k") - F.lit(1.0))), 6)
            + F.lit(0.0),
        ).alias("kendalls_w"),
    )


def _a_friedman_test_sql() -> str:
    chi2 = (
        "(3.0 * CAST(s2 AS DOUBLE) / (n * k * (k + 1.0) * 4.0)"
        " - 3.0 * n * (k + 1.0))"
    )
    return f"""
WITH cells AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
    CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS cell
  FROM events GROUP BY 1, 2
), ktot AS (SELECT COUNT(DISTINCT event_type) AS kt FROM cells),
complete AS (
  SELECT day FROM cells GROUP BY day
  HAVING COUNT(*) = (SELECT kt FROM ktot)
), c AS (
  SELECT cells.* FROM cells JOIN complete USING (day)
), rr AS (
  SELECT day, event_type, cell,
    row_number() OVER (PARTITION BY day ORDER BY cell, event_type) AS rn
  FROM c
), ranked AS (
  SELECT day, event_type,
    MIN(rn) OVER (PARTITION BY day, cell)
      + MAX(rn) OVER (PARTITION BY day, cell) AS r2
  FROM rr
), byt AS (
  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS rj2 FROM ranked GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
    SUM(CAST(rj2 AS HUGEINT) * rj2) AS s2,
    (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) FROM ranked) AS n
  FROM byt
)
SELECT n AS n_days, k AS n_types,
  CASE WHEN n > 0 AND k > 1 THEN round({chi2}, 6) + 0.0
  END AS friedman_chi2,
  CASE WHEN n > 0 AND k > 1 THEN
    round({chi2} / (n * (k - 1.0)), 6) + 0.0
  END AS kendalls_w
FROM g
"""


# ---------------------------------------------------------- a_theil_u


def a_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U1 inequality coefficient of the naive (random-walk)
    daily close forecast per event type: U1 = RMSE(naive)/(RMS(c) +
    RMS(ĉ)) ∈ [0,1] — the scale-free forecastability score.  Also
    reports U2 vs the no-change benchmark = 1 by construction for the
    naive forecast, so instead the RMSE itself rides along.

    Determinism: closes are micro BIGINTs; squared errors and squares
    fold as exact DECIMAL(38,0); one identical IEEE chain."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    d = "decimal(38,0)"
    bars = _daily_bars_df(spark, sf_dir)
    prev = F.lag("cm").over(_wd())
    b = bars.select("event_type", "cm", prev.alias("pm")).where(
        F.col("pm").isNotNull()
    )
    g = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.col("cm") - F.col("pm")).cast(d)
            * (F.col("cm") - F.col("pm")).cast(d)
        ).alias("se2"),
        F.sum(F.col("cm").cast(d) * F.col("cm").cast(d)).alias("sc2"),
        F.sum(F.col("pm").cast(d) * F.col("pm").cast(d)).alias("sp2"),
    )
    rmse = F.sqrt(F.col("se2").cast("double") / F.col("n"))
    den = F.sqrt(F.col("sc2").cast("double") / F.col("n")) + F.sqrt(
        F.col("sp2").cast("double") / F.col("n")
    )
    ok = (F.col("n") > 0) & (den > 0)
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(F.col("n") > 0, F.round(rmse / F.lit(1e6), 6)).alias(
            "naive_rmse"
        ),
        F.when(ok, F.round(rmse / den, 6)).alias("theil_u1"),
    ).orderBy("event_type")


def _a_theil_u_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    rmse = "sqrt(CAST(se2 AS DOUBLE) / n)"
    den = "(sqrt(CAST(sc2 AS DOUBLE) / n) + sqrt(CAST(sp2 AS DOUBLE) / n))"
    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, cm, lag(cm) OVER ({_WD_SQL}) AS pm FROM bars
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(cm - pm AS HUGEINT) * (cm - pm)) AS se2,
    SUM(CAST(cm AS HUGEINT) * cm) AS sc2,
    SUM(CAST(pm AS HUGEINT) * pm) AS sp2
  FROM b WHERE pm IS NOT NULL GROUP BY 1
)
SELECT event_type, n AS n_days,
  CASE WHEN n > 0 THEN round({rmse} / 1e6, 6) END AS naive_rmse,
  CASE WHEN n > 0 AND {den} > 0 THEN round({rmse} / {den}, 6)
  END AS theil_u1
FROM g ORDER BY event_type
"""


# -------------------------------------------------------- a_smape_mase

_SEAS_M = 7


def a_smape_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy pair for the weekly seasonal-naive forecast
    (ĉ_t = c_{t−7}, the w_seasonal_naive_forecast rule) on daily
    closes: sMAPE (each term 2|e|/(c+ĉ) nano-rounded then exactly
    summed — closes are positive where scored) and MASE (mean |e|
    over the mean in-sample one-step naive |Δc|, a ratio of exact
    integer sums; Hyndman & Koehler 2006).  One IEEE division each."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    w = _wd()
    b = bars.select(
        "event_type",
        "cm",
        F.lag("cm", _SEAS_M).over(w).alias("fm"),
        F.lag("cm", 1).over(w).alias("pm"),
    )
    term = F.when(
        F.col("fm").isNotNull() & (F.col("cm") + F.col("fm") > 0),
        F.round(
            F.lit(2e9)
            * F.abs(F.col("cm") - F.col("fm"))
            / (F.col("cm") + F.col("fm")),
            0,
        ).cast("long"),
    )
    g = b.groupBy("event_type").agg(
        F.count(term).cast("long").alias("ne"),
        F.sum(term).alias("st"),
        F.sum(
            F.when(F.col("fm").isNotNull(), F.abs(F.col("cm") - F.col("fm")))
        ).cast("long").alias("sae"),
        F.count(F.when(F.col("pm").isNotNull(), 1)).cast("long").alias("nd"),
        F.sum(
            F.when(F.col("pm").isNotNull(), F.abs(F.col("cm") - F.col("pm")))
        ).cast("long").alias("sad"),
    )
    smape = F.col("st") / (F.lit(1e9) * F.col("ne"))
    d = "decimal(38,0)"
    mase = (
        F.col("sae").cast(d) * F.col("nd").cast(d)
    ).cast("double") / (
        F.col("ne").cast(d) * F.col("sad").cast(d)
    ).cast("double")
    return g.select(
        "event_type",
        F.col("ne").alias("n_scored"),
        F.when(F.col("ne") > 0, F.round(smape, 6)).alias("smape"),
        F.when(
            (F.col("ne") > 0) & (F.col("sad") > 0), F.round(mase, 6)
        ).alias("mase"),
    ).orderBy("event_type")


def _a_smape_mase_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, cm,
    lag(cm, {_SEAS_M}) OVER ({_WD_SQL}) AS fm,
    lag(cm, 1) OVER ({_WD_SQL}) AS pm
  FROM bars
), g AS (
  SELECT event_type,
    CAST(COUNT(CASE WHEN fm IS NOT NULL AND cm + fm > 0 THEN 1 END)
         AS BIGINT) AS ne,
    CAST(SUM(CASE WHEN fm IS NOT NULL AND cm + fm > 0 THEN
      CAST(round(2e9 * abs(cm - fm) / (cm + fm)) AS BIGINT) END)
      AS BIGINT) AS st,
    CAST(SUM(CASE WHEN fm IS NOT NULL THEN abs(cm - fm) END) AS BIGINT)
      AS sae,
    CAST(COUNT(CASE WHEN pm IS NOT NULL THEN 1 END) AS BIGINT) AS nd,
    CAST(SUM(CASE WHEN pm IS NOT NULL THEN abs(cm - pm) END) AS BIGINT)
      AS sad
  FROM b GROUP BY 1
)
SELECT event_type, ne AS n_scored,
  CASE WHEN ne > 0 THEN round(st / (1e9 * ne), 6) END AS smape,
  CASE WHEN ne > 0 AND sad > 0 THEN
    round(CAST(CAST(sae AS HUGEINT) * nd AS DOUBLE)
          / CAST(CAST(ne AS HUGEINT) * sad AS DOUBLE), 6)
  END AS mase
FROM g ORDER BY event_type
"""


# ------------------------------------------------------ dq_orphan_rate


def dq_orphan_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts and exact-ppm rates
    for the four TPC-H foreign keys (orders→customer,
    lineitem→orders, lineitem→part, lineitem→supplier) — the
    enforcement companion of dq_fk_discovery (which infers candidate
    FKs, this measures violation mass).  Orphans via LEFT ANTI joins
    with the parent key side BROADCAST (dimension tables); rates are
    integer ppm ((orphans·1e6) DIV n) — no IEEE division at all."""
    t = load_tables(
        spark, sf_dir,
        ["orders", "customer", "lineitem", "part", "supplier"],
    )
    specs = [
        ("orders.o_custkey->customer", t["orders"], "o_custkey",
         t["customer"], "c_custkey"),
        ("lineitem.l_orderkey->orders", t["lineitem"], "l_orderkey",
         t["orders"], "o_orderkey"),
        ("lineitem.l_partkey->part", t["lineitem"], "l_partkey",
         t["part"], "p_partkey"),
        ("lineitem.l_suppkey->supplier", t["lineitem"], "l_suppkey",
         t["supplier"], "s_suppkey"),
    ]
    out = None
    for name, child, ck, parent, pk in specs:
        orphans = child.join(
            F.broadcast(parent.select(F.col(pk).alias(ck)).distinct()),
            ck,
            "left_anti",
        )
        row = child.agg(
            F.count(F.lit(1)).cast("long").alias("n_child")
        ).crossJoin(
            orphans.agg(
                F.count(F.lit(1)).cast("long").alias("n_orphans")
            )
        ).select(
            F.lit(name).alias("fk"),
            "n_child",
            "n_orphans",
            F.call_function(
                "div",
                F.col("n_orphans") * F.lit(1_000_000).cast("long"),
                F.col("n_child"),
            ).alias("orphan_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk")


def _dq_orphan_rate_sql() -> str:
    specs = [
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
    ]
    sel = []
    for name, child, ck, parent, pk in specs:
        sel.append(f"""SELECT '{name}' AS fk,
    CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child,
    CAST((SELECT COUNT(*) FROM {child} WHERE {ck} NOT IN
          (SELECT {pk} FROM {parent})) AS BIGINT) AS n_orphans,
    (CAST((SELECT COUNT(*) FROM {child} WHERE {ck} NOT IN
          (SELECT {pk} FROM {parent})) AS BIGINT) * 1000000)
      // (SELECT COUNT(*) FROM {child}) AS orphan_ppm""")
    return "\n  SELECT * FROM (\n" + "\n  UNION ALL\n".join(sel) + "\n) ORDER BY fk"


# ------------------------------------------------------- t_group_kfold

_KFOLD_K = 5


def t_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware K-fold assignment (the sklearn GroupKFold semantic,
    hash-dealt): every event lands in fold = hash64(user#fold) % 5 of
    its USER, so no user ever straddles folds — the leakage-safe CV
    split for user-correlated data.  Census per fold: events, users,
    types, exact-ppm event share.  Disjointness is by construction
    (the fold is a function of the user), and the census proves
    coverage: Σ n_users over folds = distinct users."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    fold = hash64(
        F.concat(F.col("user_id").cast("string"), F.lit("#fold"))
    ) % _KFOLD_K
    g = e.withColumn("fold", fold).groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
    )
    tot = g.agg(F.sum("n_events").cast("long").alias("nt"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_events",
            "n_users",
            "n_types",
            F.call_function(
                "div",
                F.col("n_events") * F.lit(1_000_000).cast("long"),
                F.col("nt"),
            ).alias("event_share_ppm"),
        )
        .orderBy("fold")
    )


def _t_group_kfold_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r8 import H60

    h = H60.format(x="CAST(user_id AS VARCHAR) || '#fold'")
    return f"""
WITH g AS (
  SELECT {h} % {_KFOLD_K} AS fold,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
  FROM events GROUP BY 1
), tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS nt FROM g)
SELECT fold, n_events, n_users, n_types,
  (n_events * 1000000) // nt AS event_share_ppm
FROM g CROSS JOIN tot ORDER BY fold
"""


# -------------------------------------------------- t_poisson_bootstrap

# Poisson(1) CDF in exact ppm (fixed published constants, identical in
# both engines): P(X <= k) for k = 0..7.
_POIS1_CDF_PPM = [367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990]


def t_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (the scalable bootstrap for
    distributed data — each row independently draws a Poisson(1)
    replication weight, no global resample): the draw is the inverse
    CDF applied to a hash-derived uniform (hash64(event_id#boot) %
    1e6 against exact ppm thresholds), so the resample is reproducible
    across engines and runs.  Census per event type: original vs
    resampled row counts and micro value sums, plus the resample
    ratio.  Everything is exact integers except one final ratio."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        "event_id",
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    )
    u = hash64(
        F.concat(F.col("event_id").cast("string"), F.lit("#boot"))
    ) % 1_000_000
    w = None
    for c in _POIS1_CDF_PPM:
        term = F.when(u >= c, 1).otherwise(0)
        w = term if w is None else w + term
    d = "decimal(38,0)"
    g = e.withColumn("w", w).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_orig"),
        F.sum("w").cast("long").alias("n_resampled"),
        F.sum("vm").cast("long").alias("sum_vm_orig"),
        F.sum(F.col("w").cast(d) * F.col("vm").cast(d)).cast(d).alias(
            "__svr"
        ),
    )
    return g.select(
        "event_type",
        "n_orig",
        "n_resampled",
        "sum_vm_orig",
        F.col("__svr").cast("long").alias("sum_vm_resampled"),
        F.round(F.col("n_resampled") / F.col("n_orig").cast("double"), 6)
        .alias("resample_ratio"),
    ).orderBy("event_type")


def _t_poisson_bootstrap_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r8 import H60

    h = H60.format(x="CAST(event_id AS VARCHAR) || '#boot'")
    w = " + ".join(
        f"(CASE WHEN u >= {c} THEN 1 ELSE 0 END)" for c in _POIS1_CDF_PPM
    )
    return f"""
WITH base AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS vm,
    {h} % 1000000 AS u
  FROM events
), wtd AS (
  SELECT event_type, vm, {w} AS w FROM base
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_orig,
  CAST(SUM(w) AS BIGINT) AS n_resampled,
  CAST(SUM(vm) AS BIGINT) AS sum_vm_orig,
  CAST(SUM(CAST(w AS HUGEINT) * vm) AS BIGINT) AS sum_vm_resampled,
  round(SUM(w) / CAST(COUNT(*) AS DOUBLE), 6) AS resample_ratio
FROM wtd GROUP BY 1 ORDER BY event_type
"""


# --------------------------------------------- t_temporal_split_embargo

_EMBARGO_MS = 6 * 3_600_000  # 6 hours


def t_temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an embargo gap (the
    finance-standard leakage control — de Prado 2018: observations
    inside the embargo window after the train cutoff are DROPPED so
    serially-correlated features cannot leak across the boundary):
    cutoff = the exact ceil(0.8·n)-ranked event time (integer rank
    arithmetic, never an IEEE ceil), embargo = 6 h.  Census per event
    type: train/embargo/test counts and the user-overlap leakage
    audit (distinct users present on BOTH sides — nonzero is expected
    for user-keyed data; the column is the honesty metric group-aware
    splitters are judged by).

    Determinism: the cutoff is the unique (ms, event_id)-ordered rank
    via the distributed range rank; every output is an exact count."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ms"),
    )
    ranked = range_partitioned_rank(e, ["ms", "event_id"], out_col="rn")
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = n.select(
        F.call_function(
            "div", F.lit(4) * F.col("n") + F.lit(4), F.lit(5).cast("long")
        ).alias("r")
    )
    t1 = (
        ranked.join(F.broadcast(r), F.col("rn") == F.col("r"))
        .select(F.col("ms").alias("t1"))
    )
    lab = e.crossJoin(F.broadcast(t1)).withColumn(
        "split",
        F.when(F.col("ms") <= F.col("t1"), "train")
        .when(F.col("ms") < F.col("t1") + _EMBARGO_MS, "embargo")
        .otherwise("test"),
    )
    cnt = lab.groupBy("event_type").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "embargo", 1).otherwise(0))
        .cast("long")
        .alias("n_embargo"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    overlap = (
        lab.where(F.col("split") != "embargo")
        .groupBy("event_type", "user_id")
        .agg(
            F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
                "in_tr"
            ),
            F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias(
                "in_te"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.col("in_tr") * F.col("in_te"))
            .cast("long")
            .alias("n_users_leaking")
        )
    )
    return (
        cnt.join(overlap, "event_type")
        .orderBy("event_type")
        .select(
            "event_type", "n_train", "n_embargo", "n_test",
            "n_users_leaking",
        )
    )


def _t_temporal_split_embargo_sql() -> str:
    return f"""
WITH e AS (
  SELECT event_type, user_id, event_id, epoch_ms(ts) AS ms FROM events
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY ms, event_id) AS rn FROM e
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
t1 AS (
  SELECT ms AS t1 FROM ranked, n WHERE rn = (4 * n.n + 4) // 5
), lab AS (
  SELECT event_type, user_id,
    CASE WHEN ms <= t1 THEN 'train'
         WHEN ms < t1 + {_EMBARGO_MS} THEN 'embargo'
         ELSE 'test' END AS split
  FROM e CROSS JOIN t1
), cnt AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_train,
    CAST(SUM(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_embargo,
    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_test
  FROM lab GROUP BY 1
), ov AS (
  SELECT event_type,
    CAST(SUM(in_tr * in_te) AS BIGINT) AS n_users_leaking
  FROM (
    SELECT event_type, user_id,
      MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_tr,
      MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_te
    FROM lab WHERE split <> 'embargo' GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT event_type, n_train, n_embargo, n_test, n_users_leaking
FROM cnt JOIN ov USING (event_type) ORDER BY event_type
"""


# ------------------------------------------------------ t_lang_confusion


def t_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the heuristic marker-lexicon
    predictor (t_lang_id's exact argmax chain) against the labeled
    lang column, as (lang, pred_lang) cells with the within-label
    share — the audit that shows WHERE the detector fails, which the
    scalar accuracy of t_lang_id cannot.  Counts exact; one IEEE
    share division per cell, round 6."""
    from kp_crypto_market_analytics_spark.queries import t_lang_id

    pred = t_lang_id(spark, sf_dir).select("lang", "pred_lang")
    g = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    wtot = g.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("nt"))
    return (
        g.join(F.broadcast(wtot), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("nt").cast("double"), 6).alias(
                "share_of_lang"
            ),
            (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
        )
        .orderBy("lang", "pred_lang")
    )


def _t_lang_confusion_sql() -> str:
    inner = lang_id_sql().replace("ORDER BY doc_id", "")
    return f"""
WITH pred AS ({inner}), g AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
), wtot AS (
  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS nt FROM g GROUP BY 1
)
SELECT lang, pred_lang, n_docs,
  round(n_docs / CAST(nt AS DOUBLE), 6) AS share_of_lang,
  lang = pred_lang AS is_correct
FROM g JOIN wtot USING (lang) ORDER BY lang, pred_lang
"""


# --------------------------------------------------- w_rolling_skewkurt

_SK_WINDOW = 60
_SK_MIN_PERIODS = 30


def w_rolling_skewkurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 60-row skewness and excess kurtosis per event type —
    the higher-moment extension of w2_rolling_std's recipe.  Values
    quantize to milli integers (round(value·1e3) — documented 3-dp
    moment grid, so x⁴ sums stay inside DECIMAL(38,0) at any window)
    and the four power sums fold exactly; skew g₁ = m₃/m₂^1.5 and
    excess kurtosis g₂ = m₄/m₂² − 3 are one identical IEEE chain over
    those exact sums, masked below 30 rows or zero variance."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    d = "decimal(38,0)"
    x = F.round(F.col("value") * F.lit(1_000.0), 0).cast("long")
    b = e.select(
        "event_type", "ts", "event_id", x.alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_SK_WINDOW - 1), 0)
    )
    xd = F.col("x").cast(d)
    b = b.withColumns(
        {
            "__n": F.count("x").over(w),
            "__s1": F.sum(xd).over(w).cast("double"),
            "__s2": F.sum((F.col("x") * F.col("x")).cast(d)).over(w).cast("double"),
            "__s3": F.sum(xd * xd * xd).over(w).cast("double"),
            "__s4": F.sum(xd * xd * xd * xd).over(w).cast("double"),
        }
    )
    n, s1, s2, s3, s4 = (
        F.col("__n"),
        F.col("__s1"),
        F.col("__s2"),
        F.col("__s3"),
        F.col("__s4"),
    )
    nn = n.cast("double")
    m = s1 / nn
    m2 = s2 / nn - m * m
    m3 = s3 / nn - F.lit(3.0) * m * s2 / nn + F.lit(2.0) * m * m * m
    m4 = (
        s4 / nn
        - F.lit(4.0) * m * s3 / nn
        + F.lit(6.0) * m * m * s2 / nn
        - F.lit(3.0) * m * m * m * m
    )
    ok = (n >= _SK_MIN_PERIODS) & (m2 > 0)
    return b.select(
        "event_type",
        "ts",
        "event_id",
        F.when(ok, F.round(m3 / F.sqrt(m2 * m2 * m2), 6) + F.lit(0.0)).alias(
            "roll_skew"
        ),
        F.when(ok, F.round(m4 / (m2 * m2) - 3, 6) + F.lit(0.0)).alias(
            "roll_kurt"
        ),
    ).orderBy("event_type", "ts", "event_id")


def _w_rolling_skewkurt_sql() -> str:
    m = "(s1 / nn)"
    m2 = f"(s2 / nn - {m} * {m})"
    m3 = f"(s3 / nn - 3.0 * {m} * s2 / nn + 2.0 * {m} * {m} * {m})"
    m4 = (
        f"(s4 / nn - 4.0 * {m} * s3 / nn + 6.0 * {m} * {m} * s2 / nn"
        f" - 3.0 * {m} * {m} * {m} * {m})"
    )
    return f"""
WITH b AS (
  SELECT event_type, ts, event_id,
    CAST(round(value * 1000) AS BIGINT) AS x
  FROM events
), s AS (
  SELECT event_type, ts, event_id,
    COUNT(x) OVER w AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,0))) OVER w AS DOUBLE) AS s1,
    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) OVER w AS DOUBLE) AS s2,
    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x) OVER w AS DOUBLE) AS s3,
    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x * x) OVER w AS DOUBLE) AS s4
  FROM b
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {_SK_WINDOW - 1} PRECEDING AND CURRENT ROW)
), fin AS (
  SELECT event_type, ts, event_id, n, CAST(n AS DOUBLE) AS nn,
    s1, s2, s3, s4
  FROM s
)
SELECT event_type, ts, event_id,
  CASE WHEN n >= {_SK_MIN_PERIODS} AND {m2} > 0 THEN
    round({m3} / sqrt({m2} * {m2} * {m2}), 6) + 0.0 END AS roll_skew,
  CASE WHEN n >= {_SK_MIN_PERIODS} AND {m2} > 0 THEN
    round({m4} / ({m2} * {m2}) - 3, 6) + 0.0 END AS roll_kurt
FROM fin ORDER BY event_type, ts, event_id
"""


# ------------------------------------------------------ w_hampel_filter

_HAM_W = 25      # odd window: median is ONE element, no convention
_HAM_K_NUM = 44478   # 3 * 1.4826 = 4.4478 as an exact rational
_HAM_K_DEN = 10000


def w_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter (the robust despiking standard): flag a
    tick when |x − rolling median₂₅| > 3·1.4826·MAD₂₅, rolled up as a
    per-(type, day) census of windows and outliers with an exact-ppm
    rate.  Extends w_rolling_median's one-element-median recipe: the
    window's sorted 25-frame yields the median AND (via a transform
    over the same array) the MAD in one pass, and the flag comparison
    is pure integer arithmetic — |dev|·10000 > 44478·MAD in micro
    units — so no IEEE boundary can split the engines."""
    t = load_tables(spark, sf_dir, ["events"])
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_HAM_W - 1), 0)
    )
    wr = Window.partitionBy("event_type").orderBy("ts", "event_id")
    mid = (_HAM_W + 1) // 2
    pxm = F.round(F.col("value") * F.lit(1_000_000.0), 0).cast("long")
    base = (
        ensure_parallelism(t["events"])
        .select("event_type", "ts", "event_id", pxm.alias("pxm"))
        .withColumn("arr", F.sort_array(F.collect_list("pxm").over(w)))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") >= _HAM_W)
    )
    med = F.element_at("arr", mid)
    mad = F.element_at(
        F.sort_array(F.transform("arr", lambda x: F.abs(x - med))), mid
    )
    flagged = base.select(
        "event_type",
        F.to_date("ts").alias("day"),
        (
            F.abs(F.col("pxm") - med) * F.lit(_HAM_K_DEN)
            > F.lit(_HAM_K_NUM) * mad
        ).alias("is_outlier"),
    )
    g = flagged.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
    )
    return g.select(
        "event_type",
        "day",
        "n_windows",
        "n_outliers",
        F.call_function(
            "div",
            F.col("n_outliers") * F.lit(1_000_000).cast("long"),
            F.col("n_windows"),
        ).alias("outlier_ppm"),
    ).orderBy("event_type", "day")


def _w_hampel_filter_sql() -> str:
    mid = (_HAM_W + 1) // 2
    return f"""
WITH base AS (
  SELECT event_type, ts, event_id,
    CAST(round(value * 1000000) AS BIGINT) AS pxm
  FROM events
), framed AS (
  SELECT event_type, ts, event_id, pxm,
    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
      AS rn,
    list_sort(list(pxm) OVER (
      PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN {_HAM_W - 1} PRECEDING AND CURRENT ROW
    )) AS arr
  FROM base
), scored AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    abs(pxm - arr[{mid}]) * {_HAM_K_DEN}
      > {_HAM_K_NUM} * list_sort(
          list_transform(arr, x -> abs(x - arr[{mid}])))[{mid}]
      AS is_outlier
  FROM framed WHERE rn >= {_HAM_W}
), g AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_windows,
    CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT)
      AS n_outliers
  FROM scored GROUP BY 1, 2
)
SELECT event_type, day, n_windows, n_outliers,
  (n_outliers * 1000000) // n_windows AS outlier_ppm
FROM g ORDER BY event_type, day
"""


# ------------------------------------------------------------ ti_pacf

_PACF_LAGS = (1, 2, 3)


def ti_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1–3 per symbol via the
    Durbin-Levinson recursion over the pairwise-Pearson lag
    correlations (the ti_acf family's definition, lags 1/2/3):
    φ₁₁ = r₁, φ₂₂ = (r₂−r₁²)/(1−r₁²), φ₃₃ = (r₃−φ₂₁r₂−φ₂₂r₁)/
    (1−φ₂₁r₁−φ₂₂r₂) with φ₂₁ = r₁(1−φ₂₂).

    Determinism: the three correlations come off exact DECIMAL moment
    sums in ONE grouped aggregation; the recursion is one identical
    IEEE chain over those unrounded doubles; outputs round 6."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        "value",
        *[F.lag("value", k).over(w).alias(f"y{k}") for k in _PACF_LAGS],
    )
    aggs = []
    for k in _PACF_LAGS:
        y = F.col(f"y{k}")
        x = F.when(y.isNotNull(), F.col("value"))
        xd, yd = x.cast(DEC), y.cast(DEC)
        n = F.count(y).cast("double")
        sx = F.sum(xd).cast("double")
        sy = F.sum(yd).cast("double")
        sxx = F.sum(xd * xd).cast("double")
        syy = F.sum(yd * yd).cast("double")
        sxy = F.sum(xd * yd).cast("double")
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
        aggs.append(r.alias(f"r{k}"))
    g = e.groupBy("event_type").agg(*aggs)
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    p21 = r1 * (1 - p22)
    den3 = 1 - p21 * r1 - p22 * r2
    p33 = (r3 - p21 * r2 - p22 * r1) / den3
    ok2 = (1 - r1 * r1) != 0
    ok3 = ok2 & (den3 != 0)
    return g.select(
        "event_type",
        (F.round(r1, 6) + F.lit(0.0)).alias("pacf_1"),
        F.when(ok2, F.round(p22, 6) + F.lit(0.0)).alias("pacf_2"),
        F.when(ok3, F.round(p33, 6) + F.lit(0.0)).alias("pacf_3"),
    ).orderBy("event_type")


def _ti_pacf_sql() -> str:
    lag_cols = ",\n    ".join(
        f"lag(value, {k}) OVER (PARTITION BY event_type ORDER BY ts, event_id)"
        f" AS y{k}"
        for k in _PACF_LAGS
    )
    rsel = []
    for k in _PACF_LAGS:
        xd = f"CASE WHEN y{k} IS NOT NULL THEN CAST(value AS DECIMAL(18,6)) END"
        yd = f"CAST(y{k} AS DECIMAL(18,6))"
        rsel.append(
            f"""CASE WHEN CAST(COUNT(y{k}) AS DOUBLE) * CAST(SUM(({xd}) * ({xd})) AS DOUBLE)
        - CAST(SUM({xd}) AS DOUBLE) * CAST(SUM({xd}) AS DOUBLE) > 0
      AND CAST(COUNT(y{k}) AS DOUBLE) * CAST(SUM(({yd}) * ({yd})) AS DOUBLE)
        - CAST(SUM({yd}) AS DOUBLE) * CAST(SUM({yd}) AS DOUBLE) > 0
    THEN (CAST(COUNT(y{k}) AS DOUBLE) * CAST(SUM(({xd}) * ({yd})) AS DOUBLE)
          - CAST(SUM({xd}) AS DOUBLE) * CAST(SUM({yd}) AS DOUBLE))
      / sqrt((CAST(COUNT(y{k}) AS DOUBLE) * CAST(SUM(({xd}) * ({xd})) AS DOUBLE)
          - CAST(SUM({xd}) AS DOUBLE) * CAST(SUM({xd}) AS DOUBLE))
        * (CAST(COUNT(y{k}) AS DOUBLE) * CAST(SUM(({yd}) * ({yd})) AS DOUBLE)
          - CAST(SUM({yd}) AS DOUBLE) * CAST(SUM({yd}) AS DOUBLE)))
    END AS r{k}"""
        )
    rsel_sql = ",\n    ".join(rsel)
    p22 = "((r2 - r1 * r1) / (1 - r1 * r1))"
    p21 = f"(r1 * (1 - {p22}))"
    den3 = f"(1 - {p21} * r1 - {p22} * r2)"
    p33 = f"((r3 - {p21} * r2 - {p22} * r1) / {den3})"
    return f"""
WITH lagged AS (
  SELECT event_type, value,
    {lag_cols}
  FROM events
), g AS (
  SELECT event_type,
    {rsel_sql}
  FROM lagged GROUP BY 1
)
SELECT event_type,
  round(r1, 6) + 0.0 AS pacf_1,
  CASE WHEN 1 - r1 * r1 <> 0 THEN round({p22}, 6) + 0.0 END AS pacf_2,
  CASE WHEN 1 - r1 * r1 <> 0 AND {den3} <> 0
    THEN round({p33}, 6) + 0.0 END AS pacf_3
FROM g ORDER BY event_type
"""


# ------------------------------------------------- t_perplexity_buckets


def t_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity filter census: documents banded by the floor of
    20× their unigram mean log-probability (t_unigram_logprob's exact
    6-dp score — band width 0.05 nat, the resolution that separates
    this corpus's [-3.70, -3.38] score range into readable bands), reporting per band the doc
    count, corpus share, and the mean quality score and token count.
    This is the table a perplexity-threshold filter is tuned from:
    if quality rises monotonically with the band, the LM filter and
    the heuristic agree and a cut line exists.

    Determinism: banding floors an exact 6-dp value; means are exact
    half-away micro divisions (round_mean_micro); share is integer
    ppm."""
    from kp_crypto_market_analytics_spark.functions.text import (
        quality_score,
        token_count,
    )
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )
    from kp_crypto_market_analytics_spark.queries_ext import (
        _unigram_logprob_df,
    )

    # Shared materialized LM-score table (r11): the banded census reads
    # the same per-doc frame t_unigram_logprob emits instead of
    # re-running the explode+vocab-join pass.
    lp = _unigram_logprob_df(spark, sf_dir).select("doc_id", "avg_logprob")
    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"]).select(
        "doc_id",
        token_count("text").alias("ntok"),
        quality_score("text").alias("q"),
    )
    j = lp.join(d, "doc_id")
    band = F.floor(F.col("avg_logprob") * F.lit(20.0)).cast("long")
    g = j.groupBy(band.alias("logprob_band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("q").cast("long").alias("nq"),
        F.sum(F.col("q").cast(DEC)).alias("sq"),
        F.sum("ntok").cast(DEC).alias("st"),
    )
    tot = g.agg(F.sum("n_docs").cast("long").alias("nt"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "logprob_band",
            "n_docs",
            F.call_function(
                "div",
                F.col("n_docs") * F.lit(1_000_000).cast("long"),
                F.col("nt"),
            ).alias("share_ppm"),
            F.when(
                F.col("nq") > 0, round_mean_micro(F.col("sq"), F.col("nq"))
            ).alias("mean_quality"),
            round_mean_micro(F.col("st"), F.col("n_docs")).alias(
                "mean_tokens"
            ),
        )
        .orderBy("logprob_band")
    )


def _t_perplexity_buckets_sql() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )
    from kp_crypto_market_analytics_spark.queries_ext import TOKENS_CTE

    hits = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2}"
        " AS BIGINT)"
        for w in STOPWORDS
    )
    mq = sql_round_mean_micro("sq", "nq")
    mt = sql_round_mean_micro("st", "n_docs")
    return f"""
WITH {TOKENS_CTE}, total AS (
  SELECT COUNT(*) AS total FROM toks
), vocab AS (
  SELECT tok, round(ln(COUNT(*) / (SELECT total FROM total)), 6) AS logp
  FROM toks GROUP BY tok
), lp AS (
  SELECT doc_id,
    round(CAST(SUM(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
      AS avg_logprob
  FROM toks JOIN vocab USING (tok) GROUP BY doc_id
), feat AS (
  SELECT doc_id,
    CASE WHEN length(t) = 0 THEN 0
         ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
    END AS ntok,
    round(least((CASE WHEN length(t) = 0 THEN 0
           ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
           END) / 100.0, 1.0) * 0.5
      + least(CASE WHEN (CASE WHEN length(t) = 0 THEN 0
           ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
           END) > 0
          THEN CAST({hits} AS DOUBLE)
            / (CASE WHEN length(t) = 0 THEN 0
               ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
               END) END * 5, 1.0) * 0.5, 6) AS q
  FROM (
    SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t,
      ' ' || lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) || ' ' AS p
    FROM documents)
), g AS (
  SELECT CAST(floor(avg_logprob * 20.0) AS BIGINT) AS logprob_band,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(q) AS BIGINT) AS nq,
    SUM(CAST(q AS DECIMAL(18,6))) AS sq,
    CAST(SUM(ntok) AS DECIMAL(18,6)) AS st
  FROM lp JOIN feat USING (doc_id) GROUP BY 1
), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt FROM g)
SELECT logprob_band, n_docs,
  (n_docs * 1000000) // nt AS share_ppm,
  CASE WHEN nq > 0 THEN {mq} END AS mean_quality,
  {mt} AS mean_tokens
FROM g CROSS JOIN tot ORDER BY logprob_band
"""


# ------------------------------------------------------ t_cdc_chunking

_CDC_WIN = 8      # rolling-window width for the boundary hash
_CDC_MASK = 64    # expected chunk length ~64 chars


def t_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS gear principle, via
    the portable md5-window hash): a cut point falls BEFORE position i
    whenever hash64 of the 8-char window at i ≡ 0 (mod 64) — so chunk
    boundaries move WITH content, and a one-character edit re-chunks
    only its neighborhood (the property fixed-size blocks lack, and
    the reason training-data pipelines chunk this way for sub-document
    dedup).  Per-source census: docs, chunks, mean chunk length, and
    the chunk-level dedup ratio (1 − distinct md5 chunks / chunks).

    Determinism: cut points are pure integer tests on the shared
    md5-derived hash64; chunk extraction is array arithmetic over
    exact positions; the dedup ratio is one IEEE division, round 6.
    Scale shape: positions explode per document (length-bounded), one
    groupBy(source) + one distinct-chunk agg — no joins."""
    from kp_crypto_market_analytics_spark.functions.text import hash64
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )
    from kp_crypto_market_analytics_spark.queries_r7 import _norm_text

    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"]).select(
        "doc_id", "source", _norm_text().alias("t")
    )
    ln = F.length("t")
    pos = F.when(
        ln - _CDC_WIN >= 2, F.sequence(F.lit(2), ln - _CDC_WIN)
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.filter(
        pos,
        lambda i: hash64(F.col("t").substr(i, F.lit(_CDC_WIN)))
        % _CDC_MASK
        == 0,
    )
    starts = F.concat(F.array(F.lit(1)), cuts)
    ends = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(ln + 1),
    )
    chunks = F.zip_with(
        starts, ends, lambda s, e: F.col("t").substr(s, e - s)
    )
    ex = d.select(
        "source", "doc_id", ln.alias("len"), F.explode(chunks).alias("c")
    )
    g = ex.groupBy("source").agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.length("c")).cast(DEC).alias("s_len"),
        F.count_distinct(F.md5("c")).cast("long").alias("n_unique"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_chunks",
        "n_unique",
        round_mean_micro(F.col("s_len"), F.col("n_chunks")).alias(
            "mean_chunk_len"
        ),
        F.round(
            F.lit(1.0) - F.col("n_unique") / F.col("n_chunks").cast("double"),
            6,
        ).alias("dup_chunk_ratio"),
    ).orderBy("source")


def _t_cdc_chunking_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )
    from kp_crypto_market_analytics_spark.queries_r8 import (
        H60,
        NORM_TEXT_SQL,
    )

    h = H60.format(x=f"substr(t, CAST(i AS INT), {_CDC_WIN})")
    ml = sql_round_mean_micro("s_len", "n_chunks")
    return f"""
WITH norm AS (
  SELECT doc_id, source, {NORM_TEXT_SQL} AS t FROM documents
), cuts AS (
  SELECT doc_id, source, t, length(t) AS len,
    list_prepend(CAST(1 AS BIGINT),
      CASE WHEN length(t) - {_CDC_WIN} >= 2 THEN
        list_filter(generate_series(CAST(2 AS BIGINT),
                                    CAST(length(t) - {_CDC_WIN} AS BIGINT)),
                    i -> ({h}) % {_CDC_MASK} = 0)
      ELSE [] END) AS starts
  FROM norm
), chunks AS (
  SELECT source, doc_id,
    unnest(list_transform(generate_series(1, len(starts)),
      j -> substr(t, CAST(starts[j] AS INT),
                  CAST(coalesce(starts[j + 1], len + 1) - starts[j] AS INT))))
      AS c
  FROM cuts
), g AS (
  SELECT source,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
    CAST(COUNT(*) AS BIGINT) AS n_chunks,
    CAST(SUM(length(c)) AS DECIMAL(18,6)) AS s_len,
    CAST(COUNT(DISTINCT md5(c)) AS BIGINT) AS n_unique
  FROM chunks GROUP BY 1
)
SELECT source, n_docs, n_chunks, n_unique,
  {ml} AS mean_chunk_len,
  round(1.0 - n_unique / CAST(n_chunks AS DOUBLE), 6) AS dup_chunk_ratio
FROM g ORDER BY source
"""


# -------------------------------------------------------- ti_keltner

_KC_EWMA_LAGS = 8   # truncated EWMA depth (alpha = 1/2 -> /255)
_KC_ATR_N = 10


def ti_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channels: middle = truncated 8-lag EWMA (α = 1/2, the
    w_ewma_truncated exact-rational recipe — weights 2^(7−j)/255) of
    the daily typical price, bands = middle ± 2·ATR-10 (Cutler SMA
    smoothing, the ti_atr choice).  Typical price rides as the
    INTEGER 3×micro sum H+L+C, so the whole EWMA numerator is exact
    int64 and the middle line is ONE half-away division by 3·255;
    bands add exact ATR micro integers.  Masked until both the 8-bar
    EWMA window and the 10-bar ATR window fill."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _with_true_range,
        _wd,
    )

    bars = _with_true_range(_daily_bars_df(spark, sf_dir))
    b = bars.withColumn("tpm3", F.col("hm") + F.col("lm") + F.col("cm"))
    w = _wd()
    lags = [
        F.lag("tpm3", j).over(w).alias(f"t{j}")
        for j in range(1, _KC_EWMA_LAGS)
    ]
    b = b.select("event_type", "day", "tpm3", "trm", *lags)
    num = sum(
        (
            (F.col("tpm3") if j == 0 else F.col(f"t{j}"))
            * F.lit(1 << (_KC_EWMA_LAGS - 1 - j))
        )
        for j in range(_KC_EWMA_LAGS)
    )
    den = (1 << _KC_EWMA_LAGS) - 1  # 255
    mid_micro = F.call_function(
        "div", F.lit(2) * num + F.lit(3 * den), F.lit(2 * 3 * den)
    )
    wa = _wd().rowsBetween(-(_KC_ATR_N - 1), 0)
    b = b.withColumns(
        {
            "__n_tr": F.count("trm").over(wa),
            "__s_tr": F.sum("trm").over(wa),
        }
    )
    n_tr, s_tr = F.col("__n_tr"), F.col("__s_tr")
    atr_micro = F.call_function(
        "div", F.lit(2) * s_tr + F.lit(_KC_ATR_N), F.lit(2 * _KC_ATR_N)
    )
    ok = F.col(f"t{_KC_EWMA_LAGS - 1}").isNotNull() & (n_tr >= _KC_ATR_N)
    return b.select(
        "event_type",
        "day",
        F.when(ok, mid_micro / F.lit(1e6)).alias("kc_middle"),
        F.when(ok, (mid_micro + 2 * atr_micro) / F.lit(1e6)).alias(
            "kc_upper"
        ),
        F.when(ok, (mid_micro - 2 * atr_micro) / F.lit(1e6)).alias(
            "kc_lower"
        ),
    ).orderBy("event_type", "day")


def _ti_keltner_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _TR_SQL,
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    den = (1 << _KC_EWMA_LAGS) - 1
    terms = []
    for j in range(_KC_EWMA_LAGS):
        col = (
            "tpm3"
            if j == 0
            else f"lag(tpm3, {j}) OVER ({_WD_SQL})"
        )
        terms.append(f"({col}) * {1 << (_KC_EWMA_LAGS - 1 - j)}")
    num = " + ".join(terms)
    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day, hm + lm + cm AS tpm3, {_TR_SQL} AS trm
  FROM bars
), s AS (
  SELECT event_type, day,
    ({num}) AS num,
    lag(tpm3, {_KC_EWMA_LAGS - 1}) OVER ({_WD_SQL}) AS t_last,
    COUNT(trm) OVER w AS n_tr, SUM(trm) OVER w AS s_tr
  FROM b
  WINDOW w AS ({_WD_SQL} ROWS BETWEEN {_KC_ATR_N - 1} PRECEDING AND CURRENT ROW)
), fin AS (
  SELECT event_type, day, t_last, n_tr,
    ((2 * num + {3 * den}) // {2 * 3 * den}) AS mid_micro,
    ((2 * s_tr + {_KC_ATR_N}) // {2 * _KC_ATR_N}) AS atr_micro
  FROM s
)
SELECT event_type, day,
  CASE WHEN t_last IS NOT NULL AND n_tr >= {_KC_ATR_N}
    THEN mid_micro / 1e6 END AS kc_middle,
  CASE WHEN t_last IS NOT NULL AND n_tr >= {_KC_ATR_N}
    THEN (mid_micro + 2 * atr_micro) / 1e6 END AS kc_upper,
  CASE WHEN t_last IS NOT NULL AND n_tr >= {_KC_ATR_N}
    THEN (mid_micro - 2 * atr_micro) / 1e6 END AS kc_lower
FROM fin ORDER BY event_type, day
"""


# ------------------------------------------------- o8_systematic_sample

_SYS_K = 97  # prime stride decorrelates from any periodic layout


def o8_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling on the global (ts, event_id)
    order — the third deterministic sampler next to o6 (hash Bernoulli)
    and o7 (exact-k reservoir): stride 97 over the distributed range
    rank, so the sample is evenly spaced in TIME, the property
    hash samplers cannot give and time-series eval wants.  Census per
    type: original/sample counts, exact-ppm rate, and the sample's
    micro value sum as the cross-engine checksum."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    )
    ranked = range_partitioned_rank(e, ["ts", "event_id"], out_col="rn")
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_orig"),
        F.sum(F.when(F.col("rn") % _SYS_K == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_sample"),
        F.sum(F.when(F.col("rn") % _SYS_K == 1, F.col("vm")))
        .cast("long")
        .alias("sample_vm_sum"),
    )
    return g.select(
        "event_type",
        "n_orig",
        "n_sample",
        F.call_function(
            "div",
            F.col("n_sample") * F.lit(1_000_000).cast("long"),
            F.col("n_orig"),
        ).alias("sample_ppm"),
        F.coalesce("sample_vm_sum", F.lit(0)).alias("sample_vm_sum"),
    ).orderBy("event_type")


def _o8_systematic_sample_sql() -> str:
    return f"""
WITH ranked AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS vm,
    row_number() OVER (ORDER BY ts, event_id) AS rn
  FROM events
), g AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_orig,
    CAST(SUM(CASE WHEN rn % {_SYS_K} = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_sample,
    CAST(SUM(CASE WHEN rn % {_SYS_K} = 1 THEN vm END) AS BIGINT)
      AS svs
  FROM ranked GROUP BY 1
)
SELECT event_type, n_orig, n_sample,
  (n_sample * 1000000) // n_orig AS sample_ppm,
  coalesce(svs, 0) AS sample_vm_sum
FROM g ORDER BY event_type
"""


# ----------------------------------------------------------- a_rank_ic

_IC_LOOKBACK = 5  # momentum signal horizon, bars


def a_rank_ic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rank information coefficient of a 5-bar momentum signal:
    per day, the Spearman correlation ACROSS symbols between the
    signal (close − close₅ₐ₉ₒ) and the next bar's forward return —
    then the IC time series is summarized as mean IC and the IC
    information ratio (mean/std), the standard cross-sectional signal
    evaluation of quant research.

    Determinism: signals and returns are exact micro integers;
    within-day midranks are exact min+max integers (doubled);
    each day's Spearman is Pearson-on-ranks over those integers —
    one IEEE chain nano-rounded to a BIGINT — and the mean/IR fold
    the nano ICs with exact integer/decimal moments."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    w = _wd()
    sig = (F.col("cm") - F.lag("cm", _IC_LOOKBACK).over(w)).alias("sig")
    fwd = (F.lead("cm").over(w) - F.col("cm")).alias("fwd")
    b = bars.select("event_type", "day", sig, fwd).where(
        F.col("sig").isNotNull() & F.col("fwd").isNotNull()
    )
    wds = Window.partitionBy("day").orderBy("sig", "event_type")
    wdf = Window.partitionBy("day").orderBy("fwd", "event_type")
    wbs = Window.partitionBy("day", "sig")
    wbf = Window.partitionBy("day", "fwd")
    rs = (
        F.min(F.row_number().over(wds)).over(wbs)
        + F.max(F.row_number().over(wds)).over(wbs)
    )
    rf = (
        F.min(F.row_number().over(wdf)).over(wbf)
        + F.max(F.row_number().over(wdf)).over(wbf)
    )
    ranked = b.select("day", rs.alias("rs"), rf.alias("rf"))
    d = "decimal(38,0)"
    daily = ranked.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("rs").cast("long").alias("sx"),
        F.sum("rf").cast("long").alias("sy"),
        F.sum(F.col("rs").cast(d) * F.col("rs").cast(d)).alias("sxx"),
        F.sum(F.col("rf").cast(d) * F.col("rf").cast(d)).alias("syy"),
        F.sum(F.col("rs").cast(d) * F.col("rf").cast(d)).alias("sxy"),
    )
    n = F.col("k").cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx") * F.col(
        "sy"
    ).cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    icn = F.when(
        (F.col("k") > 2) & (vx > 0) & (vy > 0),
        F.round(cov / F.sqrt(vx * vy) * F.lit(1e9), 0).cast("long"),
    )
    scored = daily.select(icn.alias("icn")).where(F.col("icn").isNotNull())
    g = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("icn").alias("s1"),
        F.sum(F.col("icn").cast(d) * F.col("icn").cast(d)).alias("s2"),
    )
    nn = F.col("n_days").cast("double")
    mean = F.col("s1") / nn / F.lit(1e9)
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / nn
    ) / (nn - F.lit(1.0)) / F.lit(1e18)
    ok = F.col("n_days") > 1
    return g.select(
        "n_days",
        F.when(F.col("n_days") > 0, F.round(mean, 6) + F.lit(0.0)).alias(
            "mean_ic"
        ),
        F.when(ok & (var > 0), F.round(mean / F.sqrt(var), 6) + F.lit(0.0))
        .alias("ic_ir"),
    )


def _a_rank_ic_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day,
    cm - lag(cm, {_IC_LOOKBACK}) OVER ({_WD_SQL}) AS sig,
    lead(cm) OVER ({_WD_SQL}) - cm AS fwd
  FROM bars
), f AS (
  SELECT * FROM b WHERE sig IS NOT NULL AND fwd IS NOT NULL
), rr AS (
  SELECT day,
    MIN(rns) OVER (PARTITION BY day, sig)
      + MAX(rns) OVER (PARTITION BY day, sig) AS rs,
    MIN(rnf) OVER (PARTITION BY day, fwd)
      + MAX(rnf) OVER (PARTITION BY day, fwd) AS rf
  FROM (
    SELECT day, sig, fwd,
      row_number() OVER (PARTITION BY day ORDER BY sig, event_type) AS rns,
      row_number() OVER (PARTITION BY day ORDER BY fwd, event_type) AS rnf
    FROM f)
), daily AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS k,
    CAST(SUM(rs) AS BIGINT) AS sx, CAST(SUM(rf) AS BIGINT) AS sy,
    SUM(CAST(rs AS HUGEINT) * rs) AS sxx,
    SUM(CAST(rf AS HUGEINT) * rf) AS syy,
    SUM(CAST(rs AS HUGEINT) * rf) AS sxy
  FROM rr GROUP BY 1
), icd AS (
  SELECT CASE WHEN k > 2
      AND k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx > 0
      AND k * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy > 0
    THEN CAST(round((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
      / sqrt((k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
           * (k * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)) * 1e9)
      AS BIGINT) END AS icn
  FROM daily
), g AS (
  SELECT CAST(COUNT(icn) AS BIGINT) AS n_days,
    CAST(SUM(icn) AS BIGINT) AS s1,
    SUM(CAST(icn AS HUGEINT) * icn) AS s2
  FROM icd WHERE icn IS NOT NULL
)
SELECT n_days,
  CASE WHEN n_days > 0 THEN round(s1 / CAST(n_days AS DOUBLE) / 1e9, 6) + 0.0
  END AS mean_ic,
  CASE WHEN n_days > 1
    AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_days)
        / (n_days - 1.0) / 1e18 > 0
  THEN round((s1 / CAST(n_days AS DOUBLE) / 1e9)
    / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_days)
           / (n_days - 1.0) / 1e18), 6) + 0.0
  END AS ic_ir
FROM g
"""


# ---------------------------------------------------- a_variance_ratio

_VR_Q = 5


def a_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test (1988) on daily closes per
    symbol: VR(5) = Var(5-bar return)/(5·Var(1-bar return)) with the
    homoskedastic asymptotic z — VR < 1 flags mean reversion, > 1
    momentum, the classic random-walk test that complements
    a_hurst_exponent.

    Determinism: returns are exact micro diffs; both variances come
    from exact DECIMAL(38,0) moments; the VR/z chain is one identical
    IEEE expression, round 6."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    d = "decimal(38,0)"
    bars = _daily_bars_df(spark, sf_dir)
    w = _wd()
    b = bars.select(
        "event_type",
        (F.col("cm") - F.lag("cm", 1).over(w)).alias("r1"),
        (F.col("cm") - F.lag("cm", _VR_Q).over(w)).alias("rq"),
    )
    g = b.groupBy("event_type").agg(
        F.count("r1").cast("long").alias("n1"),
        F.sum("r1").cast("long").alias("s1"),
        F.sum(F.col("r1").cast(d) * F.col("r1").cast(d)).alias("s12"),
        F.count("rq").cast("long").alias("nq"),
        F.sum("rq").cast("long").alias("sq"),
        F.sum(F.col("rq").cast(d) * F.col("rq").cast(d)).alias("sq2"),
    )

    def svar(s2, s1, n):
        return (s2.cast("double") - s1.cast("double") * s1 / n) / (
            n - F.lit(1.0)
        )

    v1 = svar(F.col("s12"), F.col("s1"), F.col("n1"))
    vq = svar(F.col("sq2"), F.col("sq"), F.col("nq"))
    vr = vq / (F.lit(float(_VR_Q)) * v1)
    q = float(_VR_Q)
    se = F.sqrt(
        F.lit(2.0 * (2 * q - 1) * (q - 1) / (3 * q)) / F.col("n1")
    )
    ok = (F.col("n1") > 1) & (F.col("nq") > 1) & (v1 > 0)
    return g.select(
        "event_type",
        F.col("n1").alias("n_returns"),
        F.when(ok, F.round(vr, 6)).alias("variance_ratio"),
        F.when(ok, F.round((vr - 1) / se, 6) + F.lit(0.0)).alias("vr_z"),
    ).orderBy("event_type")


def _a_variance_ratio_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _WD_SQL,
        DAILY_BARS_CTE,
    )

    q = float(_VR_Q)
    v1 = "((CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1.0))"
    vq = "((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * sq / nq) / (nq - 1.0))"
    vr = f"({vq} / ({q} * {v1}))"
    se = f"sqrt({2.0 * (2 * q - 1) * (q - 1) / (3 * q)} / n1)"
    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type,
    cm - lag(cm, 1) OVER ({_WD_SQL}) AS r1,
    cm - lag(cm, {_VR_Q}) OVER ({_WD_SQL}) AS rq
  FROM bars
), g AS (
  SELECT event_type,
    CAST(COUNT(r1) AS BIGINT) AS n1, CAST(SUM(r1) AS BIGINT) AS s1,
    SUM(CAST(r1 AS HUGEINT) * r1) AS s12,
    CAST(COUNT(rq) AS BIGINT) AS nq, CAST(SUM(rq) AS BIGINT) AS sq,
    SUM(CAST(rq AS HUGEINT) * rq) AS sq2
  FROM b GROUP BY 1
)
SELECT event_type, n1 AS n_returns,
  CASE WHEN n1 > 1 AND nq > 1 AND {v1} > 0
    THEN round({vr}, 6) END AS variance_ratio,
  CASE WHEN n1 > 1 AND nq > 1 AND {v1} > 0
    THEN round(({vr} - 1) / {se}, 6) + 0.0 END AS vr_z
FROM g ORDER BY event_type
"""


# -------------------------------------------------- a_transfer_entropy


def a_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer entropy (Schreiber 2000) between the click and view
    minute series on the sign-discretized returns (the
    a_cross_corr_leadlag pair and grid): TE(X→Y) = Σ p(yₜ,yₜ₋₁,xₜ₋₁)
    · ln[ p(yₜ|yₜ₋₁,xₜ₋₁) / p(yₜ|yₜ₋₁) ] — the directed,
    nonlinearity-aware counterpart of the lead-lag cross-correlation;
    both directions and their net are reported.

    Determinism: signs ∈ {−1,0,1} make every probability a ratio of
    exact integer counts; each cell's term ln(n_abc·n_b/(n_ab·n_bc))
    is nano-rounded then exactly summed — the markov-entropy recipe.
    Scale shape: one minute-grid window, 27-cell count joins, all
    broadcast."""
    from kp_crypto_market_analytics_spark.queries_r9b import (
        _EG_X,
        _EG_Y,
        _minutes,
    )

    m = _minutes(spark, sf_dir)
    y = m.where(F.col("event_type") == _EG_Y).select(
        "minute", F.col("mv").alias("cv")
    )
    x = m.where(F.col("event_type") == _EG_X).select(
        "minute", F.col("mv").alias("vv")
    )
    w = Window.orderBy("minute")
    j = (
        y.join(x, "minute")
        .select(
            "minute",
            F.signum(F.col("cv") - F.lag("cv").over(w)).cast("int").alias(
                "dy"
            ),
            F.signum(F.col("vv") - F.lag("vv").over(w)).cast("int").alias(
                "dx"
            ),
        )
        .select(
            "minute",
            "dy",
            "dx",
            F.lag("dy").over(w).alias("dyl"),
            F.lag("dx").over(w).alias("dxl"),
        )
        .where(
            F.col("dy").isNotNull()
            & F.col("dyl").isNotNull()
            & F.col("dxl").isNotNull()
            & F.col("dx").isNotNull()
        )
        # Materialize the minute-grid sign frame ONCE: the two TE
        # directions each take 5 count aggregations over it, and
        # without the checkpoint every one re-evaluates the global
        # minute-window lineage (measured: 20 replicated WindowExec
        # in the executed plan).  The frame is time-bounded (one row
        # per joined minute), so this is a tiny local materialization
        # — the t_corpus_pipeline shared-frame recipe.
        .localCheckpoint(eager=True)
    )

    def te(df, a, b, c):
        # TE(c-series -> a-series): a = target_t, b = target_{t-1},
        # c = source_{t-1}
        abc = df.groupBy(
            F.col(a).alias("a"), F.col(b).alias("b"), F.col(c).alias("c")
        ).agg(F.count(F.lit(1)).alias("n_abc"))
        ab = abc.groupBy("a", "b").agg(F.sum("n_abc").alias("n_ab"))
        bc = abc.groupBy("b", "c").agg(F.sum("n_abc").alias("n_bc"))
        bb = abc.groupBy("b").agg(F.sum("n_abc").alias("n_b"))
        tot = abc.agg(F.sum("n_abc").alias("nn"))
        cells = (
            abc.join(F.broadcast(ab), ["a", "b"])
            .join(F.broadcast(bc), ["b", "c"])
            .join(F.broadcast(bb), ["b"])
            .crossJoin(F.broadcast(tot))
        )
        term = F.col("n_abc").cast("double") / F.col("nn") * F.log(
            F.col("n_abc").cast("double")
            * F.col("n_b")
            / (F.col("n_ab").cast("double") * F.col("n_bc"))
        )
        tn = F.round(term * F.lit(1e9), 0).cast("long")
        return cells.select(tn.alias("tn"), "nn").groupBy("nn").agg(
            F.sum("tn").alias("s")
        )

    xy = te(j, "dy", "dyl", "dxl").select(
        F.col("nn").cast("long").alias("n_obs"),
        (F.round(F.col("s") / F.lit(1e9), 6) + F.lit(0.0)).alias(
            "te_view_to_click"
        ),
    )
    yx = te(j, "dx", "dxl", "dyl").select(
        (F.round(F.col("s") / F.lit(1e9), 6) + F.lit(0.0)).alias(
            "te_click_to_view"
        ),
    )
    return xy.crossJoin(F.broadcast(yx)).select(
        "n_obs",
        "te_view_to_click",
        "te_click_to_view",
        (
            F.round(
                F.col("te_view_to_click") - F.col("te_click_to_view"), 6
            )
            + F.lit(0.0)
        ).alias("net_te"),
    )


def _a_transfer_entropy_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9b import (
        _EG_X,
        _EG_Y,
        MINUTES_CTE,
    )

    def te_ctes(tag, a, b, c):
        return f""", abc_{tag} AS (
  SELECT {a} AS a, {b} AS b, {c} AS c, CAST(COUNT(*) AS BIGINT) AS n_abc
  FROM lagged GROUP BY 1, 2, 3
), ab_{tag} AS (
  SELECT a, b, CAST(SUM(n_abc) AS BIGINT) AS n_ab FROM abc_{tag} GROUP BY 1, 2
), bc_{tag} AS (
  SELECT b, c, CAST(SUM(n_abc) AS BIGINT) AS n_bc FROM abc_{tag} GROUP BY 1, 2
), bb_{tag} AS (
  SELECT b, CAST(SUM(n_abc) AS BIGINT) AS n_b FROM abc_{tag} GROUP BY 1
), tot_{tag} AS (SELECT CAST(SUM(n_abc) AS BIGINT) AS nn FROM abc_{tag}),
te_{tag} AS (
  SELECT nn, CAST(SUM(CAST(round(
      CAST(n_abc AS DOUBLE) / nn
      * ln(CAST(n_abc AS DOUBLE) * n_b
           / (CAST(n_ab AS DOUBLE) * n_bc)) * 1e9) AS BIGINT)) AS BIGINT)
    AS s
  FROM abc_{tag} JOIN ab_{tag} USING (a, b) JOIN bc_{tag} USING (b, c)
    JOIN bb_{tag} USING (b) CROSS JOIN tot_{tag}
  GROUP BY nn
)"""

    return f"""
WITH {MINUTES_CTE}, y AS (
  SELECT minute, mv AS cv FROM minutes WHERE event_type = '{_EG_Y}'
), x AS (
  SELECT minute, mv AS vv FROM minutes WHERE event_type = '{_EG_X}'
), j AS (
  SELECT y.minute,
    CAST(sign(cv - lag(cv) OVER (ORDER BY y.minute)) AS INT) AS dy,
    CAST(sign(vv - lag(vv) OVER (ORDER BY y.minute)) AS INT) AS dx
  FROM y JOIN x USING (minute)
), lagged AS (
  SELECT * FROM (
    SELECT minute, dy, dx,
      lag(dy) OVER (ORDER BY minute) AS dyl,
      lag(dx) OVER (ORDER BY minute) AS dxl
    FROM j)
  WHERE dy IS NOT NULL AND dyl IS NOT NULL AND dxl IS NOT NULL
    AND dx IS NOT NULL
){te_ctes("xy", "dy", "dyl", "dxl")}{te_ctes("yx", "dx", "dxl", "dyl")}
SELECT te_xy.nn AS n_obs,
  round(te_xy.s / 1e9, 6) + 0.0 AS te_view_to_click,
  round(te_yx.s / 1e9, 6) + 0.0 AS te_click_to_view,
  round(round(te_xy.s / 1e9, 6) - round(te_yx.s / 1e9, 6), 6) + 0.0
    AS net_te
FROM te_xy CROSS JOIN te_yx
"""


REGISTRY = (
    (dedup_lsh_stream_parity, _dedup_lsh_stream_parity_sql()),
    (ti_garman_klass, _ti_garman_klass_sql()),
    (ti_rogers_satchell, _ti_rogers_satchell_sql()),
    (ti_yang_zhang, _ti_yang_zhang_sql()),
    (ti_vortex, _ti_vortex_sql()),
    (ti_chande_momentum, _ti_chande_momentum_sql()),
    (ti_cci, _ti_cci_sql()),
    (ti_force_index, _ti_force_index_sql()),
    (ti_eom, _ti_eom_sql()),
    (a_auc_roc, _a_auc_roc_sql()),
    (a_brier_score, _a_brier_score_sql()),
    (a_ece_calibration, _a_ece_calibration_sql()),
    (a_cohens_d, _a_cohens_d_sql()),
    (a_cliffs_delta, _a_cliffs_delta_sql()),
    (a_mcnemar, _a_mcnemar_sql()),
    (a_cochran_q, _a_cochran_q_sql()),
    (a_friedman_test, _a_friedman_test_sql()),
    (a_theil_u, _a_theil_u_sql()),
    (a_smape_mase, _a_smape_mase_sql()),
    (dq_orphan_rate, _dq_orphan_rate_sql()),
    (t_group_kfold, _t_group_kfold_sql()),
    (t_poisson_bootstrap, _t_poisson_bootstrap_sql()),
    (t_temporal_split_embargo, _t_temporal_split_embargo_sql()),
    (t_lang_confusion, _t_lang_confusion_sql()),
    (w_rolling_skewkurt, _w_rolling_skewkurt_sql()),
    (w_hampel_filter, _w_hampel_filter_sql()),
    (ti_pacf, _ti_pacf_sql()),
    (t_perplexity_buckets, _t_perplexity_buckets_sql()),
    (t_cdc_chunking, _t_cdc_chunking_sql()),
    (ti_keltner, _ti_keltner_sql()),
    (o8_systematic_sample, _o8_systematic_sample_sql()),
    (a_rank_ic, _a_rank_ic_sql()),
    (a_variance_ratio, _a_variance_ratio_sql()),
    (a_transfer_entropy, _a_transfer_entropy_sql()),
)
