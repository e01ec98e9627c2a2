"""Round-9 registry queries, third batch: a trainable-classifier
corpus census, two experimentation estimators, and two classic
multi-window indicators.

- ``t_naive_bayes`` — multinomial Naive Bayes language classifier
  trained in-engine on the documents corpus (add-one smoothing over
  the whitespace vocabulary) and scored in-sample: per-language
  accuracy census.  The whole train+apply is two aggregations and a
  vocabulary-bounded broadcast join — the canonical "ML as SQL over
  sufficient statistics" shape.
- ``a_cuped`` — CUPED variance reduction (Deng et al. 2013): theta =
  cov(pre, post)/var(pre) over per-user period means, adjusted-metric
  arm lift and the variance-reduction ratio.
- ``a_quantile_lift`` — quantile treatment effects: per-arm deciles
  of event value and their per-decile differences (the distributional
  companion to a_ab_lift's mean shift).
- ``ti_ichimoku`` — Ichimoku components from trailing 9/26/52-day
  high/low midpoints (unshifted; senkou B clamps to available
  history), plus the integer-exact price-vs-cloud position flag.
- ``ti_aroon`` — Aroon up/down/oscillator over a 25-day window via
  integer argmax encoding (position of the window high/low recovered
  from a single packed MAX/MIN — no per-row rescan).

Determinism: the NB scores fold as nano-quantized BIGINTs so argmax
comparisons are integer-exact; CUPED moments are born-decimal integer
sums with per-user adjusted values micro-quantized before the second
moment pass; Ichimoku/Aroon are pure integer window folds with one
final IEEE division (or none — Aroon with N=25 is exactly integer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.aggregates import (
    DEC,
    round_mean_micro,
    sql_round_mean_micro,
)
from kp_crypto_market_analytics_spark.queries_r9b import (
    DEC19,
    TICKS_CTE,
    _ticks,
)
from kp_crypto_market_analytics_spark.session import (
    ensure_parallelism,
    load_tables,
)


# --------------------------------------------------------- t_naive_bayes

# ln terms are quantized to nano BIGINTs so per-doc score sums and the
# argmax are integer-exact across engines.
_NB_NANO = 1_000_000_000.0


def t_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes over whitespace tokens, trained on the
    documents' lang labels and scored in-sample (the census a
    pipeline owner reads before trusting a cheap lang-id router):
    score(d, l) = ln(prior_l) + sum_w tf_dw * ln(cnt_wl + 1)
    - n_tokens_d * ln(tot_l + V), argmax with lang-ascending
    tie-break.  The missing-(w,l) terms are folded into the
    n_tokens_d constant (add-one smoothing), so the join only carries
    OBSERVED (token, lang) counts.

    Determinism: every ln term is nano-quantized to BIGINT at the
    (token, lang) / (lang) grain, so per-doc scores and the argmax
    are exact integer arithmetic.  Scale shape: token explode ->
    (doc, tok, tf) agg -> broadcast join of the vocabulary-bounded
    term table -> (doc, lang) agg -> rank -> |langs| census rows;
    shuffle width never exceeds |vocab| x |langs|."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    t = load_tables(spark, sf_dir, ["documents"])
    # Tokens from the shared silver table; `lang` (absent there) joins
    # in from the documents scan WITHOUT its text column.
    doc_langs = t["documents"].select("doc_id", "lang")
    toks = (
        _toks_df(spark, sf_dir)
        .join(doc_langs, "doc_id")
        .select("doc_id", "lang", F.explode("toks").alias("tok"))
    )
    # ONE explode pass → (doc, lang, tok, tf), checkpointed; cnt / tot
    # / vocab all derive from it by re-aggregation instead of three
    # more regex+explode passes over the raw text (r11 optimization,
    # guide §2.3 aggregate-before-shuffle: occurrence counts are sums
    # of per-doc tf — identical integers by construction).
    tf = (
        toks.groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    cnt = tf.groupBy("tok", F.col("lang").alias("l")).agg(
        F.sum("tf").alias("cnt")
    )
    vocab = tf.select("tok").distinct().count()
    langs = doc_langs.groupBy(F.col("lang").alias("l")).agg(
        F.count(F.lit(1)).alias("n_docs_l")
    )
    tot = tf.groupBy(F.col("lang").alias("l")).agg(
        F.sum("tf").alias("tot_l")
    )
    n_docs = doc_langs.count()
    lconst = (
        langs.join(tot, "l")
        .select(
            "l",
            F.round(
                F.log(F.col("n_docs_l").cast("double") / F.lit(float(n_docs)))
                * F.lit(_NB_NANO),
                0,
            )
            .cast("long")
            .alias("prior_n"),
            F.round(
                F.log((F.col("tot_l") + F.lit(vocab)).cast("double"))
                * F.lit(_NB_NANO),
                0,
            )
            .cast("long")
            .alias("denom_n"),
        )
    )
    term = cnt.select(
        "tok",
        "l",
        F.round(F.log((F.col("cnt") + 1).cast("double")) * F.lit(_NB_NANO), 0)
        .cast("long")
        .alias("term_n"),
    )
    # every (doc token) x every lang; observed counts via left join
    scored = (
        tf.crossJoin(F.broadcast(lconst.select("l")))
        .join(F.broadcast(term), ["tok", "l"], "left")
        .groupBy("doc_id", "lang", "l")
        .agg(
            F.sum(F.col("tf") * F.coalesce(F.col("term_n"), F.lit(0))).alias(
                "s_terms"
            ),
            F.sum("tf").alias("n_toks"),
        )
        .join(F.broadcast(lconst), "l")
        .select(
            "doc_id",
            "lang",
            "l",
            (
                F.col("prior_n")
                + F.col("s_terms")
                - F.col("n_toks") * F.col("denom_n")
            ).alias("score_n"),
        )
    )
    wdoc = Window.partitionBy("doc_id").orderBy(
        F.col("score_n").desc(), F.col("l").asc()
    )
    pred = (
        scored.withColumn("__rn", F.row_number().over(wdoc))
        .where(F.col("__rn") == 1)
        .select("doc_id", "lang", F.col("l").alias("pred"))
    )
    n = F.count(F.lit(1))
    return (
        pred.groupBy("lang")
        .agg(
            n.cast("long").alias("n_docs"),
            F.sum(F.when(F.col("pred") == F.col("lang"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "lang",
            "n_docs",
            "n_correct",
            round_mean_micro(
                F.col("n_correct").cast(DEC), F.col("n_docs")
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


def _t_naive_bayes_sql() -> str:
    acc = sql_round_mean_micro("CAST(n_correct AS DECIMAL(18,6))", "n_docs")
    return r"""
WITH toks AS (
  SELECT doc_id, lang,
    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
      AS tok
  FROM documents
), tf AS (
  SELECT doc_id, lang, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3
), cnt AS (
  SELECT tok, lang AS l, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT COUNT(DISTINCT tok) AS v FROM cnt
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), lconst AS (
  SELECT d.lang AS l,
    CAST(round(ln(CAST(COUNT(*) AS DOUBLE) / (SELECT n_docs FROM nd))
               * 1e9) AS BIGINT) AS prior_n
  FROM documents d GROUP BY 1
), tot AS (
  SELECT lang AS l,
    CAST(round(ln(CAST(COUNT(*) + (SELECT v FROM vocab) AS DOUBLE))
               * 1e9) AS BIGINT) AS denom_n
  FROM toks GROUP BY 1
), term AS (
  SELECT tok, l,
    CAST(round(ln(CAST(cnt + 1 AS DOUBLE)) * 1e9) AS BIGINT) AS term_n
  FROM cnt
), scored AS (
  SELECT tf.doc_id, tf.lang, ls.l,
    MAX(lc.prior_n)
      + SUM(tf.tf * coalesce(t.term_n, 0))
      - SUM(tf.tf) * MAX(tt.denom_n) AS score_n
  FROM tf
  CROSS JOIN (SELECT l FROM lconst) ls
  LEFT JOIN term t ON t.tok = tf.tok AND t.l = ls.l
  JOIN lconst lc ON lc.l = ls.l
  JOIN tot tt ON tt.l = ls.l
  GROUP BY 1, 2, 3
), pred AS (
  SELECT doc_id, lang, l AS pred
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score_n DESC, l ASC) AS rn FROM scored)
  WHERE rn = 1
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  {acc} AS accuracy
FROM pred GROUP BY 1 ORDER BY lang
""".replace("{acc}", acc)


# --------------------------------------------------------------- a_cuped


def a_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for a user-level A/B readout (Deng,
    Xu, Kohavi, Walker 2013): split the observed span in half
    (integer arithmetic on the data-derived [lo, hi]); pre = each
    user's first-half mean value, post = second-half mean; arms by
    user_id parity.  theta = cov(pre, post)/var(pre) pooled, adjusted
    metric y' = post - theta*(pre - mean(pre)); reports the raw and
    adjusted arm lifts and the variance-reduction ratio
    1 - var(y')/var(post).

    Determinism: per-user period means are micro BIGINTs; theta and
    mean_pre come from born-decimal integer moments; each user's
    adjusted value is one IEEE chain micro-quantized back to BIGINT,
    so the second-moment pass is exact again.  Scale shape: one
    (user, half) agg, one pivot to per-user rows, two 1-row moment
    aggs and a broadcast of the 1-row scalar frame."""
    e = _ticks(spark, sf_dir)
    ms = F.unix_millis("ts")
    span = e.agg(F.min(ms).alias("__lo"), F.max(ms).alias("__hi"))
    t = load_tables(spark, sf_dir, ["events"])
    ev = ensure_parallelism(t["events"]).select(
        "user_id",
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
        F.unix_millis("ts").alias("ms"),
    )
    ev = ev.crossJoin(F.broadcast(span)).select(
        "user_id",
        "vm",
        (
            (F.col("ms") - F.col("__lo")) * 2
            >= (F.col("__hi") - F.col("__lo") + 1)
        )
        .cast("int")
        .alias("h"),
    )
    per = ev.groupBy("user_id", "h").agg(
        F.round(F.sum("vm").cast("double") / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("m")
    )
    u = (
        per.groupBy("user_id")
        .pivot("h", [0, 1])
        .agg(F.max("m"))
        .where(F.col("0").isNotNull() & F.col("1").isNotNull())
        .select(
            "user_id",
            F.col("0").alias("pre"),
            F.col("1").alias("post"),
            (F.col("user_id") % 2).alias("arm"),
        )
    )
    pd_, po = F.col("pre").cast(DEC19), F.col("post").cast(DEC19)
    mom = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(pd_).cast("double").alias("sp"),
        F.sum(po).cast("double").alias("so"),
        F.sum(pd_ * F.col("pre")).cast("double").alias("spp"),
        F.sum(pd_ * F.col("post")).cast("double").alias("spo"),
    )
    # guard: constant pre-period means leave theta undefined
    theta = F.when(
        (F.col("spp") - F.col("sp") * F.col("sp") / F.col("nd")) > 0,
        (F.col("spo") - F.col("sp") * F.col("so") / F.col("nd"))
        / (F.col("spp") - F.col("sp") * F.col("sp") / F.col("nd")),
    )
    scal = mom.select(
        "n_users",
        theta.alias("theta"),
        (F.col("sp") / F.col("nd")).alias("mean_pre"),
    )
    adj = u.crossJoin(F.broadcast(scal)).select(
        "arm",
        "n_users",
        "theta",
        "post",
        F.round(
            F.col("post")
            - F.col("theta") * (F.col("pre") - F.col("mean_pre")),
            0,
        )
        .cast("long")
        .alias("ya"),
    )
    yd, ad = F.col("post").cast(DEC19), F.col("ya").cast(DEC19)
    g = adj.groupBy().agg(
        F.max("n_users").alias("n_users"),
        F.max("theta").alias("__theta"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(yd * F.col("post")).cast("double").alias("syy"),
        F.sum(ad).cast("double").alias("sa"),
        F.sum(ad * F.col("ya")).cast("double").alias("saa"),
        F.sum(F.when(F.col("arm") == 0, yd)).cast("double").alias("sy0"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, yd)).cast("double").alias("sy1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, ad)).cast("double").alias("sa0"),
        F.sum(F.when(F.col("arm") == 1, ad)).cast("double").alias("sa1"),
    )
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("nd")) / (
        F.col("nd") - F.lit(1.0)
    )
    var_a = (F.col("saa") - F.col("sa") * F.col("sa") / F.col("nd")) / (
        F.col("nd") - F.lit(1.0)
    )
    lift_raw = (F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0")) / F.lit(
        1e6
    )
    lift_adj = (F.col("sa1") / F.col("n1") - F.col("sa0") / F.col("n0")) / F.lit(
        1e6
    )
    return g.select(
        "n_users",
        (F.round(F.col("__theta"), 6) + F.lit(0.0)).alias("theta"),
        (F.round(lift_raw, 6) + F.lit(0.0)).alias("lift_raw"),
        (F.round(lift_adj, 6) + F.lit(0.0)).alias("lift_adj"),
        F.when(
            var_y > 0,
            F.round(F.lit(1.0) - var_a / var_y, 6) + F.lit(0.0),
        ).alias("var_reduction"),
    )


def _a_cuped_sql() -> str:
    return f"""
WITH {TICKS_CTE}, span AS (
  SELECT epoch_ms(MIN(ts)) AS lo, epoch_ms(MAX(ts)) AS hi FROM events
), ev AS (
  SELECT user_id, CAST(round(value * 1000000) AS BIGINT) AS vm,
    CAST((epoch_ms(ts) - (SELECT lo FROM span)) * 2
         >= ((SELECT hi FROM span) - (SELECT lo FROM span) + 1) AS INT) AS h
  FROM events
), per AS (
  SELECT user_id, h,
    CAST(round(CAST(SUM(vm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM ev GROUP BY 1, 2
), u AS (
  SELECT a.user_id, a.m AS pre, b.m AS post, a.user_id % 2 AS arm
  FROM (SELECT user_id, m FROM per WHERE h = 0) a
  JOIN (SELECT user_id, m FROM per WHERE h = 1) b USING (user_id)
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    CAST(SUM(CAST(pre AS DECIMAL(19,0))) AS DOUBLE) AS sp,
    CAST(SUM(CAST(post AS DECIMAL(19,0))) AS DOUBLE) AS so,
    CAST(SUM(CAST(pre AS DECIMAL(19,0)) * pre) AS DOUBLE) AS spp,
    CAST(SUM(CAST(pre AS DECIMAL(19,0)) * post) AS DOUBLE) AS spo
  FROM u
), scal AS (
  SELECT n_users,
    CASE WHEN spp - sp*sp/nd > 0
         THEN (spo - sp*so/nd) / (spp - sp*sp/nd) END AS theta,
    sp / nd AS mean_pre
  FROM mom
), adj AS (
  SELECT u.arm, s.n_users, s.theta, u.post,
    CAST(round(u.post - s.theta * (u.pre - s.mean_pre)) AS BIGINT) AS ya
  FROM u CROSS JOIN scal s
), g AS (
  SELECT MAX(n_users) AS n_users, MAX(theta) AS theta,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    CAST(SUM(CAST(post AS DECIMAL(19,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(post AS DECIMAL(19,0)) * post) AS DOUBLE) AS syy,
    CAST(SUM(CAST(ya AS DECIMAL(19,0))) AS DOUBLE) AS sa,
    CAST(SUM(CAST(ya AS DECIMAL(19,0)) * ya) AS DOUBLE) AS saa,
    CAST(SUM(CASE WHEN arm = 0 THEN CAST(post AS DECIMAL(19,0)) END)
         AS DOUBLE) AS sy0,
    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
    CAST(SUM(CASE WHEN arm = 1 THEN CAST(post AS DECIMAL(19,0)) END)
         AS DOUBLE) AS sy1,
    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
    CAST(SUM(CASE WHEN arm = 0 THEN CAST(ya AS DECIMAL(19,0)) END)
         AS DOUBLE) AS sa0,
    CAST(SUM(CASE WHEN arm = 1 THEN CAST(ya AS DECIMAL(19,0)) END)
         AS DOUBLE) AS sa1
  FROM adj
)
SELECT n_users,
  round(theta, 6) + 0.0 AS theta,
  round((sy1/n1 - sy0/n0) / 1e6, 6) + 0.0 AS lift_raw,
  round((sa1/n1 - sa0/n0) / 1e6, 6) + 0.0 AS lift_adj,
  CASE WHEN (syy - sy*sy/nd) / (nd - 1.0) > 0 THEN
    round(1.0 - ((saa - sa*sa/nd) / (nd - 1.0))
              / ((syy - sy*sy/nd) / (nd - 1.0)), 6) + 0.0
  END AS var_reduction
FROM g
"""


# --------------------------------------------------------- a_quantile_lift

_QL_DECILES = [i / 10.0 for i in range(1, 10)]


def a_quantile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: per-arm (user_id parity) deciles of
    event value and their per-decile differences — the distributional
    readout a mean-lift A/B hides (an effect concentrated in the tail
    moves q90 but not q50).  Uses the repo percentile path
    (exact percentile_cont under the oracle gate, sketch under the
    bench conf — the a_grouped_quantiles contract).

    Scale shape: one grouped percentile agg (two groups), a 2-row
    broadcast self-join, 9 output rows."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        percentile_expr,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        (F.col("user_id") % 2).alias("arm"), "value"
    )
    aggs = [
        F.round(percentile_expr(e, "value", p), 6).alias(f"q{int(p * 100)}")
        for p in _QL_DECILES
    ]
    g = e.groupBy("arm").agg(*aggs)
    a = g.where(F.col("arm") == 0).drop("arm")
    b = g.where(F.col("arm") == 1).drop("arm")
    a = a.select(*[F.col(f"q{int(p*100)}").alias(f"a{int(p*100)}") for p in _QL_DECILES])
    b = b.select(*[F.col(f"q{int(p*100)}").alias(f"b{int(p*100)}") for p in _QL_DECILES])
    j = a.crossJoin(F.broadcast(b))
    stack = ", ".join(
        f"{int(p*100)}, a{int(p*100)}, b{int(p*100)}" for p in _QL_DECILES
    )
    out = j.selectExpr(
        f"stack({len(_QL_DECILES)}, {stack}) AS (pct, q_arm_a, q_arm_b)"
    )
    return out.select(
        F.col("pct").cast("long").alias("pct"),
        "q_arm_a",
        "q_arm_b",
        (F.round(F.col("q_arm_b") - F.col("q_arm_a"), 6) + F.lit(0.0)).alias(
            "q_lift"
        ),
    ).orderBy("pct")


def _a_quantile_lift_sql() -> str:
    rows = []
    for p in _QL_DECILES:
        i = int(p * 100)
        rows.append(
            f"SELECT {i} AS pct,\n"
            f"  (SELECT round(quantile_cont(value, {p}), 6) FROM events"
            f" WHERE user_id % 2 = 0) AS q_arm_a,\n"
            f"  (SELECT round(quantile_cont(value, {p}), 6) FROM events"
            f" WHERE user_id % 2 = 1) AS q_arm_b"
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
SELECT pct, q_arm_a, q_arm_b,
  round(q_arm_b - q_arm_a, 6) + 0.0 AS q_lift
FROM (
{union}
) ORDER BY pct
"""


# ----------------------------------------------------------- ti_ichimoku

_ICHI_T, _ICHI_K, _ICHI_S = 9, 26, 52


def ti_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku components per symbol from daily bars: tenkan
    (9-day high/low midpoint), kijun (26-day), senkou A
    ((tenkan+kijun)/2) and senkou B (52-day midpoint) — UNSHIFTED
    (values AT bar t; the 26-bar cloud displacement is a plotting
    convention, documented rather than baked into the frame).  The
    price-vs-cloud position is computed in pure integers: 4*close
    compared against the 4e6-scaled cloud edges.

    Determinism: all window extrema are integer micro folds; each
    midpoint is one IEEE division rounded 6.  Scale shape: the bar
    frame is |types| x |days| by construction; three trailing
    windows ride ONE sort."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)

    def hl(n: int):
        wf = _wd().rowsBetween(-(n - 1), 0)
        return (
            F.max("hm").over(wf),
            F.min("lm").over(wf),
            F.count(F.lit(1)).over(wf),
        )

    h9, l9, _ = hl(_ICHI_T)
    h26, l26, n26 = hl(_ICHI_K)
    h52, l52, _ = hl(_ICHI_S)
    # gate on the kijun window; senkou B clamps to available history
    # (rows-frame semantics) so short fixtures stay non-vacuous
    b = bars.select(
        "event_type",
        "day",
        "cm",
        (h9 + l9).alias("t2"),
        (h26 + l26).alias("k2"),
        (h52 + l52).alias("s2"),
        n26.alias("nw"),
    ).where(F.col("nw") >= _ICHI_K)
    sa4 = F.col("t2") + F.col("k2")  # 4e6-scaled senkou A
    sb4 = F.col("s2") * 2  # 4e6-scaled senkou B
    pos = (
        F.when(F.col("cm") * 4 > F.greatest(sa4, sb4), F.lit("above"))
        .when(F.col("cm") * 4 < F.least(sa4, sb4), F.lit("below"))
        .otherwise(F.lit("in_cloud"))
    )
    return b.select(
        "event_type",
        "day",
        F.round(F.col("t2") / F.lit(2e6), 6).alias("tenkan"),
        F.round(F.col("k2") / F.lit(2e6), 6).alias("kijun"),
        F.round(sa4 / F.lit(4e6), 6).alias("senkou_a"),
        F.round(sb4 / F.lit(4e6), 6).alias("senkou_b"),
        pos.alias("cloud_position"),
    ).orderBy("event_type", "day")


def _ti_ichimoku_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (  # noqa: F401
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    def fr(n: int) -> str:
        return f"{_WD_SQL} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"

    return f"""
WITH {DAILY_BARS_CTE}, w AS (
  SELECT event_type, day, cm,
    MAX(hm) OVER ({fr(_ICHI_T)}) + MIN(lm) OVER ({fr(_ICHI_T)}) AS t2,
    MAX(hm) OVER ({fr(_ICHI_K)}) + MIN(lm) OVER ({fr(_ICHI_K)}) AS k2,
    MAX(hm) OVER ({fr(_ICHI_S)}) + MIN(lm) OVER ({fr(_ICHI_S)}) AS s2,
    COUNT(*) OVER ({fr(_ICHI_K)}) AS nw
  FROM bars
)
SELECT event_type, day,
  round(t2 / 2e6, 6) AS tenkan,
  round(k2 / 2e6, 6) AS kijun,
  round((t2 + k2) / 4e6, 6) AS senkou_a,
  round((s2 * 2) / 4e6, 6) AS senkou_b,
  CASE WHEN cm * 4 > greatest(t2 + k2, s2 * 2) THEN 'above'
       WHEN cm * 4 < least(t2 + k2, s2 * 2) THEN 'below'
       ELSE 'in_cloud' END AS cloud_position
FROM w WHERE nw >= {_ICHI_K}
ORDER BY event_type, day
"""


# -------------------------------------------------------------- ti_aroon

_AROON_N = 25
_AROON_ENC = 1_000_000  # idx < 1e6 bars per symbol (daily grain)


def ti_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon up/down/oscillator per symbol over a 25-day window:
    aroon_up = (N - days_since_window_high) * 100 / N, recovered from
    a SINGLE packed integer MAX per frame — each bar's high is
    encoded hm * 1e6 + idx (idx = bar sequence number), so the window
    MAX carries the position of the most recent high and no per-row
    rescan of the frame is needed.  The low side packs
    lm * 1e6 + (1e6 - 1 - idx) and takes MIN (smallest low, then most
    recent).  With N = 25, 100/N = 4: every output is exactly an
    integer — no IEEE step at all.

    Packing bound: hm * 1e6 must fit int64, i.e. prices below ~9e3
    in micro units of 1e6 (true for this corpus by orders of
    magnitude; a wider corpus would pack into DECIMAL(38,0), same
    plan).  Scale shape: bar build + one window per symbol."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    widx = _wd()
    b = bars.select(
        "event_type",
        "day",
        "hm",
        "lm",
        (F.row_number().over(widx) - 1).alias("idx"),
    )
    wf = _wd().rowsBetween(-(_AROON_N - 1), 0)
    enc_h = F.col("hm") * F.lit(_AROON_ENC) + F.col("idx")
    enc_l = F.col("lm") * F.lit(_AROON_ENC) + (
        F.lit(_AROON_ENC - 1) - F.col("idx")
    )
    b = b.select(
        "event_type",
        "day",
        "idx",
        F.max(enc_h).over(wf).alias("mh"),
        F.min(enc_l).over(wf).alias("ml"),
        F.count(F.lit(1)).over(wf).alias("nw"),
    ).where(F.col("nw") >= _AROON_N)
    ds_hi = F.col("idx") - (F.col("mh") % F.lit(_AROON_ENC))
    ds_lo = F.col("idx") - (
        F.lit(_AROON_ENC - 1) - (F.col("ml") % F.lit(_AROON_ENC))
    )
    up = (F.lit(_AROON_N) - ds_hi) * F.lit(100 // _AROON_N)
    dn = (F.lit(_AROON_N) - ds_lo) * F.lit(100 // _AROON_N)
    return b.select(
        "event_type",
        "day",
        up.cast("long").alias("aroon_up"),
        dn.cast("long").alias("aroon_down"),
        (up - dn).cast("long").alias("aroon_osc"),
    ).orderBy("event_type", "day")


def _ti_aroon_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (  # noqa: F401
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    fr = f"{_WD_SQL} ROWS BETWEEN {_AROON_N - 1} PRECEDING AND CURRENT ROW"
    e = _AROON_ENC
    return f"""
WITH {DAILY_BARS_CTE}, idxd AS (
  SELECT event_type, day, hm, lm,
    row_number() OVER ({_WD_SQL}) - 1 AS idx
  FROM bars
), w AS (
  SELECT event_type, day, idx,
    MAX(hm * {e} + idx) OVER ({fr}) AS mh,
    MIN(lm * {e} + ({e - 1} - idx)) OVER ({fr}) AS ml,
    COUNT(*) OVER ({fr}) AS nw
  FROM idxd
)
SELECT event_type, day,
  CAST(({_AROON_N} - (idx - mh % {e})) * {100 // _AROON_N} AS BIGINT)
    AS aroon_up,
  CAST(({_AROON_N} - (idx - ({e - 1} - ml % {e}))) * {100 // _AROON_N}
    AS BIGINT) AS aroon_down,
  CAST((({_AROON_N} - (idx - mh % {e}))
      - ({_AROON_N} - (idx - ({e - 1} - ml % {e})))) * {100 // _AROON_N}
    AS BIGINT) AS aroon_osc
FROM w WHERE nw >= {_AROON_N}
ORDER BY event_type, day
"""


REGISTRY = (
    (t_naive_bayes, _t_naive_bayes_sql()),
    (a_cuped, _a_cuped_sql()),
    (a_quantile_lift, _a_quantile_lift_sql()),
    (ti_ichimoku, _ti_ichimoku_sql()),
    (ti_aroon, _ti_aroon_sql()),
)
