"""Round-11 second-wave registry queries.

Widens the daily-bar indicator toolkit (Ultimate/Awesome oscillators,
KST, pivot points, choppiness, balance-of-power+Qstick), the classical
statistics battery (Bartlett, Jonckheere-Terpstra, Cochran-Armitage,
odds ratio, Chow, Breusch-Pagan, D'Agostino K², Cramér-von Mises),
adds complexity measures (permutation entropy, sample entropy), text
richness (hapax/Honoré/Sichel, distinct-n diversity), embedding
geometry (participation ratio, linear CKA), the co-purchase bipartite
projection, and a functional-dependency audit.

Every query follows the repo determinism recipes (SCALING.md):
integer/decimal folds end-to-end, per-term micro-quantization via the
``_half_away`` exact division or the ``round(ln(x)*1e6)`` BIGINT rule
where a transcendental must enter a sum, and ONE final IEEE expression
per emitted float — written token-identically in the Spark and DuckDB
dialects.

Reference parity: extends the indicator/stat families surveyed from
the reference's analysis pass (SURVEY.md §2 A-block; reference
binance_analysis.py rolling-stat loops) with the standard daily-bar
and hypothesis-test catalogue a switching user would expect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.session import load_tables


# ------------------------------------------- ti_ultimate_oscillator

_UO_WINDOWS = (7, 14, 28)


def ti_ultimate_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams' Ultimate Oscillator on the daily bars: buying
    pressure BP = C − min(L, prevC) and true-range TR = max(H, prevC)
    − min(L, prevC) summed over 7/14/28 days, blended 4:2:1 —
    UO = 100·(4·S7 + 2·S14 + S28)/7 with S_k = ΣBP_k/ΣTR_k.

    Determinism: BP and TR are exact micro BIGINTs (defined from the
    second bar), the six window sums fold as integers, and the blend
    is ONE IEEE expression per row, masked until 28 BP/TR terms exist
    and every TR sum is positive.

    Scale shape: one shuffle to the (event_type, day) bars, then
    narrow window passes per event_type — no joins, no extra
    exchange."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir).withColumn("__prev", F.lag("cm").over(_wd()))
    prev = F.col("__prev")
    bp = F.when(prev.isNotNull(), F.col("cm") - F.least(F.col("lm"), prev))
    tr = F.when(
        prev.isNotNull(),
        F.greatest(F.col("hm"), prev) - F.least(F.col("lm"), prev),
    )
    b = bars.select(
        "event_type", "day", bp.alias("bp"), tr.alias("tr")
    )
    sums = {}
    for k in _UO_WINDOWS:
        w = _wd().rowsBetween(-(k - 1), 0)
        sums[k] = (
            F.sum("bp").over(w).alias(f"bp{k}"),
            F.sum("tr").over(w).alias(f"tr{k}"),
            F.count("bp").over(w).alias(f"n{k}"),
        )
    b = b.select(
        "event_type",
        "day",
        *[c for k in _UO_WINDOWS for c in sums[k]],
    )
    ok = None
    for k in _UO_WINDOWS:
        cond = (F.col(f"n{k}") == k) & (F.col(f"tr{k}") > 0)
        ok = cond if ok is None else ok & cond
    uo = (
        F.lit(100.0)
        * (
            F.lit(4.0) * (F.col("bp7").cast("double") / F.col("tr7"))
            + F.lit(2.0) * (F.col("bp14").cast("double") / F.col("tr14"))
            + (F.col("bp28").cast("double") / F.col("tr28"))
        )
        / F.lit(7.0)
    )
    return (
        b.select(
            "event_type",
            "day",
            F.when(ok, F.round(uo, 6) + F.lit(0.0)).alias("ultimate_osc"),
        )
        .orderBy("event_type", "day")
    )


def _ti_ultimate_oscillator_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    win = {
        k: f"({_WD_SQL} ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)"
        for k in _UO_WINDOWS
    }
    sums = ",\n    ".join(
        f"SUM(bp) OVER {win[k]} AS bp{k}, SUM(tr) OVER {win[k]} AS tr{k},"
        f" COUNT(bp) OVER {win[k]} AS n{k}"
        for k in _UO_WINDOWS
    )
    ok = " AND ".join(f"n{k} = {k} AND tr{k} > 0" for k in _UO_WINDOWS)
    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day,
    CASE WHEN lag(cm) OVER d IS NOT NULL
         THEN cm - least(lm, lag(cm) OVER d) END AS bp,
    CASE WHEN lag(cm) OVER d IS NOT NULL
         THEN greatest(hm, lag(cm) OVER d) - least(lm, lag(cm) OVER d)
         END AS tr
  FROM bars
  WINDOW d AS ({_WD_SQL})
), s AS (
  SELECT event_type, day,
    {sums}
  FROM b
)
SELECT event_type, day,
  CASE WHEN {ok} THEN
    round(100.0 * (4.0 * (CAST(bp7 AS DOUBLE) / tr7)
                   + 2.0 * (CAST(bp14 AS DOUBLE) / tr14)
                   + (CAST(bp28 AS DOUBLE) / tr28)) / 7.0, 6) + 0.0
  END AS ultimate_osc
FROM s
ORDER BY event_type, day
"""


# ------------------------------------------- ti_awesome_oscillator

_AO_FAST = 5
_AO_SLOW = 34


def ti_awesome_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill Williams' Awesome Oscillator: SMA5(midprice) −
    SMA34(midprice) with mid = (H+L)/2, plus the bar color (sign of
    the AO change) — the momentum histogram driving the saucer/zero-
    cross entries.

    Determinism: mid stays doubled-integer (hm+lm), the two SMAs
    share the exact common denominator 2·5·34 = 340, so the AO
    numerator 34·Σ₅ − 5·Σ₃₄ is an exact BIGINT; ONE IEEE division by
    340·10⁶ per row; the color compares the exact integer numerators,
    never the floats."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir).withColumn(
        "mid2", F.col("hm") + F.col("lm")
    )
    wf = _wd().rowsBetween(-(_AO_FAST - 1), 0)
    ws = _wd().rowsBetween(-(_AO_SLOW - 1), 0)
    b = bars.select(
        "event_type",
        "day",
        (
            F.lit(_AO_SLOW) * F.sum("mid2").over(wf)
            - F.lit(_AO_FAST) * F.sum("mid2").over(ws)
        ).alias("ao_num"),
        F.count("mid2").over(ws).alias("n_s"),
    )
    den = 2 * _AO_FAST * _AO_SLOW
    ao_num = F.when(F.col("n_s") == _AO_SLOW, F.col("ao_num"))
    b = b.select(
        "event_type", "day", ao_num.alias("ao_num")
    ).withColumn("ao_prev", F.lag("ao_num").over(_wd()))
    color = F.when(
        F.col("ao_num").isNotNull() & F.col("ao_prev").isNotNull(),
        F.signum((F.col("ao_num") - F.col("ao_prev")).cast("double")).cast(
            "long"
        ),
    )
    return (
        b.select(
            "event_type",
            "day",
            (
                F.round(F.col("ao_num").cast("double") / F.lit(den * 1e6), 6)
                + F.lit(0.0)
            ).alias("awesome_osc"),
            color.alias("ao_color"),
        )
        .orderBy("event_type", "day")
    )


def _ti_awesome_oscillator_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    den = 2 * _AO_FAST * _AO_SLOW
    wf = f"({_WD_SQL} ROWS BETWEEN {_AO_FAST - 1} PRECEDING AND CURRENT ROW)"
    ws = f"({_WD_SQL} ROWS BETWEEN {_AO_SLOW - 1} PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, m AS (
  SELECT event_type, day, hm + lm AS mid2 FROM bars
), s AS (
  SELECT event_type, day,
    CASE WHEN COUNT(mid2) OVER {ws} = {_AO_SLOW} THEN
      {_AO_SLOW} * SUM(mid2) OVER {wf} - {_AO_FAST} * SUM(mid2) OVER {ws}
    END AS ao_num
  FROM m
), p AS (
  SELECT event_type, day, ao_num,
    lag(ao_num) OVER ({_WD_SQL}) AS ao_prev
  FROM s
)
SELECT event_type, day,
  round(CAST(ao_num AS DOUBLE) / {den * 1e6}, 6) + 0.0 AS awesome_osc,
  CASE WHEN ao_num IS NOT NULL AND ao_prev IS NOT NULL THEN
    CAST(sign(CAST(ao_num - ao_prev AS DOUBLE)) AS BIGINT)
  END AS ao_color
FROM p
ORDER BY event_type, day
"""


# ------------------------------------------------------------ ti_kst

# (ROC lag, SMA length, weight) per Pring's daily KST.
_KST_LEGS = ((10, 10, 1), (15, 10, 2), (20, 10, 3), (30, 15, 4))
_KST_DEN = 30  # lcm of 10/10/10/15 folded with the 1..4 weights
_KST_SIG = 9


def ti_kst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pring's Know-Sure-Thing: weighted sum of four SMA-smoothed
    rate-of-change legs, KST = Σ w_j·SMA_{m_j}(ROC_{k_j}), plus its
    9-day SMA signal line.

    Determinism: each ROC is quantized to micro BIGINT by exact
    half-away division (the ti_coppock recipe); the four SMAs share
    the common denominator 30 (= lcm(10,15) folded with weights
    3/30 + 6/30 + 9/30 + 8/30), so the KST numerator is one exact
    integer window fold; the signal line is the 9-sum of that
    integer.  ONE IEEE division per emitted column, masked until
    every leg's SMA window is fully populated."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away

    bars = _daily_bars_df(spark, sf_dir)
    d = "decimal(38,0)"

    bars = bars.withColumns(
        {f"__lag{k}": F.lag("cm", k).over(_wd()) for k, _, _ in _KST_LEGS}
    )
    cols = []
    for k, _, _ in _KST_LEGS:
        lagc = F.col(f"__lag{k}")
        cols.append(
            F.when(
                lagc.isNotNull() & (lagc > 0),
                _half_away(
                    (F.col("cm").cast(d) - lagc.cast(d))
                    * F.lit(1_000_000).cast(d),
                    lagc.cast(d),
                ),
            ).alias(f"roc{k}")
        )
    b = bars.select("event_type", "day", *cols)
    num = None
    present = None
    for k, m, w in _KST_LEGS:
        wm = _wd().rowsBetween(-(m - 1), 0)
        term = F.lit(w * _KST_DEN // m) * F.sum(f"roc{k}").over(wm)
        num = term if num is None else num + term
        p = F.count(f"roc{k}").over(wm) == m
        present = p if present is None else present & p
    b = b.select(
        "event_type",
        "day",
        F.when(present, num).alias("kst_num"),
    )
    wsig = _wd().rowsBetween(-(_KST_SIG - 1), 0)
    b = b.withColumns(
        {"__n": F.count("kst_num").over(wsig), "__s": F.sum("kst_num").over(wsig)}
    ).select(
        "event_type",
        "day",
        "kst_num",
        F.when(F.col("__n") == _KST_SIG, F.col("__s")).alias("sig_num"),
    )
    return (
        b.select(
            "event_type",
            "day",
            (
                F.round(
                    F.col("kst_num").cast("double")
                    / F.lit(_KST_DEN * 1e6),
                    6,
                )
                + F.lit(0.0)
            ).alias("kst"),
            (
                F.round(
                    F.col("sig_num").cast("double")
                    / F.lit(_KST_SIG * _KST_DEN * 1e6),
                    6,
                )
                + F.lit(0.0)
            ).alias("kst_signal"),
        )
        .orderBy("event_type", "day")
    )


def _ti_kst_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    rocs = ",\n    ".join(
        "CASE WHEN lag(cm, {k}) OVER d IS NOT NULL"
        " AND lag(cm, {k}) OVER d > 0 THEN {t} END AS roc{k}".format(
            k=k,
            t=_sql_half_away(
                f"(CAST(cm AS HUGEINT) - lag(cm, {k}) OVER d) * 1000000",
                f"lag(cm, {k}) OVER d",
            ),
        )
        for k, _, _ in _KST_LEGS
    )
    terms = []
    present = []
    for k, m, w in _KST_LEGS:
        wm = f"({_WD_SQL} ROWS BETWEEN {m - 1} PRECEDING AND CURRENT ROW)"
        terms.append(f"{w * _KST_DEN // m} * SUM(roc{k}) OVER {wm}")
        present.append(f"COUNT(roc{k}) OVER {wm} = {m}")
    wsig = f"({_WD_SQL} ROWS BETWEEN {_KST_SIG - 1} PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, r AS (
  SELECT event_type, day,
    {rocs}
  FROM bars
  WINDOW d AS ({_WD_SQL})
), n AS (
  SELECT event_type, day,
    CASE WHEN {" AND ".join(present)}
         THEN {" + ".join(terms)} END AS kst_num
  FROM r
), s AS (
  SELECT event_type, day, kst_num,
    CASE WHEN COUNT(kst_num) OVER {wsig} = {_KST_SIG}
         THEN SUM(kst_num) OVER {wsig} END AS sig_num
  FROM n
)
SELECT event_type, day,
  round(CAST(kst_num AS DOUBLE) / {_KST_DEN * 1e6}, 6) + 0.0 AS kst,
  round(CAST(sig_num AS DOUBLE) / {_KST_SIG * _KST_DEN * 1e6}, 6) + 0.0
    AS kst_signal
FROM s
ORDER BY event_type, day
"""


# --------------------------------------------------- ti_pivot_points


def ti_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot points from the PRIOR day's bar:
    P = (H+L+C)/3, R1 = 2P−L, S1 = 2P−H, R2 = P+(H−L), S2 = P−(H−L)
    — the daily support/resistance scaffold.

    Determinism: every level is an exact integer numerator over the
    common denominator 3 (p_num = prevH+prevL+prevC micro); ONE IEEE
    division by 3·10⁶ per column; first bar masked."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir).withColumns(
        {
            "__ph": F.lag("hm").over(_wd()),
            "__pl": F.lag("lm").over(_wd()),
            "__pc": F.lag("cm").over(_wd()),
        }
    )
    ph, pl, pc = F.col("__ph"), F.col("__pl"), F.col("__pc")
    b = bars.select(
        "event_type",
        "day",
        (ph + pl + pc).alias("p_num"),
        ph.alias("ph"),
        pl.alias("pl"),
    )

    def lvl(num, name):
        return (
            F.round(num.cast("double") / F.lit(3e6), 6) + F.lit(0.0)
        ).alias(name)

    p = F.col("p_num")
    return (
        b.select(
            "event_type",
            "day",
            lvl(p, "pivot"),
            lvl(F.lit(2) * p - F.lit(3) * F.col("pl"), "r1"),
            lvl(F.lit(2) * p - F.lit(3) * F.col("ph"), "s1"),
            lvl(p + F.lit(3) * (F.col("ph") - F.col("pl")), "r2"),
            lvl(p - F.lit(3) * (F.col("ph") - F.col("pl")), "s2"),
        )
        .orderBy("event_type", "day")
    )


def _ti_pivot_points_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    return f"""
WITH {DAILY_BARS_CTE}, p AS (
  SELECT event_type, day,
    lag(hm) OVER d + lag(lm) OVER d + lag(cm) OVER d AS p_num,
    lag(hm) OVER d AS ph, lag(lm) OVER d AS pl
  FROM bars
  WINDOW d AS ({_WD_SQL})
)
SELECT event_type, day,
  round(CAST(p_num AS DOUBLE) / 3000000.0, 6) + 0.0 AS pivot,
  round(CAST(2 * p_num - 3 * pl AS DOUBLE) / 3000000.0, 6) + 0.0 AS r1,
  round(CAST(2 * p_num - 3 * ph AS DOUBLE) / 3000000.0, 6) + 0.0 AS s1,
  round(CAST(p_num + 3 * (ph - pl) AS DOUBLE) / 3000000.0, 6) + 0.0 AS r2,
  round(CAST(p_num - 3 * (ph - pl) AS DOUBLE) / 3000000.0, 6) + 0.0 AS s2
FROM p
ORDER BY event_type, day
"""


# ---------------------------------------------------- ti_choppiness

_CHOP_N = 14


def ti_choppiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choppiness Index: 100·ln(ΣTR₁₄ / (HH₁₄ − LL₁₄)) / ln(14) — the
    trend-vs-range regime gauge (≈100 = sideways chop, ≈0 = straight
    trend).

    Determinism: the TR sum and the channel width are exact micro
    BIGINT window folds (the repo _with_true_range); the log ratio is ONE
    IEEE expression (natural-log quotient form so both engines hit
    the same libm path), masked until 14 bars exist and the channel
    is non-degenerate."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _with_true_range,
        _wd,
    )

    bars = _with_true_range(_daily_bars_df(spark, sf_dir))
    w = _wd().rowsBetween(-(_CHOP_N - 1), 0)
    b = bars.select(
        "event_type",
        "day",
        F.sum("trm").over(w).alias("atr_sum"),
        F.max("hm").over(w).alias("hh"),
        F.min("lm").over(w).alias("ll"),
        F.count("trm").over(w).alias("n"),
    )
    ok = (
        (F.col("n") == _CHOP_N)
        & (F.col("hh") > F.col("ll"))
        & (F.col("atr_sum") > 0)
    )
    chop = (
        F.lit(100.0)
        * F.log(F.col("atr_sum").cast("double") / (F.col("hh") - F.col("ll")))
        / F.log(F.lit(float(_CHOP_N)))
    )
    return (
        b.select(
            "event_type",
            "day",
            F.when(ok, F.round(chop, 6) + F.lit(0.0)).alias("choppiness"),
        )
        .orderBy("event_type", "day")
    )


def _ti_choppiness_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _TR_SQL,
        _WD_SQL,
    )

    w = f"({_WD_SQL} ROWS BETWEEN {_CHOP_N - 1} PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, t AS (
  SELECT event_type, day, {_TR_SQL} AS trm, hm, lm FROM bars
), s AS (
  SELECT event_type, day,
    SUM(trm) OVER {w} AS atr_sum,
    MAX(hm) OVER {w} AS hh,
    MIN(lm) OVER {w} AS ll,
    COUNT(trm) OVER {w} AS n
  FROM t
)
SELECT event_type, day,
  CASE WHEN n = {_CHOP_N} AND hh > ll AND atr_sum > 0 THEN
    round(100.0 * ln(CAST(atr_sum AS DOUBLE) / (hh - ll))
          / ln({float(_CHOP_N)}), 6) + 0.0
  END AS choppiness
FROM s
ORDER BY event_type, day
"""


# ------------------------------------------------------------ ti_bop

_QSTICK_N = 8
_BOP_SMA = 14


def ti_bop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance of Power BOP = (C−O)/(H−L) with its 14-day SMA, plus
    Qstick (8-day SMA of C−O) — the candle-body pressure pair over
    the open/close daily bars.

    Determinism: per-day BOP is quantized to micro BIGINT by exact
    half-away division (H>L mask); the SMA folds those integers; the
    Qstick numerator is a pure integer window sum.  ONE IEEE division
    per emitted column."""
    from kp_crypto_market_analytics_spark.queries_r10 import (
        _daily_bars_oc_df,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away
    from kp_crypto_market_analytics_spark.queries_r9 import _wd

    bars = _daily_bars_oc_df(spark, sf_dir)
    d = "decimal(38,0)"
    bop_m = F.when(
        F.col("hm") > F.col("lm"),
        _half_away(
            (F.col("cm").cast(d) - F.col("om").cast(d))
            * F.lit(1_000_000).cast(d),
            (F.col("hm") - F.col("lm")).cast(d),
        ),
    )
    b = bars.select(
        "event_type",
        "day",
        bop_m.alias("bop_m"),
        (F.col("cm") - F.col("om")).alias("co"),
    )
    wb = _wd().rowsBetween(-(_BOP_SMA - 1), 0)
    wq = _wd().rowsBetween(-(_QSTICK_N - 1), 0)
    b = b.select(
        "event_type",
        "day",
        "bop_m",
        F.when(
            F.count("bop_m").over(wb) == _BOP_SMA, F.sum("bop_m").over(wb)
        ).alias("bop_sum"),
        F.when(
            F.count("co").over(wq) == _QSTICK_N, F.sum("co").over(wq)
        ).alias("q_sum"),
    )
    return (
        b.select(
            "event_type",
            "day",
            (
                F.round(F.col("bop_m").cast("double") / F.lit(1e6), 6)
                + F.lit(0.0)
            ).alias("bop"),
            (
                F.round(
                    F.col("bop_sum").cast("double") / F.lit(_BOP_SMA * 1e6),
                    6,
                )
                + F.lit(0.0)
            ).alias("bop_sma"),
            (
                F.round(
                    F.col("q_sum").cast("double") / F.lit(_QSTICK_N * 1e6), 6
                )
                + F.lit(0.0)
            ).alias("qstick"),
        )
        .orderBy("event_type", "day")
    )


def _ti_bop_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r10 import _bars_oc_cte
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away
    from kp_crypto_market_analytics_spark.queries_r9 import _WD_SQL

    wb = f"({_WD_SQL} ROWS BETWEEN {_BOP_SMA - 1} PRECEDING AND CURRENT ROW)"
    wq = f"({_WD_SQL} ROWS BETWEEN {_QSTICK_N - 1} PRECEDING AND CURRENT ROW)"
    bop = _sql_half_away(
        "(CAST(cm AS HUGEINT) - om) * 1000000", "hm - lm"
    )
    return f"""
WITH {_bars_oc_cte()}, b AS (
  SELECT event_type, day,
    CASE WHEN hm > lm THEN {bop} END AS bop_m,
    cm - om AS co
  FROM barso
), s AS (
  SELECT event_type, day, bop_m,
    CASE WHEN COUNT(bop_m) OVER {wb} = {_BOP_SMA}
         THEN SUM(bop_m) OVER {wb} END AS bop_sum,
    CASE WHEN COUNT(co) OVER {wq} = {_QSTICK_N}
         THEN SUM(co) OVER {wq} END AS q_sum
  FROM b
)
SELECT event_type, day,
  round(CAST(bop_m AS DOUBLE) / 1000000.0, 6) + 0.0 AS bop,
  round(CAST(bop_sum AS DOUBLE) / {_BOP_SMA * 1e6}, 6) + 0.0 AS bop_sma,
  round(CAST(q_sum AS DOUBLE) / {_QSTICK_N * 1e6}, 6) + 0.0 AS qstick
FROM s
ORDER BY event_type, day
"""


# ------------------------------------------------- stats battery
#
# All eight tests run on the round-11 daily-cell design
# (queries_r11._daily_cells_df / _CELLS_CTE): cell(day, type) = the
# day's exact micro value sum (BIGINT); the two-sample tests compare
# the 'click' and 'view' series day-by-day via the shared pairs
# fixture.  Where a variance/ln must enter a cross-group sum, the
# per-group term is quantized to an integer first (micro ln rule /
# half-away division), so only ONE IEEE expression per emitted
# statistic ever runs.


def a_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across the event-type
    groups of daily MEGA-quantized cells: B = [(N−k)·ln(Sp²) −
    Σ(n_i−1)·ln(S_i²)] / C with the small-sample correction
    C = 1 + (Σ1/(n_i−1) − 1/(N−k))/(3(k−1)) — the parametric
    counterpart of the repo's Levene/Brown-Forsythe gate.

    Determinism: cells are MEGA-quantized by exact half-away division;
    per-group variances are micro-quantized integers
    s2q = ⌊Vnum·10⁶/(n(n−1))⌉ (Vnum = n·Σx²−(Σx)² exact decimal);
    each ln enters the fold as round(ln·10⁶) BIGINT; harmonic terms
    are pico-quantized integer divisions.  ONE IEEE expression emits
    the statistic."""
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _daily_cells_df,
        _half_away,
    )

    d = "decimal(38,0)"
    cells = _daily_cells_df(spark, sf_dir).select(
        "event_type",
        _half_away(F.col("cell").cast(d), F.lit(1_000_000).cast(d)).alias(
            "xk"
        ),
    )
    g = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(F.col("xk").cast(d)).alias("s1"),
        F.sum(F.col("xk").cast(d) * F.col("xk").cast(d)).alias("s2"),
    )
    vnum = F.col("n_i").cast(d) * F.col("s2") - F.col("s1") * F.col("s1")
    g = g.select(
        "n_i",
        vnum.alias("vnum"),
        F.when(
            (F.col("n_i") >= 2) & (vnum > 0),
            _half_away(
                vnum * F.lit(1_000_000).cast(d),
                (F.col("n_i") * (F.col("n_i") - 1)).cast(d),
            ),
        ).alias("s2q"),
    )
    li = F.round(
        F.log(F.col("s2q").cast("double") / F.lit(1e6)) * F.lit(1e6), 0
    ).cast("long")
    hq = _half_away(
        F.lit(10**12).cast(d), (F.col("n_i") - 1).cast(d)
    )
    per = g.select(
        "n_i",
        "s2q",
        ((F.col("n_i") - 1).cast(d) * F.col("s2q").cast(d)).alias("wvar"),
        ((F.col("n_i") - 1) * li).cast(d).alias("wli"),
        F.when(F.col("n_i") >= 2, hq).alias("hq"),
        F.when(F.col("s2q").isNotNull(), 1).otherwise(0).alias("ok"),
    )
    t = per.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("n_i").cast("long").alias("n_total"),
        F.sum("wvar").alias("sum_wvar"),
        F.sum("wli").alias("sum_wli"),
        F.sum("hq").cast("long").alias("hsum"),
        F.min("ok").alias("all_ok"),
    )
    nk = (F.col("n_total") - F.col("k_groups")).cast("long")
    lnsp_micro = F.round(
        F.log(F.col("sum_wvar").cast("double") / (nk.cast("double") * F.lit(1e6)))
        * F.lit(1e6),
        0,
    ).cast("long")
    t = t.select(
        "k_groups",
        "n_total",
        "sum_wli",
        "hsum",
        "all_ok",
        nk.alias("nk"),
        F.when(F.col("all_ok") == 1, lnsp_micro).alias("lnsp_micro"),
    )
    # pico-quantized 1/(N-k) for the correction's subtrahend
    hnk = F.round(F.lit(1e12) / F.col("nk").cast("double"), 0).cast("long")
    b_micro = (
        F.col("nk").cast(d) * F.col("lnsp_micro").cast(d) - F.col("sum_wli")
    )
    stat = (b_micro.cast("double") / F.lit(1e6)) / (
        F.lit(1.0)
        + (F.col("hsum") - hnk).cast("double")
        / (F.lit(3.0) * (F.col("k_groups") - 1).cast("double") * F.lit(1e12))
    )
    return t.select(
        "k_groups",
        "n_total",
        F.when(
            (F.col("all_ok") == 1) & (F.col("k_groups") >= 2),
            F.round(stat, 6) + F.lit(0.0),
        ).alias("bartlett_b"),
    )


def _a_bartlett_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _CELLS_CTE,
        _sql_half_away,
    )

    xk = _sql_half_away("cell", "1000000")
    s2q = _sql_half_away(
        "vnum * 1000000", "n_i * (n_i - 1)"
    )
    hq = _sql_half_away("1000000000000", "n_i - 1")
    return f"""
WITH {_CELLS_CTE}, ck AS (
  SELECT event_type, {xk} AS xk FROM cells
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_i,
    SUM(CAST(xk AS HUGEINT)) AS s1,
    SUM(CAST(xk AS HUGEINT) * xk) AS s2
  FROM ck GROUP BY 1
), v AS (
  SELECT n_i, n_i * s2 - s1 * s1 AS vnum FROM g
), q AS (
  SELECT n_i, vnum,
    CASE WHEN n_i >= 2 AND vnum > 0 THEN {s2q} END AS s2q
  FROM v
), per AS (
  SELECT n_i, s2q,
    CAST(n_i - 1 AS HUGEINT) * s2q AS wvar,
    CAST((n_i - 1) * CAST(round(ln(CAST(s2q AS DOUBLE) / 1000000.0)
      * 1000000.0) AS BIGINT) AS HUGEINT) AS wli,
    CASE WHEN n_i >= 2 THEN {hq} END AS hq,
    CASE WHEN s2q IS NOT NULL THEN 1 ELSE 0 END AS ok
  FROM q
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
    CAST(SUM(n_i) AS BIGINT) AS n_total,
    SUM(wvar) AS sum_wvar, SUM(wli) AS sum_wli,
    CAST(SUM(hq) AS BIGINT) AS hsum, MIN(ok) AS all_ok
  FROM per
), u AS (
  SELECT k_groups, n_total, sum_wli, hsum, all_ok,
    n_total - k_groups AS nk,
    CASE WHEN all_ok = 1 THEN
      CAST(round(ln(CAST(sum_wvar AS DOUBLE)
        / (CAST(n_total - k_groups AS DOUBLE) * 1000000.0))
        * 1000000.0) AS BIGINT) END AS lnsp_micro
  FROM t
)
SELECT k_groups, n_total,
  CASE WHEN all_ok = 1 AND k_groups >= 2 THEN
    round((CAST(CAST(nk AS HUGEINT) * lnsp_micro - sum_wli AS DOUBLE)
           / 1000000.0)
      / (1.0 + CAST(hsum - CAST(round(1000000000000.0
             / CAST(nk AS DOUBLE)) AS BIGINT) AS DOUBLE)
         / (3.0 * CAST(k_groups - 1 AS DOUBLE) * 1000000000000.0)), 6)
    + 0.0
  END AS bartlett_b
FROM u
"""


# ------------------------------------- a_jonckheere_terpstra


def a_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative across the
    event-type groups (alphabetical group order): JT = Σ_{g<h} U_gh
    with ties counted half, doubled to stay integral (u2 = 2·JT), and
    the normal approximation z = (JT − μ)/σ, μ = (N²−Σn²)/4,
    σ² = [N²(2N+3) − Σn²(2n+3)]/72.

    Determinism: u2, μ·4 and σ²·72 numerators are exact BIGINTs from
    the cross-group pair census; ONE IEEE expression emits z.

    Scale shape: the pair census is a cross-group theta-join on the
    SMALL aggregated cell frame (|days|·|types| rows), broadcast —
    the raw events were already reduced by the cells groupBy."""
    from kp_crypto_market_analytics_spark.queries_r11 import _daily_cells_df

    cells = _daily_cells_df(spark, sf_dir)
    c1 = cells.select(
        F.col("event_type").alias("g1"), F.col("cell").alias("x1")
    )
    c2 = cells.select(
        F.col("event_type").alias("g2"), F.col("cell").alias("x2")
    )
    pairs = c1.join(F.broadcast(c2), F.col("g1") < F.col("g2"))
    u = pairs.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("x1") < F.col("x2"), 2)
                .when(F.col("x1") == F.col("x2"), 1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("u2")
    )
    g = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    m = g.agg(
        F.sum("n_i").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum(F.col("n_i") * F.col("n_i")).cast("long").alias("sn2"),
        F.sum(F.col("n_i") * F.col("n_i") * (2 * F.col("n_i") + 3))
        .cast("long")
        .alias("sn23"),
    )
    t = u.crossJoin(m)
    nt = F.col("n_total")
    mu4 = nt * nt - F.col("sn2")
    var72 = nt * nt * (2 * nt + 3) - F.col("sn23")
    z = (
        F.col("u2").cast("double") / F.lit(2.0)
        - mu4.cast("double") / F.lit(4.0)
    ) / F.sqrt(var72.cast("double") / F.lit(72.0))
    return t.select(
        "k_groups",
        "n_total",
        "u2",
        F.when(var72 > 0, F.round(z, 6) + F.lit(0.0)).alias("jt_z"),
    )


def _a_jonckheere_terpstra_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _CELLS_CTE

    return f"""
WITH {_CELLS_CTE}, u AS (
  SELECT CAST(coalesce(SUM(CASE WHEN a.cell < b.cell THEN 2
                     WHEN a.cell = b.cell THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS u2
  FROM cells a JOIN cells b ON a.event_type < b.event_type
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_i
  FROM cells GROUP BY 1
), m AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n_total,
    CAST(COUNT(*) AS BIGINT) AS k_groups,
    CAST(SUM(n_i * n_i) AS BIGINT) AS sn2,
    CAST(SUM(n_i * n_i * (2 * n_i + 3)) AS BIGINT) AS sn23
  FROM g
)
SELECT k_groups, n_total, u2,
  CASE WHEN n_total * n_total * (2 * n_total + 3) - sn23 > 0 THEN
    round((CAST(u2 AS DOUBLE) / 2.0
           - CAST(n_total * n_total - sn2 AS DOUBLE) / 4.0)
      / sqrt(CAST(n_total * n_total * (2 * n_total + 3) - sn23 AS DOUBLE)
             / 72.0), 6) + 0.0
  END AS jt_z
FROM u CROSS JOIN m
"""


# --------------------------------------- a_cochran_armitage


def a_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the probability that clicks
    out-sum views on a day TREND across the week?  Days are scored by
    weekday s ∈ 0..6 (Monday = 0, computed as days-since-1970-01-05
    mod 7 so both engines agree), success = (click cell > view cell);
    z = (N·Σsx − X·Σsn) / √(X·(N−X)·(N·Σs²n − (Σsn)²)/N).

    Determinism: the 2×7 table and every moment are exact BIGINTs;
    ONE IEEE expression emits z."""
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _paired_diffs_df,
    )

    p = _paired_diffs_df(spark, sf_dir).select(
        (F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")) % 7)
        .cast("long")
        .alias("s"),
        F.when(F.col("d") > 0, 1).otherwise(0).cast("long").alias("succ"),
    )
    g = p.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum("succ").cast("long").alias("x_i"),
    )
    t = g.agg(
        F.sum("n_i").cast("long").alias("n_days"),
        F.sum("x_i").cast("long").alias("x_succ"),
        F.sum(F.col("s") * F.col("x_i")).cast("long").alias("ssx"),
        F.sum(F.col("s") * F.col("n_i")).cast("long").alias("ssn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i"))
        .cast("long")
        .alias("ss2n"),
    )
    nt = F.col("n_days")
    x = F.col("x_succ")
    tnum = nt * F.col("ssx") - x * F.col("ssn")
    vin = nt * F.col("ss2n") - F.col("ssn") * F.col("ssn")
    z = tnum.cast("double") / F.sqrt(
        (x * (nt - x)).cast("double") * vin.cast("double") / nt.cast("double")
    )
    return t.select(
        "n_days",
        "x_succ",
        tnum.alias("trend_num"),
        F.when(
            (x > 0) & (x < nt) & (vin > 0), F.round(z, 6) + F.lit(0.0)
        ).alias("ca_z"),
    )


def _a_cochran_armitage_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _PAIRS_CTE

    return f"""
WITH {_PAIRS_CTE}, sc AS (
  SELECT CAST(date_diff('day', DATE '1970-01-05', day) % 7 AS BIGINT) AS s,
    CAST(CASE WHEN d > 0 THEN 1 ELSE 0 END AS BIGINT) AS succ
  FROM pairs
), g AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_i,
    CAST(SUM(succ) AS BIGINT) AS x_i
  FROM sc GROUP BY 1
), t AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n_days,
    CAST(SUM(x_i) AS BIGINT) AS x_succ,
    CAST(SUM(s * x_i) AS BIGINT) AS ssx,
    CAST(SUM(s * n_i) AS BIGINT) AS ssn,
    CAST(SUM(s * s * n_i) AS BIGINT) AS ss2n
  FROM g
)
SELECT n_days, x_succ,
  n_days * ssx - x_succ * ssn AS trend_num,
  CASE WHEN x_succ > 0 AND x_succ < n_days
        AND n_days * ss2n - ssn * ssn > 0 THEN
    round(CAST(n_days * ssx - x_succ * ssn AS DOUBLE)
      / sqrt(CAST(x_succ * (n_days - x_succ) AS DOUBLE)
             * CAST(n_days * ss2n - ssn * ssn AS DOUBLE)
             / CAST(n_days AS DOUBLE)), 6) + 0.0
  END AS ca_z
FROM t
"""


# ------------------------------------------------ a_odds_ratio


def a_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 odds ratio and relative risk: exposure = weekend day,
    outcome = clicks out-sum views; Woolf log-OR interval
    log(OR) ± 1.96·√(1/a+1/b+1/c+1/d).

    Determinism: the four cells are exact integer counts; OR, RR and
    the interval are single IEEE expressions over integer products
    (a·d / b·c form), masked if any cell is empty."""
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _paired_diffs_df,
    )

    p = _paired_diffs_df(spark, sf_dir).select(
        (
            (F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")) % 7)
            >= 5
        ).alias("wk"),
        (F.col("d") > 0).alias("succ"),
    )
    t = p.agg(
        F.sum(F.when(F.col("wk") & F.col("succ"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("wk") & ~F.col("succ"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("wk") & F.col("succ"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~F.col("wk") & ~F.col("succ"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    ok = (
        (F.col("a") > 0)
        & (F.col("b") > 0)
        & (F.col("c") > 0)
        & (F.col("d") > 0)
    )
    orr = (F.col("a") * F.col("d")).cast("double") / (
        F.col("b") * F.col("c")
    ).cast("double")
    lor = F.log(orr)
    se = F.sqrt(
        F.lit(1.0) / F.col("a")
        + F.lit(1.0) / F.col("b")
        + F.lit(1.0) / F.col("c")
        + F.lit(1.0) / F.col("d")
    )
    rr = (F.col("a") * (F.col("c") + F.col("d"))).cast("double") / (
        F.col("c") * (F.col("a") + F.col("b"))
    ).cast("double")
    return t.select(
        "a",
        "b",
        "c",
        "d",
        F.when(ok, F.round(orr, 6) + F.lit(0.0)).alias("odds_ratio"),
        F.when(ok, F.round(rr, 6) + F.lit(0.0)).alias("rel_risk"),
        F.when(ok, F.round(lor - F.lit(1.96) * se, 6) + F.lit(0.0)).alias(
            "log_or_lo"
        ),
        F.when(ok, F.round(lor + F.lit(1.96) * se, 6) + F.lit(0.0)).alias(
            "log_or_hi"
        ),
    )


def _a_odds_ratio_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _PAIRS_CTE

    return f"""
WITH {_PAIRS_CTE}, f AS (
  SELECT (date_diff('day', DATE '1970-01-05', day) % 7) >= 5 AS wk,
    d > 0 AS succ
  FROM pairs
), t AS (
  SELECT
    CAST(SUM(CASE WHEN wk AND succ THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN wk AND NOT succ THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN NOT wk AND succ THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN NOT wk AND NOT succ THEN 1 ELSE 0 END) AS BIGINT)
      AS d
  FROM f
)
SELECT a, b, c, d,
  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
    round(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE), 6) + 0.0
  END AS odds_ratio,
  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
    round(CAST(a * (c + d) AS DOUBLE) / CAST(c * (a + b) AS DOUBLE), 6)
    + 0.0
  END AS rel_risk,
  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
    round(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
      - 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d), 6) + 0.0
  END AS log_or_lo,
  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
    round(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
      + 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d), 6) + 0.0
  END AS log_or_hi
FROM t
"""


# --------------------------------------------------- a_chow_test

# The regression-based tests below run on the 'click' daily series:
# y = the day's exact micro cell, x = the 1-based day index.  All
# centered sums use the integer forms A = nΣxy−ΣxΣy, B = nΣx²−(Σx)²,
# C = nΣy²−(Σy)², so SSE = (C·B − A²)/(n·B) is a ratio of exact
# decimals with ONE IEEE division.

_REG_TYPE = "click"


def _click_series_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kp_crypto_market_analytics_spark.queries_r11 import _daily_cells_df

    cells = _daily_cells_df(spark, sf_dir).where(
        F.col("event_type") == _REG_TYPE
    )
    w = Window.orderBy("day")
    return cells.select(
        F.row_number().over(w).cast("long").alias("x"),
        F.count(F.lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).cast("long").alias("n"),
        F.col("cell").alias("y"),
    )


_SERIES_CTE = f"""{{cells}}, ser AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS x,
    CAST(COUNT(*) OVER () AS BIGINT) AS n,
    cell AS y
  FROM cells WHERE event_type = '{_REG_TYPE}'
)"""


def _series_cte() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _CELLS_CTE

    return _SERIES_CTE.format(cells=_CELLS_CTE)


def a_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break F-test on the daily click series
    (MEGA-quantized cells) split at its midpoint: F = [(SSE_pooled −
    SSE₁ − SSE₂)/2] / [(SSE₁+SSE₂)/(n−4)] for the linear trend
    y = a + b·x per segment.

    Determinism: cells are MEGA-quantized by exact half-away division;
    each SSE = (C·B − A²)/(n·B) over exact decimal moments
    (A = nΣxy−ΣxΣy, B = nΣx²−(Σx)², C = nΣy²−(Σy)²) is itself
    half-away-quantized to an exact BIGINT before anything IEEE runs —
    a raw decimal(≈10³⁶)→double cast is NOT portable (engines round
    the wide-integer conversion differently by 1 ulp; measured at
    sf0.1) — so the three SSEs and the F blend are exact-integer
    inputs to ONE IEEE expression each."""
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away

    d = "decimal(38,0)"
    s = _click_series_df(spark, sf_dir).select(
        "x",
        "n",
        _half_away(F.col("y").cast(d), F.lit(1_000_000).cast(d)).alias("yk"),
    ).withColumn(
        "seg", F.when(F.col("x") * 2 <= F.col("n"), 1).otherwise(2)
    )

    def moments(tag: str, cond):
        yd = F.when(cond, F.col("yk").cast(d))
        xd = F.when(cond, F.col("x").cast(d))
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n{tag}"),
            F.sum(xd).alias(f"sx{tag}"),
            F.sum(xd * xd).alias(f"sxx{tag}"),
            F.sum(yd).alias(f"sy{tag}"),
            F.sum(yd * yd).alias(f"syy{tag}"),
            F.sum(xd * yd).alias(f"sxy{tag}"),
        ]

    t = s.agg(
        *moments("p", F.lit(True)),
        *moments("1", F.col("seg") == 1),
        *moments("2", F.col("seg") == 2),
    )

    def sse_int(tag: str):
        n = F.col(f"n{tag}").cast(d)
        a = n * F.col(f"sxy{tag}") - F.col(f"sx{tag}") * F.col(f"sy{tag}")
        b = n * F.col(f"sxx{tag}") - F.col(f"sx{tag}") * F.col(f"sx{tag}")
        c = n * F.col(f"syy{tag}") - F.col(f"sy{tag}") * F.col(f"sy{tag}")
        return _half_away(c * b - a * a, n * b)

    t = t.select(
        "np",
        "n1",
        "n2",
        sse_int("p").alias("ip"),
        sse_int("1").alias("i1"),
        sse_int("2").alias("i2"),
    )
    ssep = F.col("ip").cast("double")
    sse1 = F.col("i1").cast("double")
    sse2 = F.col("i2").cast("double")
    nd = F.col("np").cast("double")
    f_stat = ((ssep - sse1 - sse2) / F.lit(2.0)) / (
        (sse1 + sse2) / (nd - F.lit(4.0))
    )
    ok = (F.col("n1") >= 3) & (F.col("n2") >= 3)
    return t.select(
        F.col("np").alias("n_days"),
        F.col("n1"),
        F.col("n2"),
        F.when(ok, F.round(ssep, 6) + F.lit(0.0)).alias("sse_pooled"),
        F.when(ok, F.round(sse1, 6) + F.lit(0.0)).alias("sse_seg1"),
        F.when(ok, F.round(sse2, 6) + F.lit(0.0)).alias("sse_seg2"),
        F.when(ok, F.round(f_stat, 6) + F.lit(0.0)).alias("chow_f"),
    )


def _a_chow_test_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    yk = _sql_half_away("y", "1000000")

    def moments(tag: str, cond: str) -> str:
        return f"""
    CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n{tag},
    SUM(CASE WHEN {cond} THEN CAST(x AS HUGEINT) END) AS sx{tag},
    SUM(CASE WHEN {cond} THEN CAST(x AS HUGEINT) * x END) AS sxx{tag},
    SUM(CASE WHEN {cond} THEN CAST(yk AS HUGEINT) END) AS sy{tag},
    SUM(CASE WHEN {cond} THEN CAST(yk AS HUGEINT) * yk END) AS syy{tag},
    SUM(CASE WHEN {cond} THEN CAST(x AS HUGEINT) * yk END) AS sxy{tag}"""

    def sse_int(tag: str) -> str:
        n = f"CAST(n{tag} AS HUGEINT)"
        a = f"({n} * sxy{tag} - sx{tag} * sy{tag})"
        b = f"({n} * sxx{tag} - sx{tag} * sx{tag})"
        c = f"({n} * syy{tag} - sy{tag} * sy{tag})"
        return _sql_half_away(f"{c} * {b} - {a} * {a}", f"{n} * {b}")

    return f"""
WITH {_series_cte()}, seg AS (
  SELECT x, n, {yk} AS yk, CASE WHEN x * 2 <= n THEN 1 ELSE 2 END AS s
  FROM ser
), t AS (
  SELECT
    {moments("p", "TRUE")},
    {moments("1", "s = 1")},
    {moments("2", "s = 2")}
  FROM seg
), q AS (
  SELECT np, n1, n2,
    {sse_int("p")} AS ip, {sse_int("1")} AS i1, {sse_int("2")} AS i2
  FROM t
)
SELECT np AS n_days, n1, n2,
  CASE WHEN n1 >= 3 AND n2 >= 3 THEN
    round(CAST(ip AS DOUBLE), 6) + 0.0 END AS sse_pooled,
  CASE WHEN n1 >= 3 AND n2 >= 3 THEN
    round(CAST(i1 AS DOUBLE), 6) + 0.0 END AS sse_seg1,
  CASE WHEN n1 >= 3 AND n2 >= 3 THEN
    round(CAST(i2 AS DOUBLE), 6) + 0.0 END AS sse_seg2,
  CASE WHEN n1 >= 3 AND n2 >= 3 THEN
    round(((CAST(ip AS DOUBLE) - CAST(i1 AS DOUBLE) - CAST(i2 AS DOUBLE))
           / 2.0)
          / ((CAST(i1 AS DOUBLE) + CAST(i2 AS DOUBLE))
             / (CAST(np AS DOUBLE) - 4.0)), 6) + 0.0
  END AS chow_f
FROM q
"""


# ----------------------------------------------- a_breusch_pagan


def a_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan (Koenker studentized) heteroskedasticity test on
    the daily click trend regression: LM = n·R²_aux where the aux
    regression explains the squared residuals by x.

    Determinism: residuals are exact rationals e = [B·(n·y−Σy) −
    A·(n·x−Σx)]/(n·B), quantized once to UNIT-cell integers (micro ÷
    10⁶) by half-away division — the unit scale keeps the aux moment
    C_u = nΣu²−(Σu)² inside decimal(38)/HUGEINT with two orders of
    headroom at 10× data (the milli scale would saturate at ~sf1);
    the aux-regression moments fold those integers in decimal;
    LM = n·A_u²/(B·C_u) is ONE IEEE expression."""
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away

    d = "decimal(38,0)"
    s = _click_series_df(spark, sf_dir)
    m = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d)).alias("sx"),
        F.sum(F.col("x").cast(d) * F.col("x").cast(d)).alias("sxx"),
        F.sum(F.col("y").cast(d)).alias("sy"),
        F.sum(F.col("x").cast(d) * F.col("y").cast(d)).alias("sxy"),
    )
    m = m.select(
        "n",
        "sx",
        "sy",
        (F.col("n").cast(d) * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "a_m"
        ),
        (F.col("n").cast(d) * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "b_m"
        ),
    )
    j = s.select("x", "y").crossJoin(F.broadcast(m))
    e_k = _half_away(
        F.col("b_m") * (F.col("n").cast(d) * F.col("y").cast(d) - F.col("sy"))
        - F.col("a_m")
        * (F.col("n").cast(d) * F.col("x").cast(d) - F.col("sx")),
        F.col("n").cast(d) * F.col("b_m") * F.lit(1_000_000).cast(d),
    )
    u = j.select(
        "x", "n", "b_m", e_k.alias("ek")
    ).withColumn("u", F.col("ek").cast(d) * F.col("ek").cast(d))
    t = u.groupBy("n", "b_m").agg(
        F.sum(F.col("x").cast(d)).alias("sx"),
        F.sum("u").alias("su"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("x").cast(d) * F.col("u")).alias("sxu"),
    )
    au = F.col("n").cast(d) * F.col("sxu") - F.col("sx") * F.col("su")
    cu = F.col("n").cast(d) * F.col("suu") - F.col("su") * F.col("su")
    r2 = (au.cast("double") * au.cast("double")) / (
        F.col("b_m").cast("double") * cu.cast("double")
    )
    return t.select(
        F.col("n").alias("n_days"),
        F.when(cu > 0, F.round(r2, 6) + F.lit(0.0)).alias("r2_aux"),
        F.when(
            cu > 0, F.round(F.col("n").cast("double") * r2, 6) + F.lit(0.0)
        ).alias("bp_lm"),
    )


def _a_breusch_pagan_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    ek = _sql_half_away(
        "b_m * (CAST(n AS HUGEINT) * y - sy)"
        " - a_m * (CAST(n AS HUGEINT) * x - sx)",
        "CAST(n AS HUGEINT) * b_m * 1000000",
    )
    return f"""
WITH {_series_cte()}, m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(x AS HUGEINT)) AS sx,
    SUM(CAST(x AS HUGEINT) * x) AS sxx,
    SUM(CAST(y AS HUGEINT)) AS sy,
    SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM ser
), ab AS (
  SELECT n, sx, sy,
    CAST(n AS HUGEINT) * sxy - sx * sy AS a_m,
    CAST(n AS HUGEINT) * sxx - sx * sx AS b_m
  FROM m
), sxy2 AS (
  SELECT x, y FROM ser
), r AS (
  SELECT sxy2.x AS x, ab.n AS n, ab.b_m AS b_m, {ek} AS ek
  FROM sxy2 CROSS JOIN ab
), uu AS (
  SELECT x, n, b_m, CAST(ek AS HUGEINT) * ek AS u FROM r
), t AS (
  SELECT n, b_m,
    SUM(CAST(x AS HUGEINT)) AS sx,
    SUM(u) AS su, SUM(u * u) AS suu,
    SUM(CAST(x AS HUGEINT) * u) AS sxu
  FROM uu GROUP BY 1, 2
)
SELECT n AS n_days,
  CASE WHEN CAST(n AS HUGEINT) * suu - su * su > 0 THEN
    round((CAST(CAST(n AS HUGEINT) * sxu - sx * su AS DOUBLE)
           * CAST(CAST(n AS HUGEINT) * sxu - sx * su AS DOUBLE))
          / (CAST(b_m AS DOUBLE)
             * CAST(CAST(n AS HUGEINT) * suu - su * su AS DOUBLE)), 6)
    + 0.0
  END AS r2_aux,
  CASE WHEN CAST(n AS HUGEINT) * suu - su * su > 0 THEN
    round(CAST(n AS DOUBLE)
          * ((CAST(CAST(n AS HUGEINT) * sxu - sx * su AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * sxu - sx * su AS DOUBLE))
             / (CAST(b_m AS DOUBLE)
                * CAST(CAST(n AS HUGEINT) * suu - su * su AS DOUBLE))), 6)
    + 0.0
  END AS bp_lm
FROM t
"""


# ---------------------------------------------- a_dagostino_k2


def a_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K² omnibus normality test on the daily click
    cells (MEGA-quantized): skewness Z₁ (D'Agostino 1970 transform),
    kurtosis Z₂ (Anscombe-Glynn 1983), K² = Z₁² + Z₂².

    Determinism: central moments fold as exact decimals of the
    integer deviations n·y−Σy (so √n·S₃/S₂^{3/2} and n·S₄/S₂² are
    ratios of exact numbers); every small-sample constant is an exact
    integer product; the two transforms are each ONE IEEE expression
    written token-identically in both dialects (x^1.5 spelled
    x·√x, cube root via cbrt)."""
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away

    d = "decimal(38,0)"
    s = _click_series_df(spark, sf_dir).select(
        "n",
        _half_away(F.col("y").cast(d), F.lit(1_000_000).cast(d)).alias("yk"),
    )
    m = s.groupBy("n").agg(F.sum(F.col("yk").cast(d)).alias("sy"))
    j = s.join(F.broadcast(m), "n").withColumn(
        "dev", (F.col("n") * F.col("yk") - F.col("sy").cast("long")).cast(d)
    )
    t = j.groupBy("n").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("s2"),
        F.sum(F.col("dev") * F.col("dev") * F.col("dev")).alias("s3"),
        F.sum(
            F.col("dev") * F.col("dev") * F.col("dev") * F.col("dev")
        ).alias("s4"),
    )
    n = F.col("n")
    nd = n.cast("double")
    s2d = F.col("s2").cast("double")
    s3d = F.col("s3").cast("double")
    s4d = F.col("s4").cast("double")
    g1 = F.sqrt(nd) * s3d / (s2d * F.sqrt(s2d))
    b2 = nd * s4d / (s2d * s2d)
    c1 = ((n + 1) * (n + 3)).cast("double")
    y = g1 * F.sqrt(c1 / (F.lit(6.0) * (nd - F.lit(2.0))))
    b2num = (
        F.lit(3) * (n * n + F.lit(27) * n - F.lit(70)) * (n + 1) * (n + 3)
    ).cast("double")
    b2den = ((n - 2) * (n + 5) * (n + 7) * (n + 9)).cast("double")
    beta2 = b2num / b2den
    w2 = F.lit(-1.0) + F.sqrt(F.lit(2.0) * (beta2 - F.lit(1.0)))
    delta = F.lit(1.0) / F.sqrt(F.lit(0.5) * F.log(w2))
    tt = y / F.sqrt(F.lit(2.0) / (w2 - F.lit(1.0)))
    z1 = delta * F.log(tt + F.sqrt(tt * tt + F.lit(1.0)))
    eb2 = F.lit(3.0) * (nd - F.lit(1.0)) / (nd + F.lit(1.0))
    vnum = (F.lit(24) * n * (n - 2) * (n - 3)).cast("double")
    vden = ((n + 1) * (n + 1) * (n + 3) * (n + 5)).cast("double")
    xx = (b2 - eb2) / F.sqrt(vnum / vden)
    b1num = (F.lit(6) * (n * n - F.lit(5) * n + F.lit(2))).cast("double")
    b1den = ((n + 7) * (n + 9)).cast("double")
    s6num = (F.lit(6) * (n + 3) * (n + 5)).cast("double")
    s6den = (n * (n - 2) * (n - 3)).cast("double")
    beta1 = (b1num / b1den) * F.sqrt(s6num / s6den)
    aa = F.lit(6.0) + (F.lit(8.0) / beta1) * (
        (F.lit(2.0) / beta1)
        + F.sqrt(F.lit(1.0) + F.lit(4.0) / (beta1 * beta1))
    )
    z2 = (
        (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * aa))
        - F.cbrt(
            (F.lit(1.0) - F.lit(2.0) / aa)
            / (F.lit(1.0) + xx * F.sqrt(F.lit(2.0) / (aa - F.lit(2.0))))
        )
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * aa))
    ok = (n >= 20) & (F.col("s2") > 0)
    return t.select(
        n.alias("n_days"),
        F.when(ok, F.round(g1, 6) + F.lit(0.0)).alias("skew_g1"),
        F.when(ok, F.round(b2 - F.lit(3.0), 6) + F.lit(0.0)).alias("kurt_g2"),
        F.when(ok, F.round(z1, 6) + F.lit(0.0)).alias("z_skew"),
        F.when(ok, F.round(z2, 6) + F.lit(0.0)).alias("z_kurt"),
        F.when(ok, F.round(z1 * z1 + z2 * z2, 6) + F.lit(0.0)).alias(
            "k2_omnibus"
        ),
    )


def _a_dagostino_k2_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    yk = _sql_half_away("y", "1000000")
    g1 = "(sqrt(CAST(n AS DOUBLE)) * CAST(s3 AS DOUBLE) / (CAST(s2 AS DOUBLE) * sqrt(CAST(s2 AS DOUBLE))))"
    b2 = "(CAST(n AS DOUBLE) * CAST(s4 AS DOUBLE) / (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)))"
    y = (
        f"({g1} * sqrt(CAST((n + 1) * (n + 3) AS DOUBLE)"
        f" / (6.0 * (CAST(n AS DOUBLE) - 2.0))))"
    )
    beta2 = (
        "(CAST(3 * (n * n + 27 * n - 70) * (n + 1) * (n + 3) AS DOUBLE)"
        " / CAST((n - 2) * (n + 5) * (n + 7) * (n + 9) AS DOUBLE))"
    )
    w2 = f"(-1.0 + sqrt(2.0 * ({beta2} - 1.0)))"
    delta = f"(1.0 / sqrt(0.5 * ln({w2})))"
    tt = f"({y} / sqrt(2.0 / ({w2} - 1.0)))"
    z1 = f"({delta} * ln({tt} + sqrt({tt} * {tt} + 1.0)))"
    eb2 = "(3.0 * (CAST(n AS DOUBLE) - 1.0) / (CAST(n AS DOUBLE) + 1.0))"
    xx = (
        f"(({b2} - {eb2}) / sqrt(CAST(24 * n * (n - 2) * (n - 3) AS DOUBLE)"
        f" / CAST((n + 1) * (n + 1) * (n + 3) * (n + 5) AS DOUBLE)))"
    )
    beta1 = (
        "((CAST(6 * (n * n - 5 * n + 2) AS DOUBLE)"
        " / CAST((n + 7) * (n + 9) AS DOUBLE))"
        " * sqrt(CAST(6 * (n + 3) * (n + 5) AS DOUBLE)"
        " / CAST(n * (n - 2) * (n - 3) AS DOUBLE)))"
    )
    aa = (
        f"(6.0 + (8.0 / {beta1}) * ((2.0 / {beta1})"
        f" + sqrt(1.0 + 4.0 / ({beta1} * {beta1}))))"
    )
    z2 = (
        f"(((1.0 - 2.0 / (9.0 * {aa}))"
        f" - cbrt((1.0 - 2.0 / {aa})"
        f" / (1.0 + {xx} * sqrt(2.0 / ({aa} - 2.0)))))"
        f" / sqrt(2.0 / (9.0 * {aa})))"
    )
    ok = "n >= 20 AND s2 > 0"
    return f"""
WITH {_series_cte()}, q AS (
  SELECT n, {yk} AS yk FROM ser
), m AS (
  SELECT n, SUM(CAST(yk AS HUGEINT)) AS sy FROM q GROUP BY 1
), dv AS (
  SELECT q.n AS n, CAST(q.n * q.yk - m.sy AS HUGEINT) AS dev
  FROM q JOIN m ON q.n = m.n
), t AS (
  SELECT n, SUM(dev * dev) AS s2, SUM(dev * dev * dev) AS s3,
    SUM(dev * dev * dev * dev) AS s4
  FROM dv GROUP BY 1
)
SELECT n AS n_days,
  CASE WHEN {ok} THEN round({g1}, 6) + 0.0 END AS skew_g1,
  CASE WHEN {ok} THEN round({b2} - 3.0, 6) + 0.0 END AS kurt_g2,
  CASE WHEN {ok} THEN round({z1}, 6) + 0.0 END AS z_skew,
  CASE WHEN {ok} THEN round({z2}, 6) + 0.0 END AS z_kurt,
  CASE WHEN {ok} THEN round({z1} * {z1} + {z2} * {z2}, 6) + 0.0 END
    AS k2_omnibus
FROM t
"""


# ------------------------------------------ a_cramer_von_mises


def a_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises criterion between the click and
    view daily-cell distributions (Anderson's rank form):
    U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)² over combined ranks,
    T = U/(n·m·(n+m)) − (4nm−1)/(6(n+m)).

    Determinism: ranks come from row_number over the deterministic
    total order (cell, type, day) — ties broken identically in both
    engines — so U is an exact BIGINT; T is ONE IEEE expression."""
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
        _daily_cells_df,
    )

    cells = _daily_cells_df(spark, sf_dir).where(
        F.col("event_type").isin(_PAIR_A, _PAIR_B)
    )
    wall = Window.orderBy("cell", "event_type", "day")
    wgrp = Window.partitionBy("event_type").orderBy("cell", "day")
    r = cells.select(
        "event_type",
        F.row_number().over(wall).cast("long").alias("r"),
        F.row_number().over(wgrp).cast("long").alias("i"),
    ).withColumn(
        "dsq", (F.col("r") - F.col("i")) * (F.col("r") - F.col("i"))
    )
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("dsq").cast("long").alias("ssq"),
    )
    t = g.agg(
        F.sum(F.when(F.col("event_type") == _PAIR_A, F.col("n_g")))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("event_type") == _PAIR_B, F.col("n_g")))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("event_type") == _PAIR_A, F.col("ssq")))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("event_type") == _PAIR_B, F.col("ssq")))
        .cast("long")
        .alias("sb"),
    )
    n, m = F.col("n_a"), F.col("n_b")
    u = n * F.col("sa") + m * F.col("sb")
    tstat = u.cast("double") / (
        n.cast("double") * m.cast("double") * (n + m).cast("double")
    ) - (F.lit(4.0) * n.cast("double") * m.cast("double") - F.lit(1.0)) / (
        F.lit(6.0) * (n + m).cast("double")
    )
    return t.select(
        "n_a",
        "n_b",
        u.alias("u_stat"),
        F.when(
            (n > 0) & (m > 0), F.round(tstat, 6) + F.lit(0.0)
        ).alias("cvm_t"),
    )


def _a_cramer_von_mises_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _CELLS_CTE,
        _PAIR_A,
        _PAIR_B,
    )

    return f"""
WITH {_CELLS_CTE}, two AS (
  SELECT * FROM cells
  WHERE event_type IN ('{_PAIR_A}', '{_PAIR_B}')
), rk AS (
  SELECT event_type,
    CAST(row_number() OVER (ORDER BY cell, event_type, day) AS BIGINT) AS r,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY cell, day)
      AS BIGINT) AS i
  FROM two
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
    CAST(SUM((r - i) * (r - i)) AS BIGINT) AS ssq
  FROM rk GROUP BY 1
), t AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = '{_PAIR_A}' THEN n_g END) AS BIGINT)
      AS n_a,
    CAST(SUM(CASE WHEN event_type = '{_PAIR_B}' THEN n_g END) AS BIGINT)
      AS n_b,
    CAST(SUM(CASE WHEN event_type = '{_PAIR_A}' THEN ssq END) AS BIGINT)
      AS sa,
    CAST(SUM(CASE WHEN event_type = '{_PAIR_B}' THEN ssq END) AS BIGINT)
      AS sb
  FROM g
)
SELECT n_a, n_b, n_a * sa + n_b * sb AS u_stat,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(CAST(n_a * sa + n_b * sb AS DOUBLE)
          / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             * CAST(n_a + n_b AS DOUBLE))
      - (4.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - 1.0)
        / (6.0 * CAST(n_a + n_b AS DOUBLE)), 6) + 0.0
  END AS cvm_t
FROM t
"""


# ------------------------------------------ w_permutation_entropy


def w_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt-Pompe, order 3, tie-aware) of the
    daily close series per event type: each 3-day window is classified
    by the sign pattern of its pairwise comparisons (27 tie-aware
    ordinal codes), and H = ln(N) − Σc·ln(c)/N over the code census —
    the model-free complexity gauge next to the spectral/Hurst
    measures.

    Determinism: codes and counts are exact integers; each c·ln(c)
    enters the fold as round(·10⁶) BIGINT (the micro-ln rule); ONE
    IEEE expression per emitted entropy; normalization by ln(3!) for
    the strict-order ceiling."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir).withColumns(
        {
            "__v0": F.lag("cm", 2).over(_wd()),
            "__v1": F.lag("cm", 1).over(_wd()),
        }
    )
    v0, v1 = F.col("__v0"), F.col("__v1")
    v2 = F.col("cm")
    code = (
        (F.signum((v0 - v1).cast("double")).cast("long") + 1) * 9
        + (F.signum((v0 - v2).cast("double")).cast("long") + 1) * 3
        + (F.signum((v1 - v2).cast("double")).cast("long") + 1)
    )
    w = bars.select(
        "event_type",
        F.when(v0.isNotNull(), code).alias("code"),
    ).where(F.col("code").isNotNull())
    cnt = w.groupBy("event_type", "code").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cln = F.round(
        F.col("c").cast("double") * F.log(F.col("c").cast("double")) * F.lit(1e6),
        0,
    ).cast("long")
    g = cnt.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_windows"),
        F.count(F.lit(1)).cast("long").alias("n_patterns"),
        F.sum(cln).cast("long").alias("s_cln"),
    )
    h = F.log(F.col("n_windows").cast("double")) - F.col(
        "s_cln"
    ).cast("double") / (F.col("n_windows").cast("double") * F.lit(1e6))
    return (
        g.select(
            "event_type",
            "n_windows",
            "n_patterns",
            F.when(
                F.col("n_windows") > 0, F.round(h, 6) + F.lit(0.0)
            ).alias("perm_entropy"),
            F.when(
                F.col("n_windows") > 0,
                F.round(h / F.log(F.lit(6.0)), 6) + F.lit(0.0),
            ).alias("perm_entropy_norm"),
        )
        .orderBy("event_type")
    )


def _w_permutation_entropy_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    h = (
        "ln(CAST(n_windows AS DOUBLE))"
        " - CAST(s_cln AS DOUBLE) / (CAST(n_windows AS DOUBLE) * 1000000.0)"
    )
    return f"""
WITH {DAILY_BARS_CTE}, v AS (
  SELECT event_type,
    lag(cm, 2) OVER d AS v0, lag(cm, 1) OVER d AS v1, cm AS v2
  FROM bars
  WINDOW d AS ({_WD_SQL})
), w AS (
  SELECT event_type,
    (CAST(sign(CAST(v0 - v1 AS DOUBLE)) AS BIGINT) + 1) * 9
    + (CAST(sign(CAST(v0 - v2 AS DOUBLE)) AS BIGINT) + 1) * 3
    + (CAST(sign(CAST(v1 - v2 AS DOUBLE)) AS BIGINT) + 1) AS code
  FROM v WHERE v0 IS NOT NULL
), cnt AS (
  SELECT event_type, code, CAST(COUNT(*) AS BIGINT) AS c
  FROM w GROUP BY 1, 2
), g AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_windows,
    CAST(COUNT(*) AS BIGINT) AS n_patterns,
    CAST(SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
      * 1000000.0) AS BIGINT)) AS BIGINT) AS s_cln
  FROM cnt GROUP BY 1
)
SELECT event_type, n_windows, n_patterns,
  CASE WHEN n_windows > 0 THEN round({h}, 6) + 0.0 END AS perm_entropy,
  CASE WHEN n_windows > 0 THEN round(({h}) / ln(6.0), 6) + 0.0 END
    AS perm_entropy_norm
FROM g
ORDER BY event_type
"""


# --------------------------------------------- w_sample_entropy

_SAMPEN_M = 2  # template length; A extends to m+1


def w_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=2, r=0.2σ) of the daily close series
    per event type: B = template pairs matching at length m, A = at
    m+1 (Chebyshev distance ≤ r), SampEn = −ln(A/B) — the
    regularity/complexity measure complementing permutation entropy
    (amplitude-aware where PE is purely ordinal).

    Determinism: the tolerance never materializes as a float — the
    match predicate is the exact integer inequality 25·d²·n·(n−1) ≤
    Vnum (⟺ d ≤ 0.2σ, Vnum = n·Σx²−(Σx)² exact decimal), so A and B
    are exact counts; ONE IEEE −ln(A/B) per type.

    Scale shape: the pair join runs on the |days|-row DAILY template
    frame per event type (calendar-bounded, never per-event) after
    the bars groupBy reduced the raw stream."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    d = "decimal(38,0)"
    bars = _daily_bars_df(spark, sf_dir)
    stats = bars.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.count(F.lit(1)).cast(d)
            * F.sum(F.col("cm").cast(d) * F.col("cm").cast(d))
            - F.sum(F.col("cm").cast(d)) * F.sum(F.col("cm").cast(d))
        ).alias("vnum"),
    )
    t = bars.select(
        "event_type",
        F.row_number().over(_wd()).cast("long").alias("rn"),
        F.col("cm").alias("x0"),
        F.lead("cm", 1).over(_wd()).alias("x1"),
        F.lead("cm", 2).over(_wd()).alias("x2"),
    ).where(F.col("x2").isNotNull())
    a = t.select(
        "event_type",
        F.col("rn").alias("ri"),
        F.col("x0").alias("a0"),
        F.col("x1").alias("a1"),
        F.col("x2").alias("a2"),
    )
    b = t.select(
        "event_type",
        F.col("rn").alias("rj"),
        F.col("x0").alias("b0"),
        F.col("x1").alias("b1"),
        F.col("x2").alias("b2"),
    )
    pairs = (
        a.join(b, "event_type")
        .where(F.col("ri") < F.col("rj"))
        .join(F.broadcast(stats), "event_type")
    )

    def dmax(cols):
        ds = [F.abs(F.col(f"a{i}") - F.col(f"b{i}")) for i in cols]
        m = ds[0]
        for x in ds[1:]:
            m = F.greatest(m, x)
        return m

    def match(cols):
        dm = dmax(cols).cast(d)
        lhs = (
            F.lit(25).cast(d)
            * dm
            * dm
            * (F.col("n_days") * (F.col("n_days") - 1)).cast(d)
        )
        return lhs <= F.col("vnum")

    g = pairs.groupBy("event_type", "n_days").agg(
        F.sum(F.when(match([0, 1]), 1).otherwise(0))
        .cast("long")
        .alias("b_cnt"),
        F.sum(F.when(match([0, 1, 2]), 1).otherwise(0))
        .cast("long")
        .alias("a_cnt"),
    )
    sampen = -F.log(
        F.col("a_cnt").cast("double") / F.col("b_cnt").cast("double")
    )
    return (
        g.select(
            "event_type",
            "n_days",
            "b_cnt",
            "a_cnt",
            F.when(
                (F.col("a_cnt") > 0) & (F.col("b_cnt") > 0),
                F.round(sampen, 6) + F.lit(0.0),
            ).alias("sampen"),
        )
        .orderBy("event_type")
    )


def _w_sample_entropy_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    def dmax(cols):
        ds = [f"abs(a.x{i} - b.x{i})" for i in cols]
        out = ds[0]
        for x in ds[1:]:
            out = f"greatest({out}, {x})"
        return out

    def match(cols):
        dm = dmax(cols)
        return (
            f"25 * CAST({dm} AS HUGEINT) * {dm}"
            f" * (s.n_days * (s.n_days - 1)) <= s.vnum"
        )

    return f"""
WITH {DAILY_BARS_CTE}, st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(cm AS HUGEINT) * cm)
      - SUM(CAST(cm AS HUGEINT)) * SUM(CAST(cm AS HUGEINT)) AS vnum
  FROM bars GROUP BY 1
), tpl AS (
  SELECT event_type,
    CAST(row_number() OVER ({_WD_SQL}) AS BIGINT) AS rn,
    cm AS x0, lead(cm, 1) OVER ({_WD_SQL}) AS x1,
    lead(cm, 2) OVER ({_WD_SQL}) AS x2
  FROM bars
  QUALIFY x2 IS NOT NULL
), g AS (
  SELECT a.event_type AS event_type, s.n_days AS n_days,
    CAST(SUM(CASE WHEN {match([0, 1])} THEN 1 ELSE 0 END) AS BIGINT)
      AS b_cnt,
    CAST(SUM(CASE WHEN {match([0, 1, 2])} THEN 1 ELSE 0 END) AS BIGINT)
      AS a_cnt
  FROM tpl a
  JOIN tpl b ON a.event_type = b.event_type AND a.rn < b.rn
  JOIN st s ON s.event_type = a.event_type
  GROUP BY 1, 2
)
SELECT event_type, n_days, b_cnt, a_cnt,
  CASE WHEN a_cnt > 0 AND b_cnt > 0 THEN
    round(-ln(CAST(a_cnt AS DOUBLE) / CAST(b_cnt AS DOUBLE)), 6) + 0.0
  END AS sampen
FROM g
ORDER BY event_type
"""


# ------------------------------------------- t_hapax_richness


def t_hapax_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-based lexical richness per source: hapax (V1) and dis
    (V2) legomena shares, Honoré's R = 100·ln(N)/(1 − V1/V) and
    Sichel's S = V2/V — the richness constants complementing Yule's K
    (t_yule_k) on the same token frequency spectrum.

    Determinism: N, V, V1, V2 are exact BIGINTs from the frequency
    census; ONE IEEE expression per emitted constant, Honoré masked
    when V1 = V (all-hapax degeneracy)."""
    from kp_crypto_market_analytics_spark.session import ensure_parallelism

    t = load_tables(spark, sf_dir, ["documents"])
    toks = (
        ensure_parallelism(t["documents"])
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    g = freq.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("v1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("v2"),
    )
    nd = F.col("n_tokens").cast("double")
    vd = F.col("n_types").cast("double")
    v1d = F.col("v1").cast("double")
    honore = F.lit(100.0) * F.log(nd) / (F.lit(1.0) - v1d / vd)
    return (
        g.select(
            "source",
            "n_tokens",
            "n_types",
            "v1",
            "v2",
            F.when(
                F.col("n_types") > 0,
                F.round(v1d / vd, 6) + F.lit(0.0),
            ).alias("hapax_share"),
            F.when(
                F.col("n_types") > 0,
                F.round(F.col("v2").cast("double") / vd, 6) + F.lit(0.0),
            ).alias("sichel_s"),
            F.when(
                (F.col("n_tokens") > 0) & (F.col("v1") < F.col("n_types")),
                F.round(honore, 6) + F.lit(0.0),
            ).alias("honore_r"),
        )
        .orderBy("source")
    )


def _t_hapax_richness_sql() -> str:
    return r"""
WITH toks AS (
  SELECT source, tok
  FROM documents,
    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS u(tok)
  WHERE tok <> ''
), freq AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
  FROM toks GROUP BY 1, 2
), g AS (
  SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
    CAST(COUNT(*) AS BIGINT) AS n_types,
    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
    CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
  FROM freq GROUP BY 1
)
SELECT source, n_tokens, n_types, v1, v2,
  CASE WHEN n_types > 0 THEN
    round(CAST(v1 AS DOUBLE) / CAST(n_types AS DOUBLE), 6) + 0.0
  END AS hapax_share,
  CASE WHEN n_types > 0 THEN
    round(CAST(v2 AS DOUBLE) / CAST(n_types AS DOUBLE), 6) + 0.0
  END AS sichel_s,
  CASE WHEN n_tokens > 0 AND v1 < n_types THEN
    round(100.0 * ln(CAST(n_tokens AS DOUBLE))
      / (1.0 - CAST(v1 AS DOUBLE) / CAST(n_types AS DOUBLE)), 6) + 0.0
  END AS honore_r
FROM g ORDER BY source
"""


# ----------------------------------------------- t_distinct_n


def t_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source (the generation-diversity
    metric of Li et al. 2016 applied corpus-side): distinct-1/2/3 =
    unique n-grams ÷ total n-grams over the whitespace token stream —
    low values flag template/boilerplate-heavy sources before they
    reach a training mix.

    Determinism: n-grams are built from the SAME empty-filtered token
    array on both engines (adjacency after filtering); counts are
    exact BIGINTs; ONE IEEE division per ratio.

    Scale shape: per-document array ops (no window), then a
    map-side-combinable distinct-count per (source, gram); no
    corpus-linear single point."""
    from kp_crypto_market_analytics_spark.session import ensure_parallelism

    t = load_tables(spark, sf_dir, ["documents"])
    docs = ensure_parallelism(t["documents"]).select(
        "source",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda x: x != "",
        ).alias("a"),
    )

    def gram_agg(n: int, expr, alias: str):
        ex = docs.select("source", F.explode(expr).alias("g"))
        return ex.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias(f"n{alias}"),
            F.countDistinct("g").cast("long").alias(f"d{alias}"),
        )

    uni = gram_agg(1, F.col("a"), "1")
    big = gram_agg(
        2,
        F.zip_with(
            F.slice(F.col("a"), 1, F.size("a") - 1),
            F.slice(F.col("a"), 2, F.size("a") - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
        "2",
    )
    tri = gram_agg(
        3,
        F.zip_with(
            F.slice(F.col("a"), 1, F.size("a") - 2),
            F.zip_with(
                F.slice(F.col("a"), 2, F.size("a") - 2),
                F.slice(F.col("a"), 3, F.size("a") - 2),
                lambda x, y: F.concat(x, F.lit(" "), y),
            ),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
        "3",
    )
    g = uni.join(big, "source").join(tri, "source")

    def ratio(alias: str):
        return F.when(
            F.col(f"n{alias}") > 0,
            F.round(
                F.col(f"d{alias}").cast("double") / F.col(f"n{alias}"), 6
            )
            + F.lit(0.0),
        ).alias(f"distinct_{alias}")

    return (
        g.select(
            "source",
            F.col("n1").alias("n_tokens"),
            ratio("1"),
            ratio("2"),
            ratio("3"),
        )
        .orderBy("source")
    )


def _t_distinct_n_sql() -> str:
    return r"""
WITH docs AS (
  SELECT source,
    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x <> '') AS a
  FROM documents
), uni AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n1,
    CAST(COUNT(DISTINCT g) AS BIGINT) AS d1
  FROM (SELECT source, unnest(a) AS g FROM docs) GROUP BY 1
), big AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n2,
    CAST(COUNT(DISTINCT g) AS BIGINT) AS d2
  FROM (
    SELECT source, a[i] || ' ' || a[i + 1] AS g
    FROM (SELECT source, a, unnest(generate_series(1, len(a) - 1)) AS i
          FROM docs)
  ) GROUP BY 1
), tri AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n3,
    CAST(COUNT(DISTINCT g) AS BIGINT) AS d3
  FROM (
    SELECT source, a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS g
    FROM (SELECT source, a, unnest(generate_series(1, len(a) - 2)) AS i
          FROM docs)
  ) GROUP BY 1
)
SELECT source, n1 AS n_tokens,
  CASE WHEN n1 > 0 THEN round(CAST(d1 AS DOUBLE) / n1, 6) + 0.0 END
    AS distinct_1,
  CASE WHEN n2 > 0 THEN round(CAST(d2 AS DOUBLE) / n2, 6) + 0.0 END
    AS distinct_2,
  CASE WHEN n3 > 0 THEN round(CAST(d3 AS DOUBLE) / n3, 6) + 0.0 END
    AS distinct_3
FROM uni JOIN big USING (source) JOIN tri USING (source)
ORDER BY source
"""


# --------------------------------- embedding geometry (shared core)
#
# Integer covariance core for the two spectral-free geometry gauges
# below: embeddings are micro-quantized per coordinate (×10⁶ BIGINT),
# raw moments fold exactly (the e_covariance nested-transform shape —
# per-row upper-triangle products, no row-shaped shuffle), and the
# covariance cell surfaces as the exact pico-unit integer
# c = ⌊(n·Σxᵢxⱼ − Σxᵢ·Σxⱼ)/n²⌉ — so Frobenius/trace functionals are
# integer folds and each query ends in ONE IEEE expression.

_EMB_D = 64


def _cov_pico_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, c) upper-triangle (1-based, i<=j) pico-quantized
    covariance cells of the micro-quantized embedding corpus."""
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away
    from kp_crypto_market_analytics_spark.session import ensure_parallelism

    d = "decimal(38,0)"
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = ensure_parallelism(t["embeddings"]).select(
        F.transform(
            F.col("embedding"),
            lambda v: F.round(v.cast("double") * F.lit(1e6), 0).cast("long"),
        ).alias("x")
    )
    tri = F.flatten(
        F.transform(
            F.col("x"),
            lambda xi, i: F.transform(
                F.slice(F.col("x"), i + 1, F.lit(_EMB_D) - i),
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
        .agg(F.sum(F.col("p").cast(d)).alias("sij"))
    )
    si = (
        emb.select(F.posexplode("x").alias("i", "xi"))
        .groupBy("i")
        .agg(F.sum(F.col("xi").cast(d)).alias("si"))
    )
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cnum = (
        F.col("n").cast(d) * F.col("sij") - F.col("s_a") * F.col("s_b")
    )
    return (
        sij.join(si.select(F.col("i"), F.col("si").alias("s_a")), "i")
        .join(si.select(F.col("i").alias("j"), F.col("si").alias("s_b")), "j")
        .crossJoin(F.broadcast(n))
        .select(
            (F.col("i") + 1).alias("i"),
            (F.col("j") + 1).alias("j"),
            F.col("n"),
            _half_away(cnum, (F.col("n") * F.col("n")).cast(d)).alias("c"),
        )
    )


def _cov_pico_cte() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    c = _sql_half_away("n * sij - sa * sb", "n * n")
    return f"""e AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
           v -> CAST(round(v * 1000000) AS BIGINT)) AS x
  FROM embeddings
), idx AS (
  SELECT x, unnest(generate_series(1, {_EMB_D})) AS i FROM e
), prs AS (
  SELECT i, unnest(generate_series(i, {_EMB_D})) AS j, x FROM idx
), sij AS (
  SELECT i, j, SUM(CAST(x[i] AS HUGEINT) * x[j]) AS sij
  FROM prs GROUP BY 1, 2
), si AS (
  SELECT i, SUM(CAST(x[i] AS HUGEINT)) AS si FROM idx GROUP BY 1
), nn AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM e
), cp AS (
  SELECT s.i AS i, s.j AS j, CAST(n AS BIGINT) AS n, {c} AS c
  FROM (SELECT i, j, sij FROM sij) s
  JOIN (SELECT i, si AS sa FROM si) a USING (i)
  JOIN (SELECT i AS j, si AS sb FROM si) b USING (j)
  CROSS JOIN nn
)"""


def e_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio (effective dimensionality) of the embedding
    corpus WITHOUT an eigendecomposition: PR = tr(C)²/tr(C²) via the
    trace identities tr(C) = Σᵢcᵢᵢ and tr(C²) = ΣᵢⱼcᵢⱼΣ² (symmetric:
    diagonal once, off-diagonal twice) — the spectral-flatness scalar
    next to e_isotropy's direction census (PR = d ⟺ isotropic,
    PR → 1 ⟺ rank-collapse).

    Determinism: covariance cells are exact pico integers (module
    core); both traces fold as integers/decimals; PR and the shares
    are single IEEE expressions."""
    cp = _cov_pico_df(spark, sf_dir)
    d = "decimal(38,0)"
    t = cp.groupBy("n").agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("c")))
        .cast("long")
        .alias("trc"),
        F.sum(
            F.when(
                F.col("i") == F.col("j"),
                F.col("c").cast(d) * F.col("c").cast(d),
            ).otherwise(
                F.lit(2).cast(d) * F.col("c").cast(d) * F.col("c").cast(d)
            )
        ).alias("trc2"),
    )
    pr = (F.col("trc").cast("double") * F.col("trc").cast("double")) / F.col(
        "trc2"
    ).cast("double")
    return t.select(
        F.col("n").alias("n_vectors"),
        F.lit(_EMB_D).cast("long").alias("dim"),
        F.round(F.col("trc").cast("double") / F.lit(1e12), 6).alias(
            "trace_cov"
        ),
        F.when(F.col("trc2") > 0, F.round(pr, 6) + F.lit(0.0)).alias(
            "participation_ratio"
        ),
        F.when(
            F.col("trc2") > 0,
            F.round(pr / F.lit(float(_EMB_D)), 6) + F.lit(0.0),
        ).alias("isotropy_share"),
    )


def _e_participation_ratio_sql() -> str:
    pr = (
        "(CAST(trc AS DOUBLE) * CAST(trc AS DOUBLE)) / CAST(trc2 AS DOUBLE)"
    )
    return f"""
WITH {_cov_pico_cte()}, t AS (
  SELECT n,
    CAST(SUM(CASE WHEN i = j THEN c END) AS BIGINT) AS trc,
    SUM(CASE WHEN i = j THEN CAST(c AS HUGEINT) * c
        ELSE 2 * CAST(c AS HUGEINT) * c END) AS trc2
  FROM cp GROUP BY 1
)
SELECT n AS n_vectors, CAST({_EMB_D} AS BIGINT) AS dim,
  round(CAST(trc AS DOUBLE) / 1000000000000.0, 6) AS trace_cov,
  CASE WHEN trc2 > 0 THEN round({pr}, 6) + 0.0 END
    AS participation_ratio,
  CASE WHEN trc2 > 0 THEN round(({pr}) / {float(_EMB_D)}, 6) + 0.0 END
    AS isotropy_share
FROM t
"""


# ------------------------------------------------------- e_cka

_CKA_SPLIT = _EMB_D // 2


def e_cka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA between the two embedding half-spaces (dims 1..32 vs
    33..64): CKA = ‖C_xy‖²_F / (‖C_xx‖_F·‖C_yy‖_F) over centered
    covariance blocks — the representation-similarity standard
    (Kornblith et al. 2019) computed feature-side, so it needs no
    n×n Gram matrix.

    Determinism: block Frobenius norms fold the exact pico covariance
    integers (diagonal once, off-diagonal twice inside each symmetric
    block; the cross block is complete in the upper triangle); CKA is
    ONE IEEE expression."""
    cp = _cov_pico_df(spark, sf_dir)
    d = "decimal(38,0)"
    s = _CKA_SPLIT
    c2 = F.col("c").cast(d) * F.col("c").cast(d)
    sym = F.when(F.col("i") == F.col("j"), c2).otherwise(F.lit(2).cast(d) * c2)
    t = cp.groupBy("n").agg(
        F.sum(F.when((F.col("i") <= s) & (F.col("j") > s), c2)).alias("hxy"),
        F.sum(F.when(F.col("j") <= s, sym)).alias("hxx"),
        F.sum(F.when(F.col("i") > s, sym)).alias("hyy"),
    )
    cka = F.col("hxy").cast("double") / F.sqrt(
        F.col("hxx").cast("double") * F.col("hyy").cast("double")
    )
    return t.select(
        F.col("n").alias("n_vectors"),
        F.lit(s).cast("long").alias("dim_split"),
        F.when(
            (F.col("hxx") > 0) & (F.col("hyy") > 0),
            F.round(cka, 6) + F.lit(0.0),
        ).alias("cka_linear"),
    )


def _e_cka_sql() -> str:
    s = _CKA_SPLIT
    return f"""
WITH {_cov_pico_cte()}, t AS (
  SELECT n,
    SUM(CASE WHEN i <= {s} AND j > {s}
        THEN CAST(c AS HUGEINT) * c END) AS hxy,
    SUM(CASE WHEN j <= {s} THEN
      CASE WHEN i = j THEN CAST(c AS HUGEINT) * c
           ELSE 2 * CAST(c AS HUGEINT) * c END END) AS hxx,
    SUM(CASE WHEN i > {s} THEN
      CASE WHEN i = j THEN CAST(c AS HUGEINT) * c
           ELSE 2 * CAST(c AS HUGEINT) * c END END) AS hyy
  FROM cp GROUP BY 1
)
SELECT n AS n_vectors, CAST({s} AS BIGINT) AS dim_split,
  CASE WHEN hxx > 0 AND hyy > 0 THEN
    round(CAST(hxy AS DOUBLE)
          / sqrt(CAST(hxx AS DOUBLE) * CAST(hyy AS DOUBLE)), 6) + 0.0
  END AS cka_linear
FROM t
"""


# ------------------------------------- g_bipartite_projection


def g_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-purchase projection: project the order↔part
    bipartite graph onto parts — edge weight = number of orders in
    which the two parts co-occur — and emit the 20 heaviest
    co-purchase edges (weight desc, part-id tiebreak).  The
    market-basket graph primitive under g_assoc_rules' rule mining.

    Determinism: weights are exact distinct-order counts; ordering is
    fully keyed.

    Scale shape: pair generation is per-order (line counts are
    bounded per order, so the expansion is linear in lineitem); the
    weight aggregation shuffles on the (p1, p2) pair key with map-side
    combine, and the top-20 is a distributed TakeOrdered — no global
    sort materializes."""
    from kp_crypto_market_analytics_spark.operators.copurchase import (
        copurchase_pairs_for_topk,
    )

    # r11 optimization (guide §2.4): the projection IS the shared
    # session-materialized co-purchase pair table (same distinct →
    # self-join → count arithmetic), so read it instead of re-running
    # the lineitem self-join.  The materialization keeps only support
    # >= 2 edges; r12 makes the filtered-equals-unfiltered top-20
    # equivalence STRUCTURAL instead of per-SF-asserted: the helper's
    # saturation guard falls back to the unfiltered build whenever
    # fewer than 20 edges survive the filter (see
    # copurchase_pairs_for_topk; the cross-engine oracle replays the
    # UNFILTERED weights and stays byte-identical).
    pairs = copurchase_pairs_for_topk(spark, sf_dir, 20)
    return (
        pairs.orderBy(
            F.col("support").desc(), F.col("u").asc(), F.col("v").asc()
        )
        .limit(20)
        .select(
            F.col("u").alias("part1"),
            F.col("v").alias("part2"),
            F.col("support").cast("long").alias("n_orders"),
        )
    )


def _g_bipartite_projection_sql() -> str:
    return """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
), w AS (
  SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM pairs GROUP BY 1, 2
)
SELECT p1 AS part1, p2 AS part2, n_orders
FROM w
ORDER BY n_orders DESC, p1 ASC, p2 ASC
LIMIT 20
"""


# --------------------------------------------- dq_fd_discovery

# (table, determinant, dependent) candidates: two genuine keys that
# must hold, four plausible-but-false dependencies whose violation
# rates profile the schema.
_FD_CANDIDATES = (
    ("customer", "c_custkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_returnflag"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("part", "p_brand", "p_type"),
)


def dq_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over a fixed candidate set: for
    each det→dep candidate, the count of determinant values, the
    count VIOLATING the dependency (>1 distinct dependent), the
    violation rate, and whether the FD holds — the schema-rule
    discovery pass next to dq_fk_discovery's key census.

    Determinism: counts are exact; rate is one IEEE division.

    Scale shape: each candidate is a two-level map-side-combinable
    aggregate on (det) — no joins, unioned as independent branches."""
    from kp_crypto_market_analytics_spark.session import ensure_parallelism

    tables = sorted({t for t, _, _ in _FD_CANDIDATES})
    loaded = load_tables(spark, sf_dir, tables)
    out = None
    for tbl, det, dep in _FD_CANDIDATES:
        g = (
            ensure_parallelism(loaded[tbl])
            .groupBy(F.col(det).alias("k"))
            .agg(F.countDistinct(dep).alias("n_dep"))
        )
        r = g.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(det).alias("det"),
            F.lit(dep).alias("dep"),
            F.count(F.lit(1)).cast("long").alias("n_det"),
            F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
        )
        out = r if out is None else out.unionByName(r)
    return out.select(
        "tbl",
        "det",
        "dep",
        "n_det",
        "n_violating",
        F.when(
            F.col("n_det") > 0,
            F.round(
                F.col("n_violating").cast("double") / F.col("n_det"), 6
            )
            + F.lit(0.0),
        ).alias("violation_rate"),
        (F.col("n_violating") == 0).alias("fd_holds"),
    ).orderBy("tbl", "det", "dep")


def _dq_fd_discovery_sql() -> str:
    branches = []
    for tbl, det, dep in _FD_CANDIDATES:
        branches.append(f"""
  SELECT '{tbl}' AS tbl, '{det}' AS det, '{dep}' AS dep,
    CAST(COUNT(*) AS BIGINT) AS n_det,
    CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_violating
  FROM (SELECT {det} AS k, COUNT(DISTINCT {dep}) AS n_dep
        FROM {tbl} GROUP BY 1)""")
    u = "\n  UNION ALL\n".join(branches)
    return f"""
WITH b AS (
{u}
)
SELECT tbl, det, dep, n_det, n_violating,
  CASE WHEN n_det > 0 THEN
    round(CAST(n_violating AS DOUBLE) / n_det, 6) + 0.0
  END AS violation_rate,
  n_violating = 0 AS fd_holds
FROM b
ORDER BY tbl, det, dep
"""


REGISTRY = (
    (ti_ultimate_oscillator, _ti_ultimate_oscillator_sql()),
    (ti_awesome_oscillator, _ti_awesome_oscillator_sql()),
    (ti_kst, _ti_kst_sql()),
    (ti_pivot_points, _ti_pivot_points_sql()),
    (ti_choppiness, _ti_choppiness_sql()),
    (ti_bop, _ti_bop_sql()),
    (a_bartlett, _a_bartlett_sql()),
    (a_jonckheere_terpstra, _a_jonckheere_terpstra_sql()),
    (a_cochran_armitage, _a_cochran_armitage_sql()),
    (a_odds_ratio, _a_odds_ratio_sql()),
    (a_chow_test, _a_chow_test_sql()),
    (a_breusch_pagan, _a_breusch_pagan_sql()),
    (a_dagostino_k2, _a_dagostino_k2_sql()),
    (a_cramer_von_mises, _a_cramer_von_mises_sql()),
    (w_permutation_entropy, _w_permutation_entropy_sql()),
    (w_sample_entropy, _w_sample_entropy_sql()),
    (t_hapax_richness, _t_hapax_richness_sql()),
    (t_distinct_n, _t_distinct_n_sql()),
    (e_participation_ratio, _e_participation_ratio_sql()),
    (e_cka, _e_cka_sql()),
    (g_bipartite_projection, _g_bipartite_projection_sql()),
    (dq_fd_discovery, _dq_fd_discovery_sql()),
)
