"""Round-7 registry queries: leakage-safe dataset splitting, domain
mixture weights, tokenizer fertility, column profiling, sweep-line
concurrency, truncated EWMA, n-gram novelty, HITS.

Extension operators for the LLM-data-pipeline north star
(BASELINE.json): the reference engine ends at market analytics; a
100 TB training-data pipeline additionally needs the split/mixture/
profiling primitives here.  Every query carries an exact DuckDB
oracle (same column names, exact-integer or micro-rounded arithmetic)
and follows the repo's determinism recipes (hash64 for cross-engine
hashing, round_mean_micro for mean shapes, no row-at-a-time UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.aggregates import (
    round_mean_micro,
    sql_round_mean_micro,
)
from kp_crypto_market_analytics_spark.session import (
    ensure_parallelism,
    load_tables,
)

H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"
NORM_TEXT_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

# 98/1/1 split quotas in bucket space (standard LLM pretraining split)
_SPLIT_TRAIN_LT = 98
_SPLIT_VAL_EQ = 98


def _norm_text() -> F.Column:
    return F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))


def _split_of(bucket: F.Column) -> F.Column:
    return (
        F.when(bucket < _SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket == _SPLIT_VAL_EQ, F.lit("val"))
        .otherwise(F.lit("test"))
    )


_SPLIT_SQL = (
    f"CASE WHEN bucket < {_SPLIT_TRAIN_LT} THEN 'train' "
    f"WHEN bucket = {_SPLIT_VAL_EQ} THEN 'val' ELSE 'test' END"
)


def _cluster_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, split, ntok): every document labeled with
    its near-dup connected-component cluster and the CLUSTER-keyed
    split assignment — all members of a near-dup family land in the
    same split, so no train/test contamination can cross a dedup
    edge.  Shares the session-materialized capped-Jaccard pair graph
    with dedup_clusters/dedup_canonical (built once per session)."""
    from kp_crypto_market_analytics_spark.functions.text import hash64
    from kp_crypto_market_analytics_spark.operators.dedup import (
        cluster_labels_materialized,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    labels = cluster_labels_materialized(spark, sf_dir)
    bucket = hash64(
        F.concat(F.col("cluster_id").cast("string"), F.lit("#split"))
    ) % 100
    return (
        d.select("doc_id", F.size(F.split(_norm_text(), " ")).alias("ntok"))
        .join(labels, "doc_id")
        .withColumn("split", _split_of(bucket))
    )


def t_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (98/1/1): the split key is
    the near-dup CLUSTER id, not the document — near-duplicates of a
    training document can never land in val/test (the contamination
    class Lee et al. 2022 'Deduplicating Training Data' measures).
    Per split: clusters, documents, whitespace tokens, and the exact
    half-away document share in ppm.

    Determinism: the bucket is the portable 60-bit md5 hash of the
    cluster id (hash64), mod 100 — both engines compute the identical
    integer; shares are exact integer half-away division.

    Scale shape: reuses the session-materialized pair graph +
    O(diameter) label propagation (the dedup family's plan); the
    split itself adds one hash, one broadcastable |splits|-row total,
    and a 3-row agg — nothing new shuffles at corpus scale."""
    s = _cluster_splits(spark, sf_dir)
    tot = s.agg(F.count(F.lit(1)).alias("t_docs"))
    agg = s.groupBy("split").agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("n_tokens"),
    )
    share = F.call_function(
        "div",
        F.lit(2) * F.col("n_docs") * F.lit(1_000_000) + F.col("t_docs"),
        F.lit(2) * F.col("t_docs"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "split",
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            share.cast("long").alias("doc_share_ppm"),
        )
        .orderBy("split")
    )


def _t_train_split_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import _CLUSTER_CTES

    h = H60.format(x="CAST(cluster_id AS VARCHAR) || '#split'")
    return f"""
{_CLUSTER_CTES}, b AS (
  SELECT l.doc_id, l.cluster_id, {h} % 100 AS bucket,
    len(string_split({NORM_TEXT_SQL}, ' ')) AS ntok
  FROM labeled l JOIN documents USING (doc_id)
), s AS (
  SELECT cluster_id, ntok, {_SPLIT_SQL} AS split FROM b
), tot AS (SELECT COUNT(*) AS t_docs FROM s)
SELECT split,
  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
  CAST((2 * COUNT(*) * 1000000 + t_docs) // (2 * t_docs) AS BIGINT)
    AS doc_share_ppm
FROM s CROSS JOIN tot
GROUP BY split, t_docs ORDER BY split
"""


def t_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-contamination audit: how many near-dup pairs CROSS a
    split boundary under (a) the cluster-keyed split (0 by
    construction — the property t_train_split exists to provide) and
    (b) a naive per-document hash split (the baseline every pipeline
    starts from, where ~4% of dup pairs leak into eval).  One row:
    pair count, both leak counts, dup-cluster census.

    The DuckDB oracle recomputes the identical construction, so the
    gate proves engine agreement; the invariant leaked_cluster = 0 is
    additionally pinned by a pytest floor (audit-query rule)."""
    from kp_crypto_market_analytics_spark.functions.text import hash64
    from kp_crypto_market_analytics_spark.operators.dedup import (
        capped_jaccard_pairs_materialized,
    )

    s = _cluster_splits(spark, sf_dir)
    doc_bucket = hash64(
        F.concat(F.col("doc_id").cast("string"), F.lit("#docsplit"))
    ) % 100
    assign = s.select(
        "doc_id",
        "cluster_id",
        F.col("split").alias("c_split"),
        _split_of(doc_bucket).alias("d_split"),
    ).localCheckpoint(eager=True)
    pairs = capped_jaccard_pairs_materialized(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    a = assign.select(
        F.col("doc_id").alias("doc_a"),
        F.col("c_split").alias("ca"),
        F.col("d_split").alias("da"),
    )
    b = assign.select(
        F.col("doc_id").alias("doc_b"),
        F.col("c_split").alias("cb"),
        F.col("d_split").alias("db"),
    )
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    leak = j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.col("ca") != F.col("cb"), F.lit(1)).otherwise(F.lit(0))
        ).alias("leaked_cluster_split"),
        F.sum(
            F.when(F.col("da") != F.col("db"), F.lit(1)).otherwise(F.lit(0))
        ).alias("leaked_doc_split"),
    )
    cl = assign.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    census = cl.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.when(F.col("sz") > 1, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_dup_clusters"
        ),
    )
    return leak.crossJoin(F.broadcast(census)).select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("leaked_cluster_split").cast("long").alias(
            "leaked_cluster_split"
        ),
        F.col("leaked_doc_split").cast("long").alias("leaked_doc_split"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        F.col("n_dup_clusters").cast("long").alias("n_dup_clusters"),
    )


def _t_split_leakage_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import _CLUSTER_CTES

    hc = H60.format(x="CAST(cluster_id AS VARCHAR) || '#split'")
    hd = H60.format(x="CAST(doc_id AS VARCHAR) || '#docsplit'")
    return f"""
{_CLUSTER_CTES}, assign AS (
  SELECT doc_id, cluster_id, c_split, d_split FROM (
    SELECT doc_id, cluster_id,
      (SELECT {_SPLIT_SQL} FROM (SELECT {hc} % 100 AS bucket)) AS c_split,
      (SELECT {_SPLIT_SQL} FROM (SELECT {hd} % 100 AS bucket)) AS d_split
    FROM labeled
  )
), leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(SUM(CASE WHEN a.c_split <> b.c_split THEN 1 ELSE 0 END) AS BIGINT)
      AS leaked_cluster_split,
    CAST(SUM(CASE WHEN a.d_split <> b.d_split THEN 1 ELSE 0 END) AS BIGINT)
      AS leaked_doc_split
  FROM edges e JOIN assign a ON a.doc_id = e.doc_a
    JOIN assign b ON b.doc_id = e.doc_b
), census AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
    CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_dup_clusters
  FROM (SELECT cluster_id, COUNT(*) AS sz FROM assign GROUP BY 1)
)
SELECT n_pairs, leaked_cluster_split, leaked_doc_split,
  n_clusters, n_dup_clusters
FROM leak CROSS JOIN census
"""


def t_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling weights: per source, the
    temperature-scaled weight w = sqrt(tokens) (α = 0.5 — the
    multilingual up-sampling rule of Conneau & Lample 2019, public)
    with its normalized share and the oversample factor vs natural
    token share — the table a data-loader mixes batches from.

    Determinism: sqrt is correctly-rounded IEEE on both engines;
    weights round to 6 dp and sum as exact DECIMAL(18,6) so the
    normalizer is order-independent; token shares are exact integer
    half-away ppm.

    Scale shape: one token-count agg per source (map-side combined,
    |sources| rows), one broadcast 1-row total — constant exchange
    width at any corpus size."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(_norm_text(), " "))).alias("n_tokens"),
    )
    w = F.round(F.sqrt(F.col("n_tokens").cast("double")), 6)
    weighted = per_src.withColumn("w", w.cast("decimal(18,6)"))
    tot = weighted.agg(
        F.sum("w").alias("t_w"), F.sum("n_tokens").alias("t_tok")
    )
    tok_share = F.call_function(
        "div",
        F.lit(2) * F.col("n_tokens") * F.lit(1_000_000) + F.col("t_tok"),
        F.lit(2) * F.col("t_tok"),
    )
    w_share = F.round(
        F.col("w").cast("double") / F.col("t_w").cast("double"), 6
    )
    oversample = F.round(
        F.col("w").cast("double")
        * F.col("t_tok").cast("double")
        / (F.col("t_w").cast("double") * F.col("n_tokens").cast("double")),
        6,
    )
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("w").cast("double").alias("weight"),
            w_share.alias("weight_share"),
            tok_share.cast("long").alias("token_share_ppm"),
            oversample.alias("oversample"),
        )
        .orderBy("source")
    )


T_MIX_WEIGHTS_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len(string_split({NORM_TEXT_SQL}, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), weighted AS (
  SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6))
    AS w
  FROM per_src
), tot AS (
  SELECT CAST(SUM(w) AS DECIMAL(18,6)) AS t_w,
    CAST(SUM(n_tokens) AS BIGINT) AS t_tok
  FROM weighted
)
SELECT source, n_docs, n_tokens,
  CAST(w AS DOUBLE) AS weight,
  round(CAST(w AS DOUBLE) / CAST(t_w AS DOUBLE), 6) AS weight_share,
  CAST((2 * n_tokens * 1000000 + t_tok) // (2 * t_tok) AS BIGINT)
    AS token_share_ppm,
  round(CAST(w AS DOUBLE) * CAST(t_tok AS DOUBLE)
    / (CAST(t_w AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6) AS oversample
FROM weighted CROSS JOIN tot
ORDER BY source
"""


def t_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile per language: bytes/chars/words and
    the exact ratios (chars per word, bytes per word, bytes per char)
    — the table a tokenizer evaluation reads to spot languages the
    vocab under-serves (fertility spikes → more tokens per word →
    higher serving cost).

    Determinism: counts are exact integers (octet_length on raw text,
    length on raw text, whitespace words on normalized text); ratios
    go through the exact micro half-away division (round_mean_micro).

    Scale shape: pure per-language agg with map-side partials — one
    |langs|-row exchange regardless of corpus size."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(_norm_text(), " "))).alias("n_words"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(F.octet_length("text")).alias("n_bytes"),
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        round_mean_micro(
            F.col("n_chars").cast("decimal(18,6)"), F.col("n_words")
        ).alias("chars_per_word"),
        round_mean_micro(
            F.col("n_bytes").cast("decimal(18,6)"), F.col("n_words")
        ).alias("bytes_per_word"),
        round_mean_micro(
            F.col("n_bytes").cast("decimal(18,6)"), F.col("n_chars")
        ).alias("bytes_per_char"),
    ).orderBy("lang")


T_TOKENIZER_FERTILITY_SQL = f"""
WITH agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len(string_split({NORM_TEXT_SQL}, ' '))) AS BIGINT) AS n_words,
    CAST(SUM(length(text)) AS BIGINT) AS n_chars,
    CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_words, n_chars, n_bytes,
  {sql_round_mean_micro("CAST(n_chars AS DECIMAL(18,6))", "n_words")}
    AS chars_per_word,
  {sql_round_mean_micro("CAST(n_bytes AS DECIMAL(18,6))", "n_words")}
    AS bytes_per_word,
  {sql_round_mean_micro("CAST(n_bytes AS DECIMAL(18,6))", "n_chars")}
    AS bytes_per_char
FROM agg ORDER BY lang
"""


# column kinds for dq_column_profile: (name, numeric?)
_PROFILE_COLS = [
    ("event_id", True),
    ("user_id", True),
    ("event_type", False),
    ("value", True),
    ("props", False),
]


def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profile of the events table: null count,
    exact distinct count, numeric min/max for numeric columns and
    lexicographic min/max for string columns — the first screen every
    data-quality tool shows, computed in ONE scan.

    Scale shape: a single aggregate over the table computes all 5×4
    metrics (Spark expands multi-distinct internally with partial
    aggregation); the unpivot to one-row-per-column happens on the
    1-row aggregate, not on data.  Exchange width: one row."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, numeric in _PROFILE_COLS:
        aggs += [
            F.count(name).alias(f"nn_{name}"),
            F.countDistinct(name).alias(f"nd_{name}"),
            F.min(name).alias(f"mn_{name}"),
            F.max(name).alias(f"mx_{name}"),
        ]
    one = e.agg(*aggs)
    entries = []
    for name, numeric in _PROFILE_COLS:
        entries.append(
            F.struct(
                F.lit(name).alias("column_name"),
                (F.col("n_rows") - F.col(f"nn_{name}"))
                .cast("long")
                .alias("n_null"),
                F.col(f"nd_{name}").cast("long").alias("n_distinct"),
                (
                    F.col(f"mn_{name}").cast("double")
                    if numeric
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"mx_{name}").cast("double")
                    if numeric
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (
                    F.col(f"mn_{name}").cast("string")
                    if not numeric
                    else F.lit(None).cast("string")
                ).alias("min_str"),
                (
                    F.col(f"mx_{name}").cast("string")
                    if not numeric
                    else F.lit(None).cast("string")
                ).alias("max_str"),
            )
        )
    return (
        one.select(
            F.col("n_rows").cast("long").alias("n_rows"),
            F.explode(F.array(*entries)).alias("e"),
        )
        .select("e.column_name", "n_rows", "e.n_null", "e.n_distinct",
                "e.min_num", "e.max_num", "e.min_str", "e.max_str")
        .orderBy("column_name")
    )


def _dq_column_profile_sql() -> str:
    parts = []
    for name, numeric in _PROFILE_COLS:
        mn = (
            f"CAST(MIN({name}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        )
        mx = (
            f"CAST(MAX({name}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        )
        ms = (
            "CAST(NULL AS VARCHAR)" if numeric else f"CAST(MIN({name}) AS VARCHAR)"
        )
        xs = (
            "CAST(NULL AS VARCHAR)" if numeric else f"CAST(MAX({name}) AS VARCHAR)"
        )
        parts.append(
            f"SELECT '{name}' AS column_name,"
            f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_null,"
            f" CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_num, {mx} AS max_num,"
            f" {ms} AS min_str, {xs} AS max_str"
            f" FROM events"
        )
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


# ------------------------------------------------------ w_ewma_truncated

_EWMA_LAGS = 8  # alpha = 0.5 -> weights 2^(7-j)/255, exact rationals


def w_ewma_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average per event type:
    the 8-lag normalized EWMA with α = 1/2 — smoothing weights
    2^(7−j)/255 are EXACT rationals, so the infinite-memory recurrence
    (engine-hostile: order-dependent, unparallelizable) becomes a
    fixed-depth window fold both engines compute bit-identically.
    Daily rollup per type: window count, mean EWMA, and the
    day's closing EWMA.

    Determinism: the weighted numerator folds as exact
    DECIMAL × 2-power integers; /255 is the exact half-away micro
    division; the daily mean re-folds the micro integers (never
    doubles).  Closing value via max_by on the unique (ts, event_id)
    order.

    Scale shape: ONE per-type window sort (the indicator family's
    shared exchange), 8 lags inside it, then a (type, day) agg with
    map-side partials."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    px = F.col("value").cast("decimal(18,6)")
    lagged = t["events"].select(
        "event_type",
        "ts",
        "event_id",
        px.alias("x0"),
        *[F.lag(px, j).over(w).alias(f"x{j}") for j in range(1, _EWMA_LAGS)],
    )
    full = lagged.where(F.col(f"x{_EWMA_LAGS - 1}").isNotNull())
    num = sum(
        (F.col(f"x{j}") * F.lit(1 << (_EWMA_LAGS - 1 - j)))
        for j in range(_EWMA_LAGS)
    )
    # ewma in exact micro units: round(num/255 * 1e6) half-away
    micro = (num.cast("decimal(28,6)") * F.lit(1_000_000)).cast(
        "decimal(38,0)"
    )
    num2 = F.lit(2) * micro + F.lit(255)
    ewma_u = F.call_function("div", num2, F.lit(2 * 255)).cast("long")
    daily = (
        full.withColumn("eu", ewma_u)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("eu").alias("su"),
            F.max_by("eu", F.struct("ts", "event_id")).alias("lu"),
        )
    )
    mean_u = F.call_function(
        "div",
        F.lit(2) * F.col("su") + F.col("n_windows"),
        F.lit(2) * F.col("n_windows"),
    )
    return daily.select(
        "event_type",
        "day",
        F.col("n_windows").cast("long").alias("n_windows"),
        (mean_u / F.lit(1_000_000.0)).alias("mean_ewma"),
        (F.col("lu") / F.lit(1_000_000.0)).alias("close_ewma"),
    ).orderBy("event_type", "day")


def _w_ewma_sql() -> str:
    lags = ", ".join(
        f"lag(px, {j}) OVER (PARTITION BY event_type ORDER BY ts, event_id)"
        f" AS x{j}"
        for j in range(1, _EWMA_LAGS)
    )
    num = " + ".join(
        f"x{j} * {1 << (_EWMA_LAGS - 1 - j)}" for j in range(_EWMA_LAGS)
    )
    return f"""
WITH base AS (
  SELECT event_type, ts, event_id, CAST(value AS DECIMAL(18,6)) AS px
  FROM events
), lagged AS (
  SELECT event_type, ts, event_id, px AS x0, {lags} FROM base
), full_w AS (
  SELECT *, CAST(({num}) AS DECIMAL(28,6)) AS num
  FROM lagged WHERE x{_EWMA_LAGS - 1} IS NOT NULL
), micro AS (
  SELECT event_type, ts, event_id, CAST(ts AS DATE) AS day,
    CAST((2 * CAST(num * 1000000 AS HUGEINT) + 255) // 510 AS BIGINT) AS eu
  FROM full_w
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type, day ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM micro
), daily AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_windows,
    CAST(SUM(eu) AS BIGINT) AS su,
    CAST(MAX(CASE WHEN rn = 1 THEN eu END) AS BIGINT) AS lu
  FROM ranked GROUP BY 1, 2
)
SELECT event_type, day, n_windows,
  ((2 * su + n_windows) // (2 * n_windows)) / 1000000.0 AS mean_ewma,
  lu / 1000000.0 AS close_ewma
FROM daily ORDER BY event_type, day
"""


# ------------------------------------------------------- t_ngram_novelty


def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: for each document, the fraction of
    its DISTINCT 4-char shingles whose globally-first occurrence (min
    doc_id) is this document — high novelty = fresh content, low =
    boilerplate recombination.  The curation signal dataset builders
    rank crawl snapshots by.  Per source: docs, distinct shingles
    owned, exact mean novelty in ppm.

    Determinism: novelty is an exact integer ppm per doc (half-away
    div) and the per-source mean re-folds those integers — no doubles
    until the final display division.

    Scale shape: shingle explode → (shingle → min doc) agg (map-side
    combined) → join back on shingle — the inverted-index shape the
    dedup family already scales; no window, no single partition."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    from kp_crypto_market_analytics_spark.functions.text import (
        char_shingles,
    )

    # ONE shingle explode instead of two (r11 optimization, guide
    # §2.3/§2.4): the old shape fed `sets` to the min-doc agg AND
    # joined it back per doc, re-executing the explode.  n_sh is just
    # size(array_distinct(shingles)) per row (char_shingles always
    # emits >= 1 element, so the old explode_outer never produced a
    # NULL row), and n_first per doc is the min-doc table re-grouped
    # by its owning doc — identical integers, no join back on the
    # shingle stream.
    sets = d.select(
        "doc_id",
        F.explode(F.array_distinct(char_shingles("text", 4))).alias("sh"),
    )
    first = sets.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    owned = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("__n_first")
    )
    per_doc = (
        d.select(
            "doc_id",
            "source",
            F.size(F.array_distinct(char_shingles("text", 4))).alias("n_sh"),
        )
        .join(owned, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_sh",
            F.coalesce(F.col("__n_first"), F.lit(0)).alias("n_first"),
        )
    )
    nov_ppm = F.call_function(
        "div",
        F.lit(2) * F.col("n_first") * F.lit(1_000_000) + F.col("n_sh"),
        F.lit(2) * F.col("n_sh"),
    )
    per_src = per_doc.withColumn("nppm", nov_ppm).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sh").alias("n_shingles"),
        F.sum("n_first").alias("n_owned"),
        F.sum("nppm").alias("s_ppm"),
    )
    mean_ppm = F.call_function(
        "div",
        F.lit(2) * F.col("s_ppm") + F.col("n_docs"),
        F.lit(2) * F.col("n_docs"),
    )
    return per_src.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_owned").cast("long").alias("n_owned"),
        mean_ppm.cast("long").alias("mean_novelty_ppm"),
    ).orderBy("source")


T_NGRAM_NOVELTY_SQL = f"""
WITH norm AS (
  SELECT doc_id, source, {NORM_TEXT_SQL} AS t FROM documents
), shidx AS (
  SELECT doc_id, source, t,
    unnest(generate_series(1, greatest(length(t) - 3, 1))) AS i
  FROM norm
), sets AS (
  SELECT DISTINCT doc_id, source, substr(t, i, 4) AS sh FROM shidx
), first AS (
  SELECT sh, MIN(doc_id) AS first_doc FROM sets GROUP BY sh
), per_doc AS (
  SELECT s.doc_id, s.source, COUNT(*) AS n_sh,
    SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS n_first
  FROM sets s JOIN first f USING (sh) GROUP BY 1, 2
), per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
    CAST(SUM(n_first) AS BIGINT) AS n_owned,
    CAST(SUM((2 * n_first * 1000000 + n_sh) // (2 * n_sh)) AS BIGINT)
      AS s_ppm
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_shingles, n_owned,
  CAST((2 * s_ppm + n_docs) // (2 * n_docs) AS BIGINT) AS mean_novelty_ppm
FROM per_src ORDER BY source
"""


# --------------------------------------------------- a_open_orders_sweep


def a_open_orders_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval census via sweep-line: how many orders are
    OPEN (placed, not yet fully shipped) on each change day, rolled up
    monthly (max concurrency + end-of-month level).  The classic
    interval-overlap count done WITHOUT a range join: each interval
    becomes two deltas (+1 at start, −1 after last shipment), a
    per-day agg collapses them, and the running sum over change days
    is a RANGE-PARTITIONED cumulative sum — the sweep stays
    distributed at any interval count (a self-range-join would be
    |orders|² on hot days).

    Determinism: all integers; end-of-month level via max_by on the
    unique day.

    Scale shape: two narrow aggs (order end dates, day deltas), one
    range-partitioned cumsum over |change days| rows, a month-grain
    rollup.  No window wider than the |ranges|-row offsets."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    ends = t["lineitem"].groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )
    # Clamp: the synthetic data has orders whose last shipment
    # precedes the order date — a backwards interval would fire its
    # −1 before its +1 and corrupt the running count.  Every order is
    # open at least its placement day.
    iv = (
        t["orders"]
        .select("o_orderkey", F.to_date("o_orderdate").alias("start_day"))
        .join(ends, F.col("o_orderkey") == F.col("l_orderkey"))
        .withColumn(
            "end_day", F.greatest(F.col("start_day"), F.col("last_ship"))
        )
    )
    deltas = (
        iv.select(F.col("start_day").alias("day"), F.lit(1).alias("d"))
        .unionByName(
            iv.select(
                F.date_add("end_day", 1).alias("day"),
                F.lit(-1).alias("d"),
            )
        )
        .groupBy("day")
        .agg(F.sum("d").alias("delta"))
    )
    swept = range_partitioned_rank(
        deltas, ["day"], out_col="__r", sum_col="delta", cumsum_out="open_n"
    )
    return (
        swept.groupBy(
            F.year("day").alias("y"), F.month("day").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n_change_days"),
            F.max("open_n").alias("max_open"),
            F.max_by("open_n", "day").alias("open_eom"),
        )
        .select(
            F.col("y").cast("int").alias("y"),
            F.col("m").cast("int").alias("m"),
            F.col("n_change_days").cast("long").alias("n_change_days"),
            F.col("max_open").cast("long").alias("max_open"),
            F.col("open_eom").cast("long").alias("open_eom"),
        )
        .orderBy("y", "m")
    )


A_OPEN_ORDERS_SWEEP_SQL = """
WITH ends AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
  FROM lineitem GROUP BY 1
), iv AS (
  -- clamp backwards intervals (last shipment before order date):
  -- every order is open at least its placement day
  SELECT CAST(o_orderdate AS DATE) AS start_day,
    greatest(CAST(o_orderdate AS DATE), last_ship) AS end_day
  FROM orders JOIN ends ON o_orderkey = l_orderkey
), deltas AS (
  SELECT day, SUM(d) AS delta FROM (
    SELECT start_day AS day, 1 AS d FROM iv
    UNION ALL SELECT end_day + 1, -1 FROM iv
  ) GROUP BY day
), swept AS (
  SELECT day, SUM(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
    AS open_n
  FROM deltas
)
SELECT CAST(year(day) AS INT) AS y, CAST(month(day) AS INT) AS m,
  CAST(COUNT(*) AS BIGINT) AS n_change_days,
  CAST(MAX(open_n) AS BIGINT) AS max_open,
  CAST(arg_max(open_n, day) AS BIGINT) AS open_eom
FROM swept GROUP BY 1, 2 ORDER BY y, m
"""


# --------------------------------------------------------------- g_hits

_HITS_TOP_HUBS = 10


def g_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999, public) on the user → event-type
    bipartite graph: two full mutual-reinforcement iterations —
    authority(t) = Σ_u w(u,t)·hub(u), hub(u) = Σ_t w(u,t)·auth(t),
    max-normalized each half-step.  Authorities rank the event types
    the heaviest multi-type users concentrate on; hubs rank the users
    whose activity spans the strongest types — the complementary
    centrality to g_pagerank's random-walk mass.  Output: every
    authority plus the top-10 hubs, each ranked within its side.

    Engine parity (the pagerank_weighted recipe): edge weights are
    exact counts; every contribution product rounds into
    DECIMAL(28,12) before the order-independent sum; each
    max-normalization is ONE double division of exactly-equal
    quantities, rounded to 10 dp — a DuckDB unroll of the same two
    iterations reproduces every score bit for bit.

    Scale shape: the |types|-side frames broadcast (bounded domain);
    the |users|-side joins stay shuffle-partitioned on user_id (never
    broadcast — users grow with data); hubs come via distributed
    TakeOrdered, rank windows only over ≤10 survivors per side."""
    t = load_tables(spark, sf_dir, ["events"])
    e = (
        t["events"]
        .groupBy(
            F.col("user_id").cast("string").alias("u"),
            F.col("event_type").alias("tt"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    dec = "decimal(28,12)"

    a1r = e.groupBy("tt").agg(F.sum("w").alias("ar"))
    am1 = a1r.agg(F.max("ar").alias("am"))
    a1 = a1r.crossJoin(F.broadcast(am1)).select(
        "tt",
        F.round(F.col("ar").cast("double") / F.col("am"), 10).alias("a"),
    )
    h1r = (
        e.join(F.broadcast(a1), "tt")
        .select("u", (F.col("w") * F.col("a")).cast(dec).alias("c"))
        .groupBy("u")
        .agg(F.sum("c").alias("hr"))
    )
    hm1 = h1r.agg(F.max("hr").alias("hm"))
    h1 = h1r.crossJoin(F.broadcast(hm1)).select(
        "u",
        F.round(
            F.col("hr").cast("double") / F.col("hm").cast("double"), 10
        ).alias("h"),
    )
    a2r = (
        e.join(h1, "u")
        .select("tt", (F.col("w") * F.col("h")).cast(dec).alias("c"))
        .groupBy("tt")
        .agg(F.sum("c").alias("ar"))
    )
    am2 = a2r.agg(F.max("ar").alias("am"))
    a2 = a2r.crossJoin(F.broadcast(am2)).select(
        "tt",
        F.round(
            F.col("ar").cast("double") / F.col("am").cast("double"), 10
        ).alias("a"),
    )
    h2r = (
        e.join(F.broadcast(a2), "tt")
        .select("u", (F.col("w") * F.col("a")).cast(dec).alias("c"))
        .groupBy("u")
        .agg(F.sum("c").alias("hr"))
    )
    hm2 = h2r.agg(F.max("hr").alias("hm"))
    h2 = h2r.crossJoin(F.broadcast(hm2)).select(
        "u",
        F.round(
            F.col("hr").cast("double") / F.col("hm").cast("double"), 10
        ).alias("h"),
    )

    w_auth = Window.partitionBy("side").orderBy(
        F.col("a").desc(), F.col("node").asc()
    )
    auth = (
        a2.select(
            F.lit("authority").alias("side"),
            F.col("tt").alias("node"),
            "a",
        )
        .withColumn("rank", F.row_number().over(w_auth))
        .select(
            "side", "node", (F.round("a", 6) + F.lit(0.0)).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
    w_hub = Window.partitionBy("side").orderBy(
        F.col("h").desc(), F.col("node").asc()
    )
    hubs = (
        h2.select(
            F.lit("hub").alias("side"), F.col("u").alias("node"), "h"
        )
        .orderBy(F.col("h").desc(), F.col("node").asc())
        .limit(_HITS_TOP_HUBS)
        .withColumn("rank", F.row_number().over(w_hub))
        .select(
            "side", "node", (F.round("h", 6) + F.lit(0.0)).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
    return auth.unionByName(hubs).orderBy("side", "rank")


G_HITS_SQL = f"""
WITH e AS MATERIALIZED (
  SELECT CAST(user_id AS VARCHAR) AS u, event_type AS tt,
    CAST(COUNT(*) AS BIGINT) AS w
  FROM events GROUP BY 1, 2
), a1r AS (
  SELECT tt, CAST(SUM(w) AS BIGINT) AS ar FROM e GROUP BY tt
), am1 AS (SELECT MAX(ar) AS am FROM a1r),
a1 AS MATERIALIZED (
  SELECT tt, round(CAST(ar AS DOUBLE) / am, 10) AS a FROM a1r, am1
), h1r AS (
  SELECT u, SUM(CAST(w * a AS DECIMAL(28,12))) AS hr
  FROM e JOIN a1 USING (tt) GROUP BY u
), hm1 AS (SELECT MAX(hr) AS hm FROM h1r),
h1 AS MATERIALIZED (
  SELECT u, round(CAST(hr AS DOUBLE) / CAST(hm AS DOUBLE), 10) AS h
  FROM h1r, hm1
), a2r AS (
  SELECT tt, SUM(CAST(w * h AS DECIMAL(28,12))) AS ar
  FROM e JOIN h1 USING (u) GROUP BY tt
), am2 AS (SELECT MAX(ar) AS am FROM a2r),
a2 AS MATERIALIZED (
  SELECT tt, round(CAST(ar AS DOUBLE) / CAST(am AS DOUBLE), 10) AS a
  FROM a2r, am2
), h2r AS (
  SELECT u, SUM(CAST(w * a AS DECIMAL(28,12))) AS hr
  FROM e JOIN a2 USING (tt) GROUP BY u
), hm2 AS (SELECT MAX(hr) AS hm FROM h2r),
h2 AS (
  SELECT u, round(CAST(hr AS DOUBLE) / CAST(hm AS DOUBLE), 10) AS h
  FROM h2r, hm2
), auth AS (
  SELECT 'authority' AS side, tt AS node, round(a, 6) + 0.0 AS score,
    CAST(row_number() OVER (ORDER BY a DESC, tt) AS BIGINT) AS rank
  FROM a2
), hub AS (
  SELECT 'hub' AS side, u AS node, round(h, 6) + 0.0 AS score,
    CAST(row_number() OVER (ORDER BY h DESC, u) AS BIGINT) AS rank
  FROM h2 QUALIFY rank <= {_HITS_TOP_HUBS}
)
SELECT * FROM auth UNION ALL SELECT * FROM hub ORDER BY side, rank
"""


# --------------------------------------------------------- a_bootstrap_ci

_BOOT_B = 100
# Poisson(1) inverse-CDF cutoffs over the full 2^32 space of one
# 8-hex-char md5 slice, rendered as FIXED-WIDTH LOWERCASE HEX so the
# weight is a pure string comparison (lowercase fixed-width hex
# lexicographic order IS numeric order — no integer conversion in
# the hot path; conv() measured ~1.1s per column per 3.75M rows):
# P(0)=.367879, P(<=1)=.735759, P(<=2)=.919699, P(<=3)=.981012, else 4
_POIS_HEX = ("5e2bdf88", "bc57bf10", "eb6daed4", "fb1fa96c")


def _pois_weight_hex(s):  # s: 8 lowercase hex chars of an md5 slice
    return (
        F.when(s < _POIS_HEX[0], F.lit(0))
        .when(s < _POIS_HEX[1], F.lit(1))
        .when(s < _POIS_HEX[2], F.lit(2))
        .when(s < _POIS_HEX[3], F.lit(3))
        .otherwise(F.lit(4))
    )


_POIS_HEX_SQL = (
    f"CASE WHEN s8 < '{_POIS_HEX[0]}' THEN 0"
    f" WHEN s8 < '{_POIS_HEX[1]}' THEN 1"
    f" WHEN s8 < '{_POIS_HEX[2]}' THEN 2"
    f" WHEN s8 < '{_POIS_HEX[3]}' THEN 3 ELSE 4 END"
)


def a_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value: 100
    Poisson-bootstrap replicates (Chamandy et al. 2012's
    map-reduce-friendly resampling — per-row Poisson(1) weights
    replace with-replacement sampling, which cannot be expressed as a
    scan), percentile CI from the replicate means.  One row: n,
    point mean, CI bounds, replicate count.

    Determinism: each replicate weight is the exact inverse-CDF bucket
    of a 32-bit md5 slice, decided by FIXED-WIDTH LOWERCASE HEX string
    comparison against exact integer cutoffs rendered in hex (hex
    lexicographic order is numeric order — no int conversion in the
    hot path); one md5 serves FOUR replicates (128 bits = 4
    independent 32-bit slices, quartering the per-row hash work — the
    hash is the whole cost of this query); replicate means are exact
    micro divisions; the 2.5%/97.5% bounds are the 3rd-smallest /
    3rd-largest of the 100 means via distributed TakeOrdered (a
    100-row frame, but the pattern stays scale-safe).

    Scale shape: the explode is rows × B/4 hash rows fanned to
    rows × B weight rows, with map-side partial aggregation straight
    into |B| replicate sums — the shuffle carries 100 rows of
    (sum, count), not the resampled data."""
    t = load_tables(spark, sf_dir, ["orders"])

    # Prices carry exactly two decimals, so they fold as BIGINT cents
    # — the DECIMAL(18,6) agg this replaced measured ~2x slower over
    # the rows x B/4 frame (document the int64 ceiling: ~1e12 orders
    # at max price before Σ cents·w needs the decimal fallback).
    # ensure_parallelism (r11): the single-file orders scan arrives as
    # ONE partition, serializing the rows × B/4 md5 pass — the whole
    # cost of this query — onto one core (measured 6.1s → sub-second
    # fanned out).
    o = ensure_parallelism(t["orders"]).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * F.lit(100.0), 0)
        .cast("long")
        .alias("px"),
    )
    grp = o.select(
        "px",
        "o_orderkey",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B // 4 - 1))
        ).alias("g"),
    )
    hx = F.md5(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit("#boot"),
            F.col("g").cast("string"),
        )
    )
    # All four slice weights land in ONE projection first (md5
    # evaluated once per row inside whole-stage codegen — inlining it
    # into the aggregate expressions instead re-evaluates per agg
    # slot), then ONE pass aggregates the rows × B/4 hash frame
    # map-side into |B|/4 groups × 8 slots — no rows × B fan-out
    # ever materializes; the |B|/4-row result then unstacks to the
    # |B| replicate rows.
    proj = grp.withColumn("hx", hx).select(
        "g",
        "px",
        *[
            _pois_weight_hex(F.substring("hx", 1 + 8 * j, 8)).alias(
                f"w{j}"
            )
            for j in range(4)
        ],
    )
    g_agg = proj.groupBy("g").agg(
        *[
            a
            for j in range(4)
            for a in (
                F.sum(F.col("px") * F.col(f"w{j}")).alias(f"s{j}"),
                F.sum(f"w{j}").alias(f"n{j}"),
            )
        ]
    )
    stack = ", ".join(f"{j}, s{j}, n{j}" for j in range(4))
    per_rep = (
        g_agg.selectExpr("g", f"stack(4, {stack}) AS (j, s, n)")
        .select((F.col("g") * 4 + F.col("j")).alias("b"), "s", "n")
        .where(F.col("n") > 0)
    )
    mean_u = F.call_function(
        "div",
        F.lit(2) * (F.col("s").cast("decimal(38,0)") * F.lit(10_000))
        + F.col("n"),
        F.lit(2) * F.col("n"),
    ).cast("long")
    means = per_rep.select(mean_u.alias("mu")).localCheckpoint(eager=True)
    lo = means.orderBy(F.col("mu").asc()).limit(3).agg(
        F.max("mu").alias("lo_u"), F.count(F.lit(1)).alias("nl")
    )
    hi = means.orderBy(F.col("mu").desc()).limit(3).agg(
        F.min("mu").alias("hi_u"), F.count(F.lit(1)).alias("nh")
    )
    base = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("px").alias("ts"),
    )
    point_u = F.call_function(
        "div",
        F.lit(2) * (F.col("ts").cast("decimal(38,0)") * F.lit(10_000))
        + F.col("n_orders"),
        F.lit(2) * F.col("n_orders"),
    ).cast("long")
    nrep = means.agg(F.count(F.lit(1)).alias("n_replicates"))
    return (
        base.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(nrep))
        .select(
            F.col("n_orders").cast("long").alias("n_orders"),
            (point_u / F.lit(1_000_000.0)).alias("mean_rev"),
            (F.col("lo_u") / F.lit(1_000_000.0)).alias("boot_lo"),
            (F.col("hi_u") / F.lit(1_000_000.0)).alias("boot_hi"),
            F.col("n_replicates").cast("long").alias("n_replicates"),
        )
    )


def _a_bootstrap_ci_sql() -> str:
    return f"""
WITH grp AS (
  SELECT o_orderkey,
    CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS px,
    unnest(generate_series(0, {_BOOT_B // 4 - 1})) AS g
  FROM orders
), hx AS (
  SELECT px, g,
    md5(CAST(o_orderkey AS VARCHAR) || '#boot' || CAST(g AS VARCHAR))
      AS h
  FROM grp
), sliced AS (
  SELECT px, g * 4 + j.j AS b, substr(h, 1 + 8 * j.j, 8) AS s8
  FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
), weighted AS (
  SELECT px, b, {_POIS_HEX_SQL} AS w FROM sliced
), per_rep AS (
  SELECT b, SUM(px * w) AS s, CAST(SUM(w) AS BIGINT) AS n
  FROM weighted GROUP BY b HAVING SUM(w) > 0
), means AS (
  SELECT CAST((2 * CAST(s AS HUGEINT) * 10000 + n) // (2 * n) AS BIGINT)
    AS mu
  FROM per_rep
), lo AS (
  SELECT MAX(mu) AS lo_u FROM (SELECT mu FROM means ORDER BY mu LIMIT 3)
), hi AS (
  SELECT MIN(mu) AS hi_u
  FROM (SELECT mu FROM means ORDER BY mu DESC LIMIT 3)
), base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
    SUM(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS ts
  FROM orders
), nrep AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates FROM means)
SELECT n_orders,
  CAST((2 * CAST(ts AS HUGEINT) * 10000 + n_orders) // (2 * n_orders)
    AS BIGINT) / 1000000.0 AS mean_rev,
  lo_u / 1000000.0 AS boot_lo,
  hi_u / 1000000.0 AS boot_hi,
  n_replicates
FROM base, lo, hi, nrep
"""


# --------------------------------------------------------- t_epoch_shuffle

_SHUF_SHARDS = 8
_SHUF_EPOCHS = 2


def t_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle — the data-loader
    primitive: each epoch reorders the corpus by a salted hash and
    deals documents into shards, so every worker reads a different,
    reproducible permutation per epoch with no coordination.  Per
    (epoch, shard): docs, tokens, the first document in shuffle
    order, and an order-insensitive assignment checksum (bit_xor) —
    proving shards re-deal between epochs while staying balanced.

    Scale shape: one hash per (doc, epoch), one (epoch, shard) agg
    with map-side partials; no sort materializes — the 'shuffle
    order' is the hash itself, so min_by gives the head without
    ranking anything."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"].select(
        "doc_id", F.size(F.split(_norm_text(), " ")).alias("ntok")
    )
    e = d.select(
        "doc_id",
        "ntok",
        F.explode(F.sequence(F.lit(0), F.lit(_SHUF_EPOCHS - 1))).alias(
            "epoch"
        ),
    )
    h = hash64(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("#ep"),
            F.col("epoch").cast("string"),
        )
    )
    return (
        e.withColumn("h", h)
        .withColumn("shard", (F.col("h") % _SHUF_SHARDS).cast("int"))
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
            F.min_by("doc_id", "h").alias("first_doc"),
            F.expr("bit_xor(h)").alias("assign_sig"),
        )
        .select(
            F.col("epoch").cast("int").alias("epoch"),
            "shard",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("first_doc").cast("long").alias("first_doc"),
            F.col("assign_sig").cast("long").alias("assign_sig"),
        )
        .orderBy("epoch", "shard")
    )


def _t_epoch_shuffle_sql() -> str:
    h = H60.format(
        x="CAST(doc_id AS VARCHAR) || '#ep' || CAST(epoch AS VARCHAR)"
    )
    return f"""
WITH e AS (
  SELECT doc_id, len(string_split({NORM_TEXT_SQL}, ' ')) AS ntok,
    unnest(generate_series(0, {_SHUF_EPOCHS - 1})) AS epoch
  FROM documents
), hashed AS (
  SELECT doc_id, ntok, epoch, {h} AS h FROM e
)
SELECT CAST(epoch AS INT) AS epoch,
  CAST(h % {_SHUF_SHARDS} AS INT) AS shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
  CAST(arg_min(doc_id, h) AS BIGINT) AS first_doc,
  CAST(bit_xor(h) AS BIGINT) AS assign_sig
FROM hashed GROUP BY 1, 2 ORDER BY epoch, shard
"""


# -------------------------------------------------------- w_rolling_median

_MED_W = 25  # odd window -> the median is ONE element, no convention risk


def w_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 25-tick median per event type — the robust companion to
    w2's rolling stddev (a single outlier moves the mean arbitrarily,
    the median not at all).  Emitted only on full windows; rolled up
    daily (count, mean-of-medians, closing median).

    Determinism: the window is ODD-sized, so the median is one exact
    DECIMAL element of the sorted 25-frame — no interpolation, no
    lower/upper-median convention to disagree on; the daily mean
    re-folds exact micro integers.

    Scale shape: one per-type window sort (the family's shared
    exchange); the collect_list is 25 decimals per row, in-stage; the
    daily agg is map-side combined."""
    t = load_tables(spark, sf_dir, ["events"])
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_MED_W - 1), 0)
    )
    wr = Window.partitionBy("event_type").orderBy("ts", "event_id")
    px = F.col("value").cast("decimal(18,6)")
    med = F.element_at(
        F.sort_array(F.collect_list(F.col("px")).over(w)), (_MED_W + 1) // 2
    )
    base = (
        t["events"]
        .select("event_type", "ts", "event_id", px.alias("px"))
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("med", med)
        .where(F.col("rn") >= _MED_W)
    )
    mu = (F.col("med") * F.lit(1_000_000)).cast("long")
    daily = (
        base.withColumn("mu", mu)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("mu").alias("su"),
            F.max_by("mu", F.struct("ts", "event_id")).alias("lu"),
        )
    )
    mean_u = F.call_function(
        "div",
        F.lit(2) * F.col("su") + F.col("n_windows"),
        F.lit(2) * F.col("n_windows"),
    )
    return daily.select(
        "event_type",
        "day",
        F.col("n_windows").cast("long").alias("n_windows"),
        (mean_u / F.lit(1_000_000.0)).alias("mean_median"),
        (F.col("lu") / F.lit(1_000_000.0)).alias("close_median"),
    ).orderBy("event_type", "day")


W_ROLLING_MEDIAN_SQL = f"""
WITH base AS (
  SELECT event_type, ts, event_id, CAST(value AS DECIMAL(18,6)) AS px
  FROM events
), framed AS (
  SELECT event_type, ts, event_id,
    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
      AS rn,
    list_sort(list(px) OVER (
      PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN {_MED_W - 1} PRECEDING AND CURRENT ROW
    ))[{(_MED_W + 1) // 2}] AS med
  FROM base
), full_w AS (
  SELECT event_type, ts, event_id, CAST(ts AS DATE) AS day,
    CAST(med * 1000000 AS BIGINT) AS mu
  FROM framed WHERE rn >= {_MED_W}
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type, day ORDER BY ts DESC, event_id DESC
  ) AS lrn
  FROM full_w
), daily AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_windows,
    CAST(SUM(mu) AS BIGINT) AS su,
    CAST(MAX(CASE WHEN lrn = 1 THEN mu END) AS BIGINT) AS lu
  FROM ranked GROUP BY 1, 2
)
SELECT event_type, day, n_windows,
  ((2 * su + n_windows) // (2 * n_windows)) / 1000000.0 AS mean_median,
  lu / 1000000.0 AS close_median
FROM daily ORDER BY event_type, day
"""


# ----------------------------------------------------------- mm_scene_cut

_SCENE_THRESH = 64
_SCENE_FRAMES = 16


def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot/scene-cut detection for the video modality: per-frame mean
    luma via the Arrow-batched mapInPandas extractor
    (operators.multimodal.frame_luma_series — deterministic fake
    codec, clearly marked; the Spark plumbing is the real artifact),
    a cut wherever |Δluma| > 64 between consecutive frames, then the
    corpus-level census: videos per cut count with the mean first-cut
    position — the stats a video-curation pass ranks footage by.

    Scale shape: payloads never leave the decode stage (only
    16 (id, idx, luma) triples per video); the lag is a per-video
    window; the census is a ≤16-row agg."""
    from kp_crypto_market_analytics_spark.operators.multimodal import (
        frame_luma_series,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    # Python-boundary fan-out is capped at 8 (guide §4.2: Arrow batches
    # must stay large enough for the vectorized body to pay; guide
    # §2.2: fewer, larger map tasks).  Measured in-sweep: 32 partitions
    # of ~52 tiny rows each spawn 32 Python workers whose late-session
    # fork cost dominated the query (9-11 s for ~266 KB of payload);
    # 8 workers carry the same work in large batches.  Scale-safe:
    # ensure_parallelism only ever RAISES the partition count, so a
    # real cluster scan that already fans wider is untouched.
    videos = ensure_parallelism(t["documents"], min_partitions=8).where(
        F.col("doc_id") % 3 == 2
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.repeat(F.md5("text"), 5), "UTF-8").alias("payload"),
    )
    frames = frame_luma_series(videos, fake=True, n_frames=_SCENE_FRAMES)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    cuts = (
        frames.withColumn("prev", F.lag("luma").over(w))
        .withColumn(
            "is_cut",
            F.when(
                F.col("prev").isNotNull()
                & (F.abs(F.col("luma") - F.col("prev")) > _SCENE_THRESH),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
    )
    per_media = cuts.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("is_cut").alias("n_cuts"),
        F.min(
            F.when(F.col("is_cut") == 1, F.col("frame_idx"))
        ).alias("first_cut"),
    )
    census = per_media.groupBy("n_cuts").agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum(F.when(F.col("first_cut").isNotNull(), F.lit(1)).otherwise(F.lit(0))).alias("n_with_cut"),
        F.sum(F.coalesce("first_cut", F.lit(0))).alias("sf"),
    )
    mean_first = F.when(
        F.col("n_with_cut") > 0,
        F.call_function(
            "div",
            F.lit(2) * F.col("sf") * F.lit(1_000_000) + F.col("n_with_cut"),
            F.lit(2) * F.col("n_with_cut"),
        )
        / F.lit(1_000_000.0),
    )
    return census.select(
        F.col("n_cuts").cast("long").alias("n_cuts"),
        F.col("n_videos").cast("long").alias("n_videos"),
        F.col("n_with_cut").cast("long").alias("n_with_cut"),
        mean_first.alias("mean_first_cut"),
    ).orderBy("n_cuts")


def _mm_scene_cut_sql() -> str:
    # fake codec replay: luma_i = (131*b[4i] + b[4i+1]) % 256 over the
    # 160-ASCII payload (5 x md5 hex), frames i = 0..15
    return f"""
WITH videos AS (
  SELECT doc_id AS media_id, repeat(md5(text), 5) AS p
  FROM documents WHERE doc_id % 3 = 2
), frames AS (
  SELECT media_id, i AS frame_idx,
    (131 * ascii(substr(p, 4 * i + 1, 1))
      + ascii(substr(p, 4 * i + 2, 1))) % 256 AS luma
  FROM (SELECT media_id, p, unnest(generate_series(0, {_SCENE_FRAMES - 1}))
          AS i FROM videos)
), cuts AS (
  SELECT media_id, frame_idx, luma,
    lag(luma) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
  FROM frames
), flagged AS (
  SELECT media_id, frame_idx,
    CASE WHEN prev IS NOT NULL AND abs(luma - prev) > {_SCENE_THRESH}
      THEN 1 ELSE 0 END AS is_cut
  FROM cuts
), per_media AS (
  SELECT media_id, COUNT(*) AS n_frames, SUM(is_cut) AS n_cuts,
    MIN(CASE WHEN is_cut = 1 THEN frame_idx END) AS first_cut
  FROM flagged GROUP BY 1
), census AS (
  SELECT n_cuts, CAST(COUNT(*) AS BIGINT) AS n_videos,
    CAST(SUM(CASE WHEN first_cut IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_with_cut,
    CAST(SUM(coalesce(first_cut, 0)) AS BIGINT) AS sf
  FROM per_media GROUP BY 1
)
SELECT CAST(n_cuts AS BIGINT) AS n_cuts, n_videos, n_with_cut,
  CASE WHEN n_with_cut > 0 THEN
    ((2 * sf * 1000000 + n_with_cut) // (2 * n_with_cut)) / 1000000.0
  END AS mean_first_cut
FROM census ORDER BY n_cuts
"""


# ---------------------------------------------------------- a_chi_square
#
# Round-7 batch 4: classical statistics the reference's pandas layer
# would reach for next (`src/analytics/binance_analysis.py` stops at
# describe()/corr()) — chi-square independence, Welch's t-test,
# Sharpe/Sortino, Amihud illiquidity, IQR outlier fences.  Every
# floating intermediate is either an exact integer/DECIMAL fold or the
# SAME IEEE expression text in both engines, with micro-rounded folds
# wherever a sum's addition order could differ.


def a_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the event_type × weekday
    contingency table (Pearson 1900, public), plus Cramér's V effect
    size — "is activity mix independent of the day of week?", the
    categorical counterpart of a5_dow_profile.

    Determinism: cell/row/column totals are exact integers; each
    cell's (o−e)²/e term is the identical IEEE chain in both engines
    (integers cast to double, one division), then micro-rounded to
    BIGINT so the Σ over cells is an exact integer fold — the ~35-cell
    sum would otherwise be addition-order-dependent.

    Scale shape: three map-side-combined aggs (cells, row totals,
    column totals) with the |types|- and |days|-row totals broadcast
    back onto the cell frame; nothing beyond the cell grain ever
    shuffles.  At 100 TB the cell frame is |types|×7 rows."""
    t = load_tables(spark, sf_dir, ["events"])
    cells = (
        t["events"]
        .groupBy("event_type", F.dayofweek("ts").cast("int").alias("dow"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    g = cells.agg(F.sum("o").alias("n"))
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    o_d = F.col("o").cast("double")
    term_u = F.round(
        (o_d - e) * (o_d - e) / e * F.lit(1_000_000.0), 0
    ).cast("long")
    j = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(g))
        .select("event_type", "dow", "n", term_u.alias("tu"))
    )
    agg = j.agg(
        F.max("n").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
        F.sum("tu").alias("chi2_u"),
    )
    chi2 = F.col("chi2_u") / F.lit(1_000_000.0)
    kmin = F.least(F.col("r") - 1, F.col("c") - 1)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        (F.round(chi2, 6) + F.lit(0.0)).alias("chi2"),
        (
            F.round(F.sqrt(chi2 / (F.col("n") * kmin)), 6) + F.lit(0.0)
        ).alias("cramers_v"),
    )


A_CHI_SQUARE_SQL = """
WITH cells AS (
  SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
    COUNT(*) AS o
  FROM events GROUP BY 1, 2
), rt AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
ct AS (SELECT dow, SUM(o) AS ct FROM cells GROUP BY 1),
g AS (SELECT SUM(o) AS n FROM cells),
j AS (
  SELECT c.event_type, c.dow, g.n,
    CAST(round(
      (CAST(c.o AS DOUBLE) - CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
        / CAST(g.n AS DOUBLE))
      * (CAST(c.o AS DOUBLE) - CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
        / CAST(g.n AS DOUBLE))
      / (CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE) / CAST(g.n AS DOUBLE))
      * 1000000.0, 0) AS BIGINT) AS tu
  FROM cells c JOIN rt r USING (event_type) JOIN ct t USING (dow)
  CROSS JOIN g
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
  CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1)
    AS BIGINT) AS dof,
  round(CAST(SUM(tu) AS BIGINT) / 1000000.0, 6) + 0.0 AS chi2,
  round(sqrt((CAST(SUM(tu) AS BIGINT) / 1000000.0)
    / (MAX(n) * least(COUNT(DISTINCT event_type) - 1,
                      COUNT(DISTINCT dow) - 1))), 6) + 0.0 AS cramers_v
FROM j
"""


# --------------------------------------------------------- a_welch_ttest


def a_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event type: weekend vs
    weekday values (Welch 1947, public) with the Welch–Satterthwaite
    degrees of freedom — "does this event type behave differently on
    weekends?", the two-sample counterpart of dq_ks_test.

    Determinism: per-arm moments are exact DECIMAL(18,6) sums (the
    exact_stddev_samp recipe); the t statistic and dof are then one
    identical IEEE chain over those exact moments in both engines.
    Displayed means use the exact micro division (round_mean_micro) so
    the mean-shaped outputs dodge the structural .5e-6 tie.

    Scale shape: ONE map-side-combined groupBy(event_type) computes
    all six moments; no joins, no windows — |types| rows out."""
    t = load_tables(spark, sf_dir, ["events"])
    v = F.col("value").cast("decimal(18,6)")
    wknd = F.dayofweek("ts").isin(1, 7)
    g = t["events"].groupBy("event_type").agg(
        F.sum(F.when(wknd, v)).alias("sa"),
        F.sum(F.when(wknd, v * v)).alias("qa"),
        F.count(F.when(wknd, F.lit(1))).alias("na"),
        F.sum(F.when(~wknd, v)).alias("sb"),
        F.sum(F.when(~wknd, v * v)).alias("qb"),
        F.count(F.when(~wknd, F.lit(1))).alias("nb"),
    )
    sa, qa, na = F.col("sa").cast("double"), F.col("qa").cast("double"), F.col("na")
    sb, qb, nb = F.col("sb").cast("double"), F.col("qb").cast("double"), F.col("nb")
    va = (qa - sa * sa / na) / (na - F.lit(1))
    vb = (qb - sb * sb / nb) / (nb - F.lit(1))
    aa = va / na
    bb = vb / nb
    ok = (na > 1) & (nb > 1) & (aa + bb > 0)
    tstat = (sa / na - sb / nb) / F.sqrt(aa + bb)
    dof = (aa + bb) * (aa + bb) / (
        aa * aa / (na - F.lit(1)) + bb * bb / (nb - F.lit(1))
    )
    return g.select(
        "event_type",
        F.col("na").cast("long").alias("n_wknd"),
        F.col("nb").cast("long").alias("n_wkday"),
        F.when(na > 0, round_mean_micro(F.col("sa"), na)).alias("mean_wknd"),
        F.when(nb > 0, round_mean_micro(F.col("sb"), nb)).alias("mean_wkday"),
        F.when(ok, F.round(tstat, 6) + F.lit(0.0)).alias("t_stat"),
        F.when(ok, F.round(dof, 6) + F.lit(0.0)).alias("welch_dof"),
    ).orderBy("event_type")


def _a_welch_ttest_sql() -> str:
    mean_a = sql_round_mean_micro("sa", "na")
    mean_b = sql_round_mean_micro("sb", "nb")
    va = "((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1))"
    vb = "((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1))"
    aa = f"({va} / na)"
    bb = f"({vb} / nb)"
    ok = f"(na > 1 AND nb > 1 AND {aa} + {bb} > 0)"
    tstat = (
        f"(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)"
        f" / sqrt({aa} + {bb})"
    )
    dof = (
        f"({aa} + {bb}) * ({aa} + {bb})"
        f" / ({aa} * {aa} / (na - 1) + {bb} * {bb} / (nb - 1))"
    )
    return f"""
WITH g AS (
  SELECT event_type,
    SUM(CASE WHEN dayofweek(ts) IN (0, 6)
      THEN CAST(value AS DECIMAL(18,6)) END) AS sa,
    SUM(CASE WHEN dayofweek(ts) IN (0, 6)
      THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
      END) AS qa,
    COUNT(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 END) AS na,
    SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6)
      THEN CAST(value AS DECIMAL(18,6)) END) AS sb,
    SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6)
      THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
      END) AS qb,
    COUNT(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN 1 END) AS nb
  FROM events GROUP BY 1
)
SELECT event_type,
  CAST(na AS BIGINT) AS n_wknd,
  CAST(nb AS BIGINT) AS n_wkday,
  CASE WHEN na > 0 THEN {mean_a} END AS mean_wknd,
  CASE WHEN nb > 0 THEN {mean_b} END AS mean_wkday,
  CASE WHEN {ok} THEN round({tstat}, 6) + 0.0 END AS t_stat,
  CASE WHEN {ok} THEN round({dof}, 6) + 0.0 END AS welch_dof
FROM g ORDER BY event_type
"""


# ------------------------------------------------------------- ti_sharpe

_ANN_DAYS = 365.0  # crypto trades every day — 365 periods/year


def _daily_closes(events: DataFrame) -> DataFrame:
    """(event_type, day, close): last positive tick of each day under
    the family's total order (ts, event_id) — the per-day window is
    bounded by ticks/day, never corpus-sized."""
    w_day = Window.partitionBy("event_type", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.where(F.col("value") > 0)
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            "value",
        )
        .withColumn("rn", F.row_number().over(w_day))
        .where(F.col("rn") == 1)
        .select("event_type", "day", F.col("value").alias("close"))
    )


_CLOSES_SQL = """
  SELECT event_type, day, value AS close FROM (
    SELECT event_type, CAST(ts AS DATE) AS day, value,
      row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE value > 0
  ) WHERE rn = 1
"""


def ti_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe and Sortino ratios per symbol from daily
    close-to-close log returns (Sharpe 1966 / Sortino & Price 1994,
    public; rf = 0 as is conventional for crypto) — the risk-adjusted
    return summary every strategy report leads with, downstream of
    the same tick→daily-close series ti_* shares.

    Determinism: each daily return folds as nano-unit (1e-9) BIGINT
    and its square / downside square as pico-unit (1e-12) BIGINT —
    exact integer sums regardless of addition order; the final
    mean/σ/√365 chain is one identical IEEE expression over those
    exact integers.  Downside deviation uses the same n−1 normalizer
    as σ so the two ratios are comparable.

    Scale shape: per-day close extraction is a day-bounded window;
    the day-over-day lag window holds |days| rows per symbol (calendar
    -bounded); one map-side-combined agg emits |symbols| rows."""
    t = load_tables(spark, sf_dir, ["events"])
    closes = _daily_closes(t["events"])
    w = Window.partitionBy("event_type").orderBy("day")
    rets = closes.withColumn(
        "r", F.log(F.col("close") / F.lag("close").over(w))
    ).where(F.col("r").isNotNull())
    ru = F.round(F.col("r") * F.lit(1e9), 0).cast("long")
    r2u = F.round(F.col("r") * F.col("r") * F.lit(1e12), 0).cast("long")
    d2u = F.when(F.col("r") < 0, r2u).otherwise(F.lit(0))
    agg = rets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ru).alias("sr"),
        F.sum(r2u).alias("sr2"),
        F.sum(d2u).alias("sd2"),
    )
    n = F.col("n")
    mean = (F.col("sr") / F.lit(1e9)) / n
    var = (
        F.col("sr2") / F.lit(1e12)
        - (F.col("sr") / F.lit(1e9)) * (F.col("sr") / F.lit(1e9)) / n
    ) / (n - F.lit(1))
    ddev2 = (F.col("sd2") / F.lit(1e12)) / (n - F.lit(1))
    ann = F.sqrt(F.lit(_ANN_DAYS))
    return agg.select(
        "event_type",
        n.cast("long").alias("n_days"),
        F.when(
            (n > 1) & (var > 0),
            F.round(mean / F.sqrt(var) * ann, 6) + F.lit(0.0),
        ).alias("sharpe"),
        F.when(
            (n > 1) & (F.col("sd2") > 0),
            F.round(mean / F.sqrt(ddev2) * ann, 6) + F.lit(0.0),
        ).alias("sortino"),
    ).orderBy("event_type")


TI_SHARPE_SQL = f"""
WITH closes AS ({_CLOSES_SQL}),
rets AS (
  SELECT event_type,
    ln(close / lag(close) OVER (PARTITION BY event_type ORDER BY day))
      AS r
  FROM closes
), u AS (
  SELECT event_type,
    CAST(round(r * 1000000000.0, 0) AS BIGINT) AS ru,
    CAST(round(r * r * 1000000000000.0, 0) AS BIGINT) AS r2u,
    CASE WHEN r < 0
      THEN CAST(round(r * r * 1000000000000.0, 0) AS BIGINT)
      ELSE 0 END AS d2u
  FROM rets WHERE r IS NOT NULL
), agg AS (
  SELECT event_type, COUNT(*) AS n, CAST(SUM(ru) AS BIGINT) AS sr,
    CAST(SUM(r2u) AS BIGINT) AS sr2, CAST(SUM(d2u) AS BIGINT) AS sd2
  FROM u GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
  CASE WHEN n > 1 AND (sr2 / 1000000000000.0
      - (sr / 1000000000.0) * (sr / 1000000000.0) / n) / (n - 1) > 0
    THEN round(((sr / 1000000000.0) / n)
      / sqrt((sr2 / 1000000000000.0
        - (sr / 1000000000.0) * (sr / 1000000000.0) / n) / (n - 1))
      * sqrt({_ANN_DAYS!r}), 6) + 0.0 END AS sharpe,
  CASE WHEN n > 1 AND sd2 > 0
    THEN round(((sr / 1000000000.0) / n)
      / sqrt((sd2 / 1000000000000.0) / (n - 1))
      * sqrt({_ANN_DAYS!r}), 6) + 0.0 END AS sortino
FROM agg ORDER BY event_type
"""


# ------------------------------------------------------------- ti_amihud


def ti_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud (2002, public) illiquidity per symbol: the mean over
    days of |daily log return| / daily notional, scaled ×1e9 (price
    impact per billion notional) — the standard cross-sectional
    liquidity measure, pairing ti_vwap's volume lens with ti_sharpe's
    return lens.

    Determinism: daily notional folds as exact cent×volume BIGINTs
    (price to cents, k volume from props — the ti_vwap parse); the
    per-day ratio is one identical IEEE chain over exact integers,
    micro-rounded, and the cross-day mean is an exact half-away
    integer division.

    Scale shape: same day-bounded close window + calendar-bounded lag
    as ti_sharpe; notional is a (symbol, day) map-side agg; the join
    is |symbol-days| × |symbol-days| on key equality — broadcastable
    at any horizon."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    k = F.replace(
        F.replace(F.col("props"), F.lit('{"k": '), F.lit("")),
        F.lit("}"),
        F.lit(""),
    ).try_cast("long")
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    notional = (
        e.select(
            "event_type",
            F.to_date("ts").alias("day"),
            (cents * F.coalesce(k, F.lit(0))).alias("cv"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cv").alias("not_u"))
        .where(F.col("not_u") > 0)
    )
    closes = _daily_closes(e)
    w = Window.partitionBy("event_type").orderBy("day")
    rets = closes.withColumn(
        "r", F.log(F.col("close") / F.lag("close").over(w))
    ).where(F.col("r").isNotNull())
    ratio = (
        F.abs(F.col("r"))
        / (F.col("not_u") / F.lit(100.0))
        * F.lit(1e9)
    )
    daily = rets.join(notional, ["event_type", "day"]).select(
        "event_type",
        F.round(ratio * F.lit(1e6), 0).cast("long").alias("iu"),
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("iu").alias("si")
    )
    mean_u = F.call_function(
        "div", F.lit(2) * F.col("si") + F.col("n"), F.lit(2) * F.col("n")
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        (mean_u / F.lit(1_000_000.0)).alias("amihud_e9"),
    ).orderBy("event_type")


TI_AMIHUD_SQL = f"""
WITH notional AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    SUM(CAST(round(value * 100.0, 0) AS BIGINT)
      * coalesce(TRY_CAST(replace(replace(props, '{{"k": ', ''), '}}', '')
          AS BIGINT), 0)) AS not_u
  FROM events GROUP BY 1, 2 HAVING SUM(CAST(round(value * 100.0, 0)
      AS BIGINT)
      * coalesce(TRY_CAST(replace(replace(props, '{{"k": ', ''), '}}', '')
          AS BIGINT), 0)) > 0
), closes AS ({_CLOSES_SQL}),
rets AS (
  SELECT event_type, day,
    ln(close / lag(close) OVER (PARTITION BY event_type ORDER BY day))
      AS r
  FROM closes
), daily AS (
  SELECT r.event_type,
    CAST(round(abs(r.r) / (n.not_u / 100.0) * 1000000000.0 * 1000000.0,
      0) AS BIGINT) AS iu
  FROM rets r JOIN notional n USING (event_type, day)
  WHERE r.r IS NOT NULL
), agg AS (
  SELECT event_type, COUNT(*) AS n, CAST(SUM(iu) AS BIGINT) AS si
  FROM daily GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
  ((2 * si + n) // (2 * n)) / 1000000.0 AS amihud_e9
FROM agg ORDER BY event_type
"""


# --------------------------------------------------------- dq_outlier_iqr


def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey (1977, public) IQR outlier fences per event type: Q1/Q3
    as DISCRETE order statistics (the value at 1-based rank ⌈n/4⌉ /
    ⌈3n/4⌉ — integer ranks, so both engines pick the SAME element and
    no interpolation convention can disagree), fences at 1.5×IQR, and
    the outlier census with an exact ppm share — the data-quality twin
    of a_grouped_quantiles' continuous percentiles.

    Determinism: rank positions are pure integer arithmetic; fence
    bounds are one identical IEEE chain over raw data values; the ppm
    share is an exact half-away integer division.

    Scale shape: the per-type rank window is group-linear — the exact
    path here is the fence-parity artifact; at 100 TB swap the rank
    for the percentile sketch (a_grouped_quantiles'
    APPROX_QUANTILES_CONF) and keep the census unchanged.  The census
    itself is one broadcast of |types| fence rows onto a
    map-side-combined agg."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select("event_type", "value", "event_id")
    cnt = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    k1 = F.call_function("div", F.col("n") + 3, F.lit(4))
    k3 = F.call_function("div", F.lit(3) * F.col("n") + 3, F.lit(4))
    ranked = (
        e.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(cnt), "event_type")
        .where((F.col("rn") == k1) | (F.col("rn") == k3))
    )
    fences = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == k1, F.col("value"))).alias("q1"),
        F.min(F.when(F.col("rn") == k3, F.col("value"))).alias("q3"),
    )
    lo = F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))
    cens = (
        e.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("q1").alias("q1"),
            F.min("q3").alias("q3"),
            F.count(F.when(F.col("value") < lo, F.lit(1))).alias("n_low"),
            F.count(F.when(F.col("value") > hi, F.lit(1))).alias("n_high"),
        )
    )
    ppm = F.call_function(
        "div",
        F.lit(2)
        * (F.col("n_low") + F.col("n_high"))
        * F.lit(1_000_000)
        + F.col("n_rows"),
        F.lit(2) * F.col("n_rows"),
    )
    return cens.select(
        "event_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("q1", 6).alias("q1"),
        F.round("q3", 6).alias("q3"),
        F.col("n_low").cast("long").alias("n_low"),
        F.col("n_high").cast("long").alias("n_high"),
        ppm.cast("long").alias("out_ppm"),
    ).orderBy("event_type")


DQ_OUTLIER_IQR_SQL = """
WITH cnt AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
ranked AS (
  SELECT e.event_type, e.value, c.n,
    row_number() OVER (PARTITION BY e.event_type
      ORDER BY e.value, e.event_id) AS rn
  FROM events e JOIN cnt c USING (event_type)
), fences AS (
  SELECT event_type,
    MIN(CASE WHEN rn = (n + 3) // 4 THEN value END) AS q1,
    MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN value END) AS q3
  FROM ranked WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
  GROUP BY 1
)
SELECT e.event_type,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  round(MIN(f.q1), 6) AS q1,
  round(MIN(f.q3), 6) AS q3,
  CAST(COUNT(CASE WHEN e.value
    < f.q1 - 1.5 * (f.q3 - f.q1) THEN 1 END) AS BIGINT) AS n_low,
  CAST(COUNT(CASE WHEN e.value
    > f.q3 + 1.5 * (f.q3 - f.q1) THEN 1 END) AS BIGINT) AS n_high,
  CAST((2 * (COUNT(CASE WHEN e.value
      < f.q1 - 1.5 * (f.q3 - f.q1) THEN 1 END)
    + COUNT(CASE WHEN e.value
      > f.q3 + 1.5 * (f.q3 - f.q1) THEN 1 END)) * 1000000 + COUNT(*))
    // (2 * COUNT(*)) AS BIGINT) AS out_ppm
FROM events e JOIN fences f USING (event_type)
GROUP BY 1 ORDER BY event_type
"""


# ------------------------------------------------------------- a_anova_f
#
# Round-7 batch 5: one-way ANOVA, Theil–Sen robust trend, a
# fixed-weight logistic quality filter (model-inference shape), and
# ROUGE-1/2 summarization eval.


def a_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types (Fisher 1925, public): F
    statistic for "do the type means differ?" plus the eta² effect
    size — the k-sample generalization of a_welch_ttest.

    Determinism: per-type moments are exact DECIMAL(18,6) sums; each
    type's s²/n between-group term is micro-rounded to BIGINT so the
    Σ over types is an exact integer fold (a 5-term double sum would
    be addition-order-dependent); the final F/eta² chain is identical
    IEEE over those exact integers.

    Scale shape: one map-side-combined groupBy(event_type), then a
    |types|-row agg — nothing else shuffles."""
    t = load_tables(spark, sf_dir, ["events"])
    v = F.col("value").cast("decimal(18,6)")
    g = t["events"].groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum(v).alias("si"),
        F.sum(v * v).alias("qi"),
    )
    term_u = F.round(
        F.col("si").cast("double")
        * F.col("si").cast("double")
        / F.col("ni")
        * F.lit(1_000_000.0),
        0,
    ).cast("long")
    agg = g.select("ni", "si", "qi", term_u.alias("tu")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ni").alias("n"),
        F.sum("si").alias("s"),
        F.sum("qi").alias("q"),
        F.sum("tu").alias("t_u"),
    )
    s_d, q_d, n = F.col("s").cast("double"), F.col("q").cast("double"), F.col("n")
    bg = F.col("t_u") / F.lit(1_000_000.0)
    ssb = bg - s_d * s_d / n
    ssw = q_d - bg
    k = F.col("k")
    fstat = (ssb / (k - F.lit(1))) / (ssw / (n - k))
    ok = (k > 1) & (n > k) & (ssw > 0)
    return agg.select(
        k.cast("long").alias("k_groups"),
        n.cast("long").alias("n"),
        F.when(ok, F.round(fstat, 6) + F.lit(0.0)).alias("f_stat"),
        F.when(
            ssb + ssw > 0, F.round(ssb / (ssb + ssw), 6) + F.lit(0.0)
        ).alias("eta_sq"),
    )


A_ANOVA_F_SQL = """
WITH g AS (
  SELECT event_type, COUNT(*) AS ni,
    SUM(CAST(value AS DECIMAL(18,6))) AS si,
    SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
      AS qi
  FROM events GROUP BY 1
), a AS (
  SELECT COUNT(*) AS k, CAST(SUM(ni) AS BIGINT) AS n,
    SUM(si) AS s, SUM(qi) AS q,
    CAST(SUM(CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / ni
      * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS t_u
  FROM g
)
SELECT CAST(k AS BIGINT) AS k_groups, n,
  CASE WHEN k > 1 AND n > k
      AND CAST(q AS DOUBLE) - t_u / 1000000.0 > 0
    THEN round(((t_u / 1000000.0
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1))
      / ((CAST(q AS DOUBLE) - t_u / 1000000.0) / (n - k)), 6) + 0.0
    END AS f_stat,
  CASE WHEN (t_u / 1000000.0 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
      + (CAST(q AS DOUBLE) - t_u / 1000000.0) > 0
    THEN round((t_u / 1000000.0
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
      / ((t_u / 1000000.0 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        + (CAST(q AS DOUBLE) - t_u / 1000000.0)), 6) + 0.0
    END AS eta_sq
FROM a
"""


# ------------------------------------------------------------ w_theil_sen


def w_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per symbol (Theil 1950 / Sen 1968,
    public): the median of all pairwise daily-close slopes — immune to
    ~29% outliers where a_regression's OLS slope is not.

    Determinism: slopes are one identical IEEE division over the same
    close doubles and exact day gaps; the median is a DISCRETE order
    statistic (rank ⌈m/2⌉ under a total order with the pair ids as
    tiebreaker — no even/odd interpolation convention to disagree on).

    Scale shape: the pair frame is |days|² per symbol — CALENDAR-
    bounded (a decade is ~6.7M pairs), not data-bounded, so the
    self-join and per-symbol rank window stay fixed-size as the tick
    corpus grows; the day-close extraction upstream is the same
    day-bounded window ti_sharpe uses."""
    t = load_tables(spark, sf_dir, ["events"])
    closes = _daily_closes(t["events"])
    a = closes.select(
        "event_type",
        F.col("day").alias("d1"),
        F.col("close").alias("c1"),
    )
    b = closes.select(
        "event_type",
        F.col("day").alias("d2"),
        F.col("close").alias("c2"),
    )
    pairs = a.join(b, "event_type").where(F.col("d2") > F.col("d1"))
    slope = (F.col("c2") - F.col("c1")) / F.datediff("d2", "d1")
    sl = pairs.select("event_type", "d1", "d2", slope.alias("slope"))
    cnt = sl.groupBy("event_type").agg(F.count(F.lit(1)).alias("m"))
    w = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    med = (
        sl.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(cnt), "event_type")
        .where(
            F.col("rn")
            == F.call_function("div", F.col("m") + 1, F.lit(2))
        )
    )
    return med.select(
        "event_type",
        F.col("m").cast("long").alias("n_pairs"),
        (F.round("slope", 6) + F.lit(0.0)).alias("theil_slope"),
    ).orderBy("event_type")


W_THEIL_SEN_SQL = f"""
WITH closes AS ({_CLOSES_SQL}),
pairs AS (
  SELECT a.event_type, a.day AS d1, b.day AS d2,
    (b.close - a.close) / (b.day - a.day) AS slope
  FROM closes a JOIN closes b USING (event_type)
  WHERE b.day > a.day
), ranked AS (
  SELECT event_type, slope,
    row_number() OVER (PARTITION BY event_type
      ORDER BY slope, d1, d2) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM pairs
)
SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
  round(slope, 6) + 0.0 AS theil_slope
FROM ranked WHERE rn = (m + 1) // 2 ORDER BY event_type
"""


# --------------------------------------------------------- t_quality_logreg

# Fixed public-style quality-classifier weights (the shape of a
# fastText/CCNet-style learned filter, frozen so inference is a pure
# deterministic expression): z = b + w·features.
_LR_B = -3.0
_LR_W_LOGLEN = 0.55
_LR_W_STOP = 6.0
_LR_W_PUNCT = -4.0
_LR_W_DIGIT = -5.0
_LR_W_WLEN = 0.12


def t_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — logistic-regression INFERENCE
    over text features with frozen weights (the CCNet/fastText
    quality-classifier shape: the model is trained offline; the
    engine's job is the distributed scoring pass).  Features: log
    token count, stopword ratio, punctuation ratio, digit ratio, mean
    word length.  Per source: docs, kept docs (σ(z) ≥ 0.5), exact
    keep-rate ppm, mean score.

    Determinism: every feature is a ratio of exact integer counts;
    z and σ(z) = 1/(1+e^(−z)) are the identical IEEE chain in both
    engines; per-doc scores micro-round to BIGINT so the per-source
    mean is an exact fold + half-away division.

    Scale shape: pure codegen string expressions per row, one
    map-side-combined groupBy(source) — embarrassingly parallel, the
    ideal 100 TB filter pass."""
    from kp_crypto_market_analytics_spark.functions.text import (
        stopword_hits,
        token_count,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"]
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    toks = token_count("text")
    stop = stopword_hits("text")
    ln_len = F.length(norm)
    no_punct = F.replace(
        F.replace(
            F.replace(
                F.replace(norm, F.lit("."), F.lit("")),
                F.lit(","),
                F.lit(""),
            ),
            F.lit("!"),
            F.lit(""),
        ),
        F.lit("?"),
        F.lit(""),
    )
    n_punct = ln_len - F.length(no_punct)
    n_digit = ln_len - F.length(F.regexp_replace(norm, "[0-9]", ""))
    n_alpha = ln_len - (toks - F.lit(1))  # chars minus separators
    f1 = F.log(F.lit(1.0) + toks)
    f2 = stop / toks.cast("double")
    f3 = n_punct / ln_len.cast("double")
    f4 = n_digit / ln_len.cast("double")
    f5 = n_alpha / toks.cast("double")
    z = (
        F.lit(_LR_B)
        + F.lit(_LR_W_LOGLEN) * f1
        + F.lit(_LR_W_STOP) * f2
        + F.lit(_LR_W_PUNCT) * f3
        + F.lit(_LR_W_DIGIT) * f4
        + F.lit(_LR_W_WLEN) * f5
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    score = F.when((toks > 0) & (ln_len > 0), p).otherwise(F.lit(0.0))
    scored = d.select(
        "source",
        F.round(score * F.lit(1_000_000.0), 0).cast("long").alias("su"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("su") >= 500_000, F.lit(1))).alias("n_kept"),
        F.sum("su").alias("ssum"),
    )
    ppm = F.call_function(
        "div",
        F.lit(2) * F.col("n_kept") * F.lit(1_000_000) + F.col("n_docs"),
        F.lit(2) * F.col("n_docs"),
    )
    mean_u = F.call_function(
        "div",
        F.lit(2) * F.col("ssum") + F.col("n_docs"),
        F.lit(2) * F.col("n_docs"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_kept").cast("long").alias("n_kept"),
        ppm.cast("long").alias("keep_ppm"),
        (mean_u / F.lit(1_000_000.0)).alias("mean_score"),
    ).orderBy("source")


def _t_quality_logreg_sql() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS

    hit_terms = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2}"
        " AS BIGINT)"
        for w in STOPWORDS
    )
    return f"""
WITH norm AS (
  SELECT source, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
  FROM documents
), base AS (
  SELECT source, t, ' ' || lower(t) || ' ' AS p,
    CASE WHEN length(t) = 0 THEN 0
      ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
      END AS toks,
    length(t) AS ln_len
  FROM norm
), feats AS (
  SELECT source, toks, ln_len,
    {hit_terms} AS stop,
    ln_len - length(replace(replace(replace(replace(t, '.', ''),
      ',', ''), '!', ''), '?', '')) AS n_punct,
    ln_len - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
    ln_len - (toks - 1) AS n_alpha
  FROM base
), z AS (
  SELECT source,
    CASE WHEN toks > 0 AND ln_len > 0 THEN
      1.0 / (1.0 + exp(-({_LR_B!r}
        + {_LR_W_LOGLEN!r} * ln(1.0 + toks)
        + {_LR_W_STOP!r} * (stop / CAST(toks AS DOUBLE))
        + {_LR_W_PUNCT!r} * (n_punct / CAST(ln_len AS DOUBLE))
        + {_LR_W_DIGIT!r} * (n_digit / CAST(ln_len AS DOUBLE))
        + {_LR_W_WLEN!r} * (n_alpha / CAST(toks AS DOUBLE)))))
      ELSE 0.0 END AS score
  FROM feats
), su AS (
  SELECT source, CAST(round(score * 1000000.0, 0) AS BIGINT) AS su
  FROM z
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(CASE WHEN su >= 500000 THEN 1 END) AS BIGINT) AS n_kept,
  CAST((2 * COUNT(CASE WHEN su >= 500000 THEN 1 END) * 1000000
    + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS keep_ppm,
  CAST((2 * CAST(SUM(su) AS BIGINT) + COUNT(*)) // (2 * COUNT(*))
    AS BIGINT) / 1000000.0 AS mean_score
FROM su GROUP BY 1 ORDER BY source
"""


# ------------------------------------------------------------ t_rouge_eval


def t_rouge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 F1 (Lin 2004, public) over candidate/reference
    document pairs — the n-gram-overlap eval every summarization and
    generation pipeline reports.  Pairs are deterministic: each doc's
    reference is its predecessor by doc_id within the same source.
    Per source: pair count and the mean ROUGE-1 / ROUGE-2 F1.

    Determinism: clipped overlap Σ min(count_cand, count_ref) is exact
    integer arithmetic; precision/recall/F1 are one identical IEEE
    chain over exact integers; per-doc F1 micro-rounds to BIGINT so
    the per-source mean is an exact fold + half-away division.

    Scale shape: gram counting is explode → map-side-combined agg on
    (doc, gram); the overlap join co-shuffles the two count streams on
    the gram key — document payloads never move after tokenize.  The
    pairing lag window partitions by source; at 100 TB re-key it to
    (source, doc_id range) buckets — the pairing is order-local, so
    range buckets preserve it."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"].select(
        "doc_id", "source", F.split(_norm_text(), " ").alias("toks")
    )
    wp = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        d.select(
            "source",
            F.col("doc_id").alias("cand"),
            F.lag("doc_id").over(wp).alias("ref"),
        )
        .where(F.col("ref").isNotNull())
    )
    uni = d.select(
        "doc_id", F.lit(1).alias("g"), F.explode("toks").alias("gram")
    )
    n = F.size("toks") - 1
    bi = (
        d.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.lit(2).alias("g"),
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n),
                    F.slice("toks", 2, n),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("gram"),
        )
    )
    gc = (
        uni.unionByName(bi)
        .groupBy("doc_id", "g", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    glen = gc.groupBy("doc_id", "g").agg(F.sum("c").alias("glen"))
    gcc = gc.select(
        F.col("doc_id").alias("cand"), "g", "gram", F.col("c").alias("c1")
    )
    gcr = gc.select(
        F.col("doc_id").alias("ref"), "g", "gram", F.col("c").alias("c2")
    )
    ov = (
        pairs.join(gcc, "cand")
        .join(gcr, ["ref", "g", "gram"])
        .groupBy("source", "cand", "ref", "g")
        .agg(F.sum(F.least("c1", "c2")).alias("ov"))
    )
    spine = pairs.select(
        "source",
        "cand",
        "ref",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("g"),
    )
    lc = glen.select(
        F.col("doc_id").alias("cand"),
        F.col("g").alias("g"),
        F.col("glen").alias("len_c"),
    )
    lr = glen.select(
        F.col("doc_id").alias("ref"),
        F.col("g").alias("g"),
        F.col("glen").alias("len_r"),
    )
    j = (
        spine.join(ov, ["source", "cand", "ref", "g"], "left")
        .join(lc, ["cand", "g"], "left")
        .join(lr, ["ref", "g"], "left")
    )
    o = F.coalesce(F.col("ov"), F.lit(0)).cast("double")
    p = o / F.col("len_c")
    r = o / F.col("len_r")
    f1 = F.when(
        (F.coalesce(F.col("len_c"), F.lit(0)) > 0)
        & (F.coalesce(F.col("len_r"), F.lit(0)) > 0)
        & (o > 0),
        F.lit(2.0) * p * r / (p + r),
    ).otherwise(F.lit(0.0))
    fu = F.round(f1 * F.lit(1_000_000.0), 0).cast("long")
    agg = j.select("source", "g", fu.alias("fu")).groupBy("source").agg(
        F.count(F.when(F.col("g") == 1, F.lit(1))).alias("n_pairs"),
        F.sum(F.when(F.col("g") == 1, F.col("fu"))).alias("s1"),
        F.sum(F.when(F.col("g") == 2, F.col("fu"))).alias("s2"),
    )

    def mean6(s):
        u = F.call_function(
            "div",
            F.lit(2) * s + F.col("n_pairs"),
            F.lit(2) * F.col("n_pairs"),
        )
        return u / F.lit(1_000_000.0)

    return agg.select(
        "source",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        mean6(F.col("s1")).alias("rouge1_f1"),
        mean6(F.col("s2")).alias("rouge2_f1"),
    ).orderBy("source")


T_ROUGE_EVAL_SQL = f"""
WITH norm AS (
  SELECT doc_id, source, string_split({NORM_TEXT_SQL}, ' ') AS l
  FROM documents
), pairs AS (
  SELECT * FROM (
    SELECT source, doc_id AS cand,
      lag(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref
    FROM norm
  ) WHERE ref IS NOT NULL
), uni AS (
  SELECT doc_id, 1 AS g, unnest(l) AS gram FROM norm
), bi AS (
  SELECT doc_id, 2 AS g, l[i] || ' ' || l[i + 1] AS gram
  FROM (
    SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
    FROM norm
  )
), gc AS (
  SELECT doc_id, g, gram, COUNT(*) AS c
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY 1, 2, 3
), glen AS (
  SELECT doc_id, g, CAST(SUM(c) AS BIGINT) AS glen FROM gc GROUP BY 1, 2
), ov AS (
  SELECT p.source, p.cand, p.ref, a.g,
    CAST(SUM(least(a.c, b.c)) AS BIGINT) AS ov
  FROM pairs p
  JOIN gc a ON a.doc_id = p.cand
  JOIN gc b ON b.doc_id = p.ref AND b.g = a.g AND b.gram = a.gram
  GROUP BY 1, 2, 3, 4
), spine AS (
  SELECT p.source, p.cand, p.ref, v.g
  FROM pairs p, (VALUES (1), (2)) v(g)
), f AS (
  SELECT s.source, s.g,
    CAST(round(
      CASE WHEN coalesce(lc.glen, 0) > 0 AND coalesce(lr.glen, 0) > 0
          AND coalesce(o.ov, 0) > 0
        THEN 2.0 * (CAST(coalesce(o.ov, 0) AS DOUBLE) / lc.glen)
          * (CAST(coalesce(o.ov, 0) AS DOUBLE) / lr.glen)
          / ((CAST(coalesce(o.ov, 0) AS DOUBLE) / lc.glen)
            + (CAST(coalesce(o.ov, 0) AS DOUBLE) / lr.glen))
        ELSE 0.0 END * 1000000.0, 0) AS BIGINT) AS fu
  FROM spine s
  LEFT JOIN ov o ON o.source = s.source AND o.cand = s.cand
    AND o.ref = s.ref AND o.g = s.g
  LEFT JOIN glen lc ON lc.doc_id = s.cand AND lc.g = s.g
  LEFT JOIN glen lr ON lr.doc_id = s.ref AND lr.g = s.g
)
SELECT source,
  CAST(COUNT(CASE WHEN g = 1 THEN 1 END) AS BIGINT) AS n_pairs,
  CAST((2 * CAST(SUM(CASE WHEN g = 1 THEN fu END) AS BIGINT)
    + COUNT(CASE WHEN g = 1 THEN 1 END))
    // (2 * COUNT(CASE WHEN g = 1 THEN 1 END)) AS BIGINT)
    / 1000000.0 AS rouge1_f1,
  CAST((2 * CAST(SUM(CASE WHEN g = 2 THEN fu END) AS BIGINT)
    + COUNT(CASE WHEN g = 2 THEN 1 END))
    // (2 * COUNT(CASE WHEN g = 2 THEN 1 END)) AS BIGINT)
    / 1000000.0 AS rouge2_f1
FROM f GROUP BY 1 ORDER BY source
"""


# ------------------------------------------------------------ a_survival_km
#
# Round-7 batch 6: survival analysis (Kaplan-Meier retention) and a
# decision-stump split search (information gain) — the two classic
# statistical-learning primitives the family still lacked.

_KM_HORIZONS = (30, 90, 180, 365, 730)
# ln(1e-12)*1e6, the documented floor when an event day wipes out the
# whole risk set (factor 0 -> survival collapses; exp(ln) cannot carry
# a true 0).  Both engines use the identical integer constant.
_KM_LN_FLOOR = -27631021


def a_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve (Kaplan & Meier 1958, public) for
    the repeat-purchase event: per customer, time from first order to
    second order (event) or to the dataset's last order date
    (right-censored).  Survival S(t) = Π_{u≤t} (1 − d_u/n_u) reported
    at the standard horizons (30/90/180/365/730 days) with the at-risk
    and cumulative-event counts — THE retention statistic, and the
    censoring-aware upgrade of a_retention_cohorts.

    Determinism: death/censor counts per duration day are exact
    integers; the at-risk prefix comes from range_partitioned_rank's
    fused cumulative sum (zero window nodes); each day's ln(1−d/n) is
    one identical IEEE op micro-rounded to BIGINT, so the Π (as Σ of
    logs) is an exact integer fold and S(t) = exp(Σ/1e6) is a single
    identical IEEE chain.  An event day that empties the risk set
    floors at the documented ln(1e-12) constant.

    Scale shape: two order-table aggs (first/second order per
    customer), a duration-day histogram BOUNDED by the calendar
    (~2.5k rows for TPC-H's span), the helper's range cumsum over that
    bounded frame, and a 5-row horizon broadcast — nothing
    corpus-sized shuffles twice."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["orders"])
    o = t["orders"].select("o_custkey", F.to_date("o_orderdate").alias("d"))
    first = o.groupBy("o_custkey").agg(F.min("d").alias("d1"))
    second = (
        o.join(first, "o_custkey")
        .where(F.col("d") > F.col("d1"))
        .groupBy("o_custkey")
        .agg(F.min("d").alias("d2"))
    )
    end = o.agg(F.max("d").alias("d_end"))
    subj = (
        first.join(second, "o_custkey", "left")
        .crossJoin(F.broadcast(end))
        .select(
            F.when(
                F.col("d2").isNotNull(), F.datediff("d2", "d1")
            )
            .otherwise(F.datediff("d_end", "d1"))
            .alias("dur"),
            F.col("d2").isNotNull().alias("is_event"),
        )
    )
    days = subj.groupBy("dur").agg(
        F.count(F.when(F.col("is_event"), F.lit(1))).alias("e"),
        F.count(F.when(~F.col("is_event"), F.lit(1))).alias("c"),
    )
    n_subj = subj.agg(F.count(F.lit(1)).alias("n_subj"))
    rp = range_partitioned_rank(
        days.withColumn("tot", F.col("e") + F.col("c")),
        [F.col("dur").asc()],
        n_ranges=8,
        sum_col="tot",
    ).crossJoin(F.broadcast(n_subj))
    n_at = F.col("n_subj") - (F.col("global_cumsum") - F.col("tot"))
    factor = F.lit(1.0) - F.col("e") / n_at.cast("double")
    lf = F.when(
        F.col("e") > 0,
        F.when(
            factor > 0,
            F.round(F.log(factor) * F.lit(1_000_000.0), 0).cast("long"),
        ).otherwise(F.lit(_KM_LN_FLOOR)),
    ).otherwise(F.lit(0))
    day_lf = rp.select("dur", "e", "c", lf.alias("lf"))
    horizons = F.explode(
        F.array(*[F.lit(h) for h in _KM_HORIZONS])
    ).alias("horizon_days")
    sp = day_lf.select("dur", "e", "c", "lf", horizons).groupBy(
        "horizon_days"
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col("dur") <= F.col("horizon_days"), F.col("lf"))),
            F.lit(0),
        ).alias("slf"),
        F.coalesce(
            F.sum(F.when(F.col("dur") <= F.col("horizon_days"), F.col("e"))),
            F.lit(0),
        ).alias("ev"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("dur") < F.col("horizon_days"),
                    F.col("e") + F.col("c"),
                )
            ),
            F.lit(0),
        ).alias("gone"),
    )
    return sp.crossJoin(F.broadcast(n_subj)).select(
        F.col("horizon_days").cast("long").alias("horizon_days"),
        (F.col("n_subj") - F.col("gone")).cast("long").alias("n_risk"),
        F.col("ev").cast("long").alias("n_events_cum"),
        F.round(
            F.exp(F.col("slf") / F.lit(1_000_000.0)), 6
        ).alias("survival"),
    ).orderBy("horizon_days")


def _a_survival_km_sql() -> str:
    hs = ", ".join(f"({h})" for h in _KM_HORIZONS)
    return f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
), first AS (
  SELECT o_custkey, MIN(d) AS d1 FROM o GROUP BY 1
), second AS (
  SELECT o.o_custkey, MIN(o.d) AS d2
  FROM o JOIN first f ON o.o_custkey = f.o_custkey AND o.d > f.d1
  GROUP BY 1
), subj AS (
  SELECT CASE WHEN s.d2 IS NOT NULL THEN s.d2 - f.d1
    ELSE (SELECT MAX(d) FROM o) - f.d1 END AS dur,
    s.d2 IS NOT NULL AS is_event
  FROM first f LEFT JOIN second s USING (o_custkey)
), days AS (
  SELECT dur, COUNT(CASE WHEN is_event THEN 1 END) AS e,
    COUNT(CASE WHEN NOT is_event THEN 1 END) AS c
  FROM subj GROUP BY 1
), n AS (SELECT COUNT(*) AS n_subj FROM subj),
pre AS (
  SELECT dur, e, c,
    n.n_subj - coalesce(SUM(e + c) OVER (ORDER BY dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at
  FROM days, n
), lf AS (
  SELECT dur, e, c,
    CASE WHEN e > 0 THEN
      CASE WHEN 1.0 - e / CAST(n_at AS DOUBLE) > 0
        THEN CAST(round(ln(1.0 - e / CAST(n_at AS DOUBLE))
          * 1000000.0, 0) AS BIGINT)
        ELSE {_KM_LN_FLOOR} END
      ELSE 0 END AS lf
  FROM pre
)
SELECT CAST(h.h AS BIGINT) AS horizon_days,
  CAST((SELECT n_subj FROM n)
    - coalesce(CAST(SUM(CASE WHEN dur < h.h THEN e + c END) AS BIGINT),
      0) AS BIGINT) AS n_risk,
  coalesce(CAST(SUM(CASE WHEN dur <= h.h THEN e END) AS BIGINT), 0)
    AS n_events_cum,
  round(exp(coalesce(CAST(SUM(CASE WHEN dur <= h.h THEN lf END)
    AS BIGINT), 0) / 1000000.0), 6) AS survival
FROM lf, (VALUES {hs}) h(h)
GROUP BY h.h ORDER BY horizon_days
"""


# --------------------------------------------------------- a_info_gain_split


def a_info_gain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search (Quinlan 1986 ID3, public): the
    information gain of splitting events on value ≤ θ for predicting
    the (alphabetically first) event type, evaluated at the nine
    inner deciles — the inner loop of every tree/GBDT trainer, as one
    scan + one 9-row broadcast.

    Determinism: decile thresholds are DISCRETE order statistics at
    integer ranks ⌈i·n/10⌉ via range_partitioned_rank (no single-
    partition sort, no interpolation); split counts are exact
    integers; the entropy-in-nats chain −(p·ln p + (1−p)·ln(1−p)) and
    the gain are one identical IEEE expression over those integers in
    both engines (boundary terms zeroed at p ∈ {0,1}).

    Scale shape: one distributed range sort for the ranks, one
    events × 9-threshold broadcast explode collapsed by map-side
    partials into 9 rows — the classic histogram-based split finder
    (LightGBM's approximation, public) falls out by swapping the
    exact ranks for a_histogram's fixed bins."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select("event_type", "value", "event_id")
    cnt = e.agg(
        F.count(F.lit(1)).alias("n_tot"),
        F.min("event_type").alias("pos_type"),
    )
    ranked = range_partitioned_rank(
        e.select("value", "event_id"),
        [F.col("value").asc(), F.col("event_id").asc()],
        n_ranges=32,
    ).crossJoin(F.broadcast(cnt))
    decile = F.explode(
        F.array(*[F.lit(i) for i in range(1, 10)])
    ).alias("decile")
    th = (
        ranked.select("value", "global_rn", "n_tot", decile)
        .where(
            F.col("global_rn")
            == F.call_function(
                "div",
                F.col("decile") * F.col("n_tot") + F.lit(9),
                F.lit(10),
            )
        )
        .select("decile", F.col("value").alias("theta"))
    )
    scored = e.crossJoin(F.broadcast(cnt)).crossJoin(F.broadcast(th))
    pos = F.col("event_type") == F.col("pos_type")
    le = F.col("value") <= F.col("theta")
    g = scored.groupBy("decile", "theta").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(pos, F.lit(1))).alias("p_all"),
        F.count(F.when(le, F.lit(1))).alias("n_le"),
        F.count(F.when(le & pos, F.lit(1))).alias("p_le"),
    )

    def ent(p_cnt, n_cnt):
        p = p_cnt / n_cnt.cast("double")
        q = F.lit(1.0) - p
        tp = F.when((p_cnt > 0) & (p_cnt < n_cnt), -(p * F.log(p))).otherwise(
            F.lit(0.0)
        )
        tq = F.when((p_cnt > 0) & (p_cnt < n_cnt), -(q * F.log(q))).otherwise(
            F.lit(0.0)
        )
        return tp + tq

    n, n_le = F.col("n"), F.col("n_le")
    n_gt = n - n_le
    p_gt = F.col("p_all") - F.col("p_le")
    h_parent = ent(F.col("p_all"), n)
    h_le = F.when(n_le > 0, ent(F.col("p_le"), n_le)).otherwise(F.lit(0.0))
    h_gt = F.when(n_gt > 0, ent(p_gt, n_gt)).otherwise(F.lit(0.0))
    gain = h_parent - (
        n_le / n.cast("double") * h_le + n_gt / n.cast("double") * h_gt
    )
    return g.select(
        F.col("decile").cast("long").alias("decile"),
        F.round("theta", 6).alias("theta"),
        n_le.cast("long").alias("n_le"),
        F.col("p_le").cast("long").alias("pos_le"),
        (F.round(gain, 6) + F.lit(0.0)).alias("info_gain"),
    ).orderBy("decile")


def _a_info_gain_split_sql() -> str:
    def ent(p_cnt, n_cnt):
        p = f"({p_cnt} / CAST({n_cnt} AS DOUBLE))"
        q = f"(1.0 - {p})"
        tp = (
            f"CASE WHEN {p_cnt} > 0 AND {p_cnt} < {n_cnt}"
            f" THEN -({p} * ln({p})) ELSE 0.0 END"
        )
        tq = (
            f"CASE WHEN {p_cnt} > 0 AND {p_cnt} < {n_cnt}"
            f" THEN -({q} * ln({q})) ELSE 0.0 END"
        )
        return f"({tp} + {tq})"

    h_parent = ent("p_all", "n")
    h_le = f"CASE WHEN n_le > 0 THEN {ent('p_le', 'n_le')} ELSE 0.0 END"
    h_gt = (
        "CASE WHEN n - n_le > 0"
        f" THEN {ent('(p_all - p_le)', '(n - n_le)')} ELSE 0.0 END"
    )
    gain = (
        f"{h_parent} - (n_le / CAST(n AS DOUBLE) * ({h_le})"
        f" + (n - n_le) / CAST(n AS DOUBLE) * ({h_gt}))"
    )
    return f"""
WITH cnt AS (
  SELECT COUNT(*) AS n_tot, MIN(event_type) AS pos_type FROM events
), ranked AS (
  SELECT value,
    row_number() OVER (ORDER BY value, event_id) AS rn
  FROM events
), th AS (
  SELECT d.d AS decile, r.value AS theta
  FROM ranked r CROSS JOIN cnt
  JOIN (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9)) d(d)
    ON r.rn = (d.d * cnt.n_tot + 9) // 10
), g AS (
  SELECT t.decile, t.theta, COUNT(*) AS n,
    COUNT(CASE WHEN e.event_type = c.pos_type THEN 1 END) AS p_all,
    COUNT(CASE WHEN e.value <= t.theta THEN 1 END) AS n_le,
    COUNT(CASE WHEN e.value <= t.theta
      AND e.event_type = c.pos_type THEN 1 END) AS p_le
  FROM events e CROSS JOIN cnt c CROSS JOIN th t
  GROUP BY 1, 2
)
SELECT CAST(decile AS BIGINT) AS decile,
  round(theta, 6) AS theta,
  CAST(n_le AS BIGINT) AS n_le,
  CAST(p_le AS BIGINT) AS pos_le,
  round({gain}, 6) + 0.0 AS info_gain
FROM g ORDER BY decile
"""


# ------------------------------------------------------------ w_runs_test
#
# Round-7 batch 7: randomness/trend tests on the daily series and the
# Gopher corpus-quality rule census.


def w_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test (1940, public) on the sign sequence of
    daily close-to-close moves per symbol: are up/down days random, or
    do they streak?  Complements w_streaks (which reports the streaks)
    with the significance z-score.

    Determinism: up/down/run counts are exact integers from the same
    calendar-bounded day lag ti_sharpe uses (zero-change days dropped,
    both engines identically); the μ/σ/z chain is one identical IEEE
    expression over those integers.

    Scale shape: day-bounded close window + calendar-bounded lag, one
    |symbols|-row agg."""
    t = load_tables(spark, sf_dir, ["events"])
    closes = _daily_closes(t["events"])
    w = Window.partitionBy("event_type").orderBy("day")
    closes = closes.withColumn("__prev", F.lag("close").over(w))
    prev = F.col("__prev")
    sgn = F.when(F.col("close") > prev, F.lit(1)).when(
        F.col("close") < prev, F.lit(-1)
    )
    signs = (
        closes.withColumn("sgn", sgn)
        .where(F.col("sgn").isNotNull())
        .withColumn("prev_sgn", F.lag("sgn").over(w))
    )
    agg = signs.groupBy("event_type").agg(
        F.count(F.when(F.col("sgn") == 1, F.lit(1))).alias("n1"),
        F.count(F.when(F.col("sgn") == -1, F.lit(1))).alias("n2"),
        (
            F.lit(1)
            + F.count(
                F.when(
                    F.col("prev_sgn").isNotNull()
                    & (F.col("sgn") != F.col("prev_sgn")),
                    F.lit(1),
                )
            )
        ).alias("runs"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    mu = F.lit(1.0) + F.lit(2.0) * n1 * n2 / n
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (n * n * (n - F.lit(1.0)))
    )
    ok = (F.col("n1") > 0) & (F.col("n2") > 0) & (n > 1) & (var > 0)
    z = (F.col("runs") - mu) / F.sqrt(var)
    return agg.select(
        "event_type",
        F.col("n1").cast("long").alias("n_up"),
        F.col("n2").cast("long").alias("n_down"),
        F.col("runs").cast("long").alias("n_runs"),
        F.when(ok, F.round(z, 6) + F.lit(0.0)).alias("runs_z"),
    ).orderBy("event_type")


W_RUNS_TEST_SQL = f"""
WITH closes AS ({_CLOSES_SQL}),
moves AS (
  SELECT event_type, day,
    CASE WHEN close > lag(close) OVER w THEN 1
         WHEN close < lag(close) OVER w THEN -1 END AS sgn
  FROM closes WINDOW w AS (PARTITION BY event_type ORDER BY day)
), signs AS (
  SELECT event_type, sgn,
    lag(sgn) OVER (PARTITION BY event_type ORDER BY day) AS prev_sgn
  FROM moves WHERE sgn IS NOT NULL
), agg AS (
  SELECT event_type,
    COUNT(CASE WHEN sgn = 1 THEN 1 END) AS n1,
    COUNT(CASE WHEN sgn = -1 THEN 1 END) AS n2,
    1 + COUNT(CASE WHEN prev_sgn IS NOT NULL AND sgn <> prev_sgn
      THEN 1 END) AS runs
  FROM signs GROUP BY 1
)
SELECT event_type,
  CAST(n1 AS BIGINT) AS n_up,
  CAST(n2 AS BIGINT) AS n_down,
  CAST(runs AS BIGINT) AS n_runs,
  CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
      AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) > 0
    THEN round((runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) + 0.0
    END AS runs_z
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------- a_mann_kendall


def a_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test (Mann 1945 / Kendall 1975, public) on
    daily closes per symbol: S = Σ sign(c_j − c_i) over i<j, the
    tie-corrected variance, and the normal-approximation z — the
    significance partner of w_theil_sen's slope (the pair every
    hydrology/market trend report prints together).

    Determinism: S and the tie groups are exact integer counts over
    the same calendar-bounded pair frame w_theil_sen builds; the
    variance and z (with the ±1 continuity correction) are one
    identical IEEE chain over exact integers.

    Scale shape: |days|² pair frame, calendar-bounded; tie groups are
    a |distinct closes|-row agg; one |symbols|-row result."""
    t = load_tables(spark, sf_dir, ["events"])
    closes = _daily_closes(t["events"])
    a = closes.select(
        "event_type", F.col("day").alias("d1"), F.col("close").alias("c1")
    )
    b = closes.select(
        "event_type", F.col("day").alias("d2"), F.col("close").alias("c2")
    )
    pairs = a.join(b, "event_type").where(F.col("d2") > F.col("d1"))
    s_agg = pairs.groupBy("event_type").agg(
        (
            F.count(F.when(F.col("c2") > F.col("c1"), F.lit(1)))
            - F.count(F.when(F.col("c2") < F.col("c1"), F.lit(1)))
        ).alias("s"),
        F.count(F.lit(1)).alias("m"),
    )
    n_days = closes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    ties = (
        closes.groupBy("event_type", "close")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t")
                * (F.col("t") - F.lit(1))
                * (F.lit(2) * F.col("t") + F.lit(5))
            ).alias("tie_corr")
        )
    )
    j = (
        s_agg.join(n_days, "event_type")
        .join(ties, "event_type", "left")
        .withColumn("tc", F.coalesce(F.col("tie_corr"), F.lit(0)))
    )
    n = F.col("n").cast("double")
    var = (
        n * (n - F.lit(1.0)) * (F.lit(2.0) * n + F.lit(5.0))
        - F.col("tc")
    ) / F.lit(18.0)
    s = F.col("s")
    z = F.when(s > 0, (s - F.lit(1)) / F.sqrt(var)).when(
        s < 0, (s + F.lit(1)) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    tau = s / F.col("m").cast("double")
    return j.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        s.cast("long").alias("s_stat"),
        (F.round(tau, 6) + F.lit(0.0)).alias("tau"),
        F.when(
            (F.col("n") > 1) & (var > 0),
            F.round(z, 6) + F.lit(0.0),
        ).alias("mk_z"),
    ).orderBy("event_type")


A_MANN_KENDALL_SQL = f"""
WITH closes AS ({_CLOSES_SQL}),
pairs AS (
  SELECT a.event_type, a.close AS c1, b.close AS c2
  FROM closes a JOIN closes b USING (event_type)
  WHERE b.day > a.day
), s_agg AS (
  SELECT event_type,
    COUNT(CASE WHEN c2 > c1 THEN 1 END)
      - COUNT(CASE WHEN c2 < c1 THEN 1 END) AS s,
    COUNT(*) AS m
  FROM pairs GROUP BY 1
), nd AS (
  SELECT event_type, COUNT(*) AS n FROM closes GROUP BY 1
), ties AS (
  SELECT event_type,
    SUM(t * (t - 1) * (2 * t + 5)) AS tie_corr
  FROM (
    SELECT event_type, close, COUNT(*) AS t
    FROM closes GROUP BY 1, 2
  ) WHERE t > 1 GROUP BY 1
), j AS (
  SELECT s_agg.event_type, s, m, n, coalesce(tie_corr, 0) AS tc
  FROM s_agg JOIN nd USING (event_type)
  LEFT JOIN ties ON ties.event_type = s_agg.event_type
)
SELECT event_type,
  CAST(n AS BIGINT) AS n_days,
  CAST(s AS BIGINT) AS s_stat,
  round(s / CAST(m AS DOUBLE), 6) + 0.0 AS tau,
  CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
      * (2.0 * CAST(n AS DOUBLE) + 5.0) - tc) / 18.0 > 0
    THEN round(CASE WHEN s > 0 THEN (s - 1)
        / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
          * (2.0 * CAST(n AS DOUBLE) + 5.0) - tc) / 18.0)
      WHEN s < 0 THEN (s + 1)
        / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
          * (2.0 * CAST(n AS DOUBLE) + 5.0) - tc) / 18.0)
      ELSE 0.0 END, 6) + 0.0
    END AS mk_z
FROM j ORDER BY event_type
"""


# ----------------------------------------------------------- t_gopher_rules

_GOPHER_MIN_TOKS = 50
_GOPHER_MAX_TOKS = 100_000
_GOPHER_MIN_WLEN = 3.0
_GOPHER_MAX_WLEN = 10.0
_GOPHER_MAX_DIGIT = 0.2
_GOPHER_MIN_STOP = 2


def t_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style corpus quality rules (Rae et al. 2021, public):
    the repetition-free heuristic gate every pretraining pipeline
    applies before model-based filtering.  Rules: token count in
    [50, 100k]; mean word length in [3, 10]; ≥ 2 stopword hits;
    digit-character ratio < 0.2.  Per source: docs, per-rule failure
    counts, docs passing ALL rules, exact pass ppm — the census that
    decides which crawl slices survive.

    Determinism: every rule is a comparison of exact integer counts
    (or one identical IEEE ratio of them); the census is pure integer
    arithmetic with an exact half-away ppm.

    Scale shape: codegen string expressions + ONE map-side-combined
    groupBy(source) — same embarrassingly-parallel filter-pass shape
    as t_quality_logreg."""
    from kp_crypto_market_analytics_spark.functions.text import (
        stopword_hits,
        token_count,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"]
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    toks = token_count("text")
    stop = stopword_hits("text")
    ln_len = F.length(norm)
    n_digit = ln_len - F.length(F.regexp_replace(norm, "[0-9]", ""))
    wlen = (ln_len - (toks - F.lit(1))) / toks.cast("double")
    r_len = (toks >= _GOPHER_MIN_TOKS) & (toks <= _GOPHER_MAX_TOKS)
    r_wlen = (
        (toks > 0)
        & (wlen >= F.lit(_GOPHER_MIN_WLEN))
        & (wlen <= F.lit(_GOPHER_MAX_WLEN))
    )
    r_stop = stop >= _GOPHER_MIN_STOP
    r_digit = (ln_len > 0) & (
        n_digit / ln_len.cast("double") < F.lit(_GOPHER_MAX_DIGIT)
    )
    flags = d.select(
        "source",
        r_len.alias("r_len"),
        r_wlen.alias("r_wlen"),
        r_stop.alias("r_stop"),
        r_digit.alias("r_digit"),
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(~F.col("r_len"), F.lit(1))).alias("fail_len"),
        F.count(F.when(~F.col("r_wlen"), F.lit(1))).alias("fail_wlen"),
        F.count(F.when(~F.col("r_stop"), F.lit(1))).alias("fail_stop"),
        F.count(F.when(~F.col("r_digit"), F.lit(1))).alias("fail_digit"),
        F.count(
            F.when(
                F.col("r_len")
                & F.col("r_wlen")
                & F.col("r_stop")
                & F.col("r_digit"),
                F.lit(1),
            )
        ).alias("n_pass"),
    )
    ppm = F.call_function(
        "div",
        F.lit(2) * F.col("n_pass") * F.lit(1_000_000) + F.col("n_docs"),
        F.lit(2) * F.col("n_docs"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("fail_len").cast("long").alias("fail_len"),
        F.col("fail_wlen").cast("long").alias("fail_wlen"),
        F.col("fail_stop").cast("long").alias("fail_stop"),
        F.col("fail_digit").cast("long").alias("fail_digit"),
        F.col("n_pass").cast("long").alias("n_pass"),
        ppm.cast("long").alias("pass_ppm"),
    ).orderBy("source")


def _t_gopher_rules_sql() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS

    hit_terms = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2}"
        " AS BIGINT)"
        for w in STOPWORDS
    )
    return f"""
WITH norm AS (
  SELECT source, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
  FROM documents
), base AS (
  SELECT source, t, ' ' || lower(t) || ' ' AS p,
    CASE WHEN length(t) = 0 THEN 0
      ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
      END AS toks,
    length(t) AS ln_len
  FROM norm
), flags AS (
  SELECT source,
    toks >= {_GOPHER_MIN_TOKS} AND toks <= {_GOPHER_MAX_TOKS} AS r_len,
    toks > 0
      AND (ln_len - (toks - 1)) / CAST(toks AS DOUBLE)
        >= {_GOPHER_MIN_WLEN!r}
      AND (ln_len - (toks - 1)) / CAST(toks AS DOUBLE)
        <= {_GOPHER_MAX_WLEN!r} AS r_wlen,
    ({hit_terms}) >= {_GOPHER_MIN_STOP} AS r_stop,
    ln_len > 0
      AND (ln_len - length(regexp_replace(t, '[0-9]', '', 'g')))
        / CAST(ln_len AS DOUBLE) < {_GOPHER_MAX_DIGIT!r} AS r_digit
  FROM base
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(CASE WHEN NOT r_len THEN 1 END) AS BIGINT) AS fail_len,
  CAST(COUNT(CASE WHEN NOT r_wlen THEN 1 END) AS BIGINT) AS fail_wlen,
  CAST(COUNT(CASE WHEN NOT r_stop THEN 1 END) AS BIGINT) AS fail_stop,
  CAST(COUNT(CASE WHEN NOT r_digit THEN 1 END) AS BIGINT) AS fail_digit,
  CAST(COUNT(CASE WHEN r_len AND r_wlen AND r_stop AND r_digit THEN 1
    END) AS BIGINT) AS n_pass,
  CAST((2 * COUNT(CASE WHEN r_len AND r_wlen AND r_stop AND r_digit
      THEN 1 END) * 1000000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
    AS pass_ppm
FROM flags GROUP BY 1 ORDER BY source
"""


# --------------------------------------------------------- a_kruskal_wallis
#
# Round-7 batch 8: rank statistics (Kruskal-Wallis, Spearman), the
# Ljung-Box portmanteau, and Jensen-Shannon source divergence.


def a_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test (1952, public): do the per-type value
    distributions differ, WITHOUT a_anova_f's normality assumption?
    H from midranks of every event value across all types, with the
    standard tie correction, plus the epsilon-squared effect size.

    Determinism: the global rank rides range_partitioned_rank over
    the TOTAL order (value, event_id); midranks are exact integers
    (2x midrank = min+max of the tie block's contiguous ranks); rank
    sums and the tie term fold as exact DECIMAL/HUGEINT integers;
    the H chain is one identical IEEE expression over those
    integers (per-type terms micro-rounded into an exact DECIMAL
    fold so the cross-type sum is addition-order-free).

    Scale shape: NO single-partition sort (the distributed range
    rank), one shuffle on value for the tie blocks, |types|- and
    |values|-row aggregates after that.  Rank-sum products are
    DECIMAL(38,0)/HUGEINT, good past 1e18-row corpora."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select("event_type", "value", "event_id")
    ranked = range_partitioned_rank(e, ["value", "event_id"], out_col="rn")
    vr = ranked.groupBy("value").agg(
        (F.min("rn") + F.max("rn")).alias("r2"),
        F.count(F.lit(1)).alias("tcnt"),
    )
    cnt = ranked.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    dec = "decimal(38,0)"
    pt = (
        cnt.join(vr.select("value", "r2"), "value")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("c").cast(dec) * F.col("r2").cast(dec)).alias(
                "r2sum"
            ),
            F.sum("c").alias("nj"),
        )
    )
    r2d = F.col("r2sum").cast("double")
    term = F.round(r2d * r2d / (F.lit(4.0) * F.col("nj")), 6).cast(
        "decimal(38,6)"
    )
    terms = pt.select("event_type", "nj", term.alias("term"))
    ties = vr.where(F.col("tcnt") > 1).agg(
        F.coalesce(
            F.sum(
                F.col("tcnt").cast(dec)
                * F.col("tcnt").cast(dec)
                * F.col("tcnt").cast(dec)
                - F.col("tcnt").cast(dec)
            ),
            F.lit(0).cast(dec),
        ).alias("tie_sum")
    )
    agg = terms.agg(
        F.sum("term").alias("tsum"),
        F.sum("nj").alias("n"),
        F.count(F.lit(1)).alias("k"),
    ).crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    h_u = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("tsum").cast("double")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tie_sum").cast("double") / (
        nd * nd * nd - nd
    )
    fin = agg.select(
        "n",
        "k",
        F.when((F.col("n") > 1) & (corr > 0), h_u / corr).alias("h"),
    )
    eps = (F.col("h") - F.col("k") + F.lit(1.0)) / (
        F.col("n") - F.col("k")
    ).cast("double")
    return fin.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("k_groups"),
        (F.col("k") - 1).cast("long").alias("dof"),
        (F.round(F.col("h"), 6) + F.lit(0.0)).alias("h_stat"),
        F.when(
            F.col("n") > F.col("k"), F.round(eps, 6) + F.lit(0.0)
        ).alias("epsilon_sq"),
    )


A_KRUSKAL_WALLIS_SQL = """
WITH ranked AS (
  SELECT event_type, value,
    row_number() OVER (ORDER BY value, event_id) AS rn
  FROM events
), vr AS (
  SELECT value, MIN(rn) + MAX(rn) AS r2, COUNT(*) AS tcnt
  FROM ranked GROUP BY 1
), cnt AS (
  SELECT value, event_type, COUNT(*) AS c FROM ranked GROUP BY 1, 2
), pt AS (
  SELECT event_type, SUM(CAST(c AS HUGEINT) * r2) AS r2sum,
    SUM(c) AS nj
  FROM cnt JOIN vr USING (value) GROUP BY 1
), terms AS (
  SELECT event_type, nj,
    CAST(round(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE)
      / (4.0 * nj), 6) AS DECIMAL(38,6)) AS term
  FROM pt
), ties AS (
  SELECT coalesce(SUM(CAST(tcnt AS HUGEINT) * tcnt * tcnt - tcnt), 0)
    AS tie_sum
  FROM vr WHERE tcnt > 1
), agg AS (
  SELECT SUM(term) AS tsum, SUM(nj) AS n, COUNT(*) AS k
  FROM terms
), fin AS (
  SELECT n, k,
    CASE WHEN n > 1 AND 1.0 - CAST(tie_sum AS DOUBLE)
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
          - CAST(n AS DOUBLE)) > 0
      THEN (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
          * CAST(tsum AS DOUBLE) - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        / (1.0 - CAST(tie_sum AS DOUBLE)
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(n AS DOUBLE)))
      END AS h
  FROM agg CROSS JOIN ties
)
SELECT CAST(n AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS k_groups,
  CAST(k - 1 AS BIGINT) AS dof,
  round(h, 6) + 0.0 AS h_stat,
  CASE WHEN n > k
    THEN round((h - k + 1.0) / CAST(n - k AS DOUBLE), 6) + 0.0
    END AS epsilon_sq
FROM fin
"""


# --------------------------------------------------------- a_spearman_corr


def a_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (1904, public) between daily close
    and daily tick volume per symbol — the monotone-association
    partner of a10_scalar_corr's Pearson: does price level track
    activity, robust to outliers and nonlinearity?

    Determinism: midranks are exact integers (2x midrank = min+max
    of each tie block under the per-symbol total orders
    (close, day) / (n_ticks, day)); the Pearson-on-ranks moments
    fold as exact int64; variances are cast to double BEFORE their
    product so nothing overflows.

    Scale shape: the rank windows are per-symbol and CALENDAR-bounded
    (|days| rows, never corpus-sized); one |symbol-days| join on the
    (symbol, day) key; one |symbols|-row agg."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    closes = _daily_closes(e)
    vols = (
        e.where(F.col("value") > 0)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("nt"))
    )
    j = closes.join(vols, ["event_type", "day"])
    wc = Window.partitionBy("event_type").orderBy("close", "day")
    wv = Window.partitionBy("event_type").orderBy("nt", "day")
    r = j.select(
        "event_type",
        "close",
        "nt",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wv).alias("rv"),
    )
    pc = Window.partitionBy("event_type", "close")
    pv = Window.partitionBy("event_type", "nt")
    r2 = r.select(
        "event_type",
        (F.min("rc").over(pc) + F.max("rc").over(pc)).alias("x"),
        (F.min("rv").over(pv) + F.max("rv").over(pv)).alias("y"),
    )
    agg = r2.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / F.sqrt(vx * vy), 6) + F.lit(0.0),
        ).alias("spearman_rho"),
    ).orderBy("event_type")


A_SPEARMAN_CORR_SQL = f"""
WITH closes AS ({_CLOSES_SQL}),
vols AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS nt
  FROM events WHERE value > 0 GROUP BY 1, 2
), j AS (
  SELECT event_type, day, close, nt FROM closes JOIN vols
  USING (event_type, day)
), r AS (
  SELECT event_type, close, nt,
    row_number() OVER (PARTITION BY event_type ORDER BY close, day)
      AS rc,
    row_number() OVER (PARTITION BY event_type ORDER BY nt, day) AS rv
  FROM j
), r2 AS (
  SELECT event_type,
    MIN(rc) OVER (PARTITION BY event_type, close)
      + MAX(rc) OVER (PARTITION BY event_type, close) AS x,
    MIN(rv) OVER (PARTITION BY event_type, nt)
      + MAX(rv) OVER (PARTITION BY event_type, nt) AS y
  FROM r
), agg AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM r2 GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
      AND CAST(n * syy - sy * sy AS DOUBLE) > 0
    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0
    END AS spearman_rho
FROM agg ORDER BY event_type
"""


# ------------------------------------------------------------ ti_ljung_box

_LB_LAGS = 10


def ti_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (1978, public) on daily log returns
    per symbol: Q = n(n+2) * sum_k rho_k^2/(n-k) over lags 1..10,
    where rho_k is the common-mean autocorrelation — "is there ANY
    serial dependence left?", the whiteness gate every returns model
    (and ti_acf's per-lag view) reports.

    Determinism: returns quantize to nano-unit BIGINT (the ti_sharpe
    recipe); every lagged cross-moment folds as exact DECIMAL(38,0)
    (HUGEINT in the oracle); rho_k is an exact-integer ratio taken in
    double, and the 10-term Q sum is ONE literal left-associated IEEE
    expression — no addition-order ambiguity anywhere.

    Scale shape: day-bounded close window + ONE calendar-bounded lag
    window emitting all 10 lag columns; a single map-side-combined
    33-slot agg; |symbols| rows out."""
    t = load_tables(spark, sf_dir, ["events"])
    closes = _daily_closes(t["events"])
    w = Window.partitionBy("event_type").orderBy("day")
    rets = (
        closes.withColumn(
            "r", F.log(F.col("close") / F.lag("close").over(w))
        )
        .where(F.col("r").isNotNull())
        .select(
            "event_type",
            "day",
            F.round(F.col("r") * F.lit(1e9), 0).cast("long").alias("x"),
        )
    )
    lagged = rets.select(
        "event_type",
        "x",
        *[
            F.lag("x", k).over(w).alias(f"y{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    dec = "decimal(38,0)"
    xd = F.col("x").cast(dec)
    aggs = [
        F.count("x").alias("n"),
        F.sum("x").alias("s"),
        F.sum(xd * xd).alias("sxx"),
    ]
    for k in range(1, _LB_LAGS + 1):
        yd = F.col(f"y{k}").cast(dec)
        aggs += [
            F.sum(xd * yd).alias(f"p{k}"),
            F.sum(F.when(F.col(f"y{k}").isNotNull(), F.col("x"))).alias(
                f"a{k}"
            ),
            F.sum(f"y{k}").alias(f"b{k}"),
        ]
    g = lagged.groupBy("event_type").agg(*aggs)
    nd_ = F.col("n").cast(dec)
    sd_ = F.col("s").cast(dec)
    den = nd_ * (nd_ * F.col("sxx") - sd_ * sd_)
    nD = F.col("n").cast("double")

    def rho(k: int) -> F.Column:
        num = (
            nd_ * nd_ * F.col(f"p{k}")
            - nd_ * sd_ * (F.col(f"a{k}") + F.col(f"b{k}")).cast(dec)
            + (F.col("n") - F.lit(k)).cast(dec) * sd_ * sd_
        )
        return num.cast("double") / den.cast("double")

    q_sum = None
    for k in range(1, _LB_LAGS + 1):
        term = rho(k) * rho(k) / (nD - F.lit(float(k)))
        q_sum = term if q_sum is None else q_sum + term
    ok = (F.col("n") > _LB_LAGS) & (den.cast("double") > 0)
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.lit(_LB_LAGS).cast("long").alias("dof"),
        F.when(ok, F.round(rho(1), 6) + F.lit(0.0)).alias("acf1"),
        F.when(
            ok,
            F.round(nD * (nD + F.lit(2.0)) * q_sum, 6) + F.lit(0.0),
        ).alias("lb_q"),
    ).orderBy("event_type")


def _ti_ljung_box_sql() -> str:
    lag_cols = ",\n    ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY day) AS y{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    agg_cols = ",\n    ".join(
        f"SUM(CAST(x AS HUGEINT) * y{k}) AS p{k},\n"
        f"    SUM(CASE WHEN y{k} IS NOT NULL THEN x END) AS a{k},\n"
        f"    SUM(y{k}) AS b{k}"
        for k in range(1, _LB_LAGS + 1)
    )

    def rho(k: int) -> str:
        return (
            f"(CAST(n * n * p{k} - n * s * (a{k} + b{k})"
            f" + (n - {k}) * s * s AS DOUBLE)"
            f" / CAST(n * (n * sxx - s * s) AS DOUBLE))"
        )

    q_sum = " + ".join(
        f"{rho(k)} * {rho(k)} / (CAST(n AS DOUBLE) - {float(k)!r})"
        for k in range(1, _LB_LAGS + 1)
    )
    ok = f"n > {_LB_LAGS} AND CAST(n * (n * sxx - s * s) AS DOUBLE) > 0"
    return f"""
WITH closes AS ({_CLOSES_SQL}),
rets AS (
  SELECT event_type, day,
    CAST(round(ln(close / lag(close)
      OVER (PARTITION BY event_type ORDER BY day)) * 1000000000.0, 0)
      AS BIGINT) AS x
  FROM closes
  QUALIFY lag(close) OVER (PARTITION BY event_type ORDER BY day)
    IS NOT NULL
), lagged AS (
  SELECT event_type, x,
    {lag_cols}
  FROM rets
), g AS (
  SELECT event_type, CAST(COUNT(x) AS HUGEINT) AS n,
    CAST(SUM(x) AS HUGEINT) AS s,
    SUM(CAST(x AS HUGEINT) * x) AS sxx,
    {agg_cols}
  FROM lagged GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
  CAST({_LB_LAGS} AS BIGINT) AS dof,
  CASE WHEN {ok} THEN round({rho(1)}, 6) + 0.0 END AS acf1,
  CASE WHEN {ok}
    THEN round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
      * ({q_sum}), 6) + 0.0
    END AS lb_q
FROM g ORDER BY event_type
"""


# -------------------------------------------------------- t_js_divergence


def t_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (Lin 1991, public) between each
    source's unigram distribution and the corpus-wide distribution —
    the symmetric, bounded [0,1]-bits drift measure corpus curation
    reports next to dq_drift_psi's PSI: which domains are
    lexically farthest from the mixture they feed?

    Determinism: p, q, m are ratios of exact token-count integers;
    each vocab-cell term is one identical IEEE p*log2(p/m) chain,
    pico-rounded to BIGINT so the per-source sum is an exact integer
    fold (the |vocab|-term sum would otherwise be
    addition-order-dependent).

    Scale shape: explode -> two map-side-combined count aggs; the
    term frame is |vocab| x |sources| rows (vocabulary-bounded, the
    dq_drift_psi precedent) co-shuffled on the token key; absent
    (source, token) cells materialize ONLY in that bounded grid,
    never at corpus grain."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    toks = d.select(
        "source", F.explode(F.split(_norm_text(), " ")).alias("tok")
    )
    sw = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    wt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cw"))
    srcs = toks.groupBy("source").agg(F.count(F.lit(1)).alias("src_toks"))
    tot = toks.agg(F.sum(F.lit(1)).alias("all_toks"))
    grid = (
        srcs.crossJoin(wt)
        .join(sw, ["source", "tok"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("c").cast("double") / F.col("src_toks").cast("double")
    q = F.col("cw").cast("double") / F.col("all_toks").cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * F.when(
        F.col("c") > 0, p * F.log2(p / m)
    ).otherwise(F.lit(0.0)) + F.lit(0.5) * (q * F.log2(q / m))
    tu = F.round(term * F.lit(1e12), 0).cast("long")
    res = grid.select("source", "src_toks", "c", tu.alias("tu")).groupBy(
        "source"
    ).agg(
        F.max("src_toks").alias("n_tokens"),
        F.count(F.when(F.col("c") > 0, F.lit(1))).alias("n_vocab_hit"),
        F.sum("tu").alias("su"),
    )
    return res.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_vocab_hit").cast("long").alias("n_vocab_hit"),
        (F.round(F.col("su") / F.lit(1e12), 6) + F.lit(0.0)).alias(
            "jsd_bits"
        ),
    ).orderBy("source")


T_JS_DIVERGENCE_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split({NORM_TEXT_SQL}, ' ')) AS tok
  FROM documents
), sw AS (
  SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
), wt AS (SELECT tok, COUNT(*) AS cw FROM toks GROUP BY 1),
srcs AS (SELECT source, COUNT(*) AS src_toks FROM toks GROUP BY 1),
tot AS (SELECT COUNT(*) AS all_toks FROM toks),
grid AS (
  SELECT srcs.source, wt.tok, srcs.src_toks, wt.cw,
    coalesce(sw.c, 0) AS c, tot.all_toks
  FROM srcs CROSS JOIN wt
  LEFT JOIN sw ON sw.source = srcs.source AND sw.tok = wt.tok
  CROSS JOIN tot
), terms AS (
  SELECT source, src_toks, c,
    CAST(round((
      0.5 * (CASE WHEN c > 0
        THEN (CAST(c AS DOUBLE) / CAST(src_toks AS DOUBLE))
          * log2((CAST(c AS DOUBLE) / CAST(src_toks AS DOUBLE))
            / ((CAST(c AS DOUBLE) / CAST(src_toks AS DOUBLE)
              + CAST(cw AS DOUBLE) / CAST(all_toks AS DOUBLE)) / 2.0))
        ELSE 0.0 END)
      + 0.5 * ((CAST(cw AS DOUBLE) / CAST(all_toks AS DOUBLE))
        * log2((CAST(cw AS DOUBLE) / CAST(all_toks AS DOUBLE))
          / ((CAST(c AS DOUBLE) / CAST(src_toks AS DOUBLE)
            + CAST(cw AS DOUBLE) / CAST(all_toks AS DOUBLE)) / 2.0)))
      ) * 1000000000000.0, 0) AS BIGINT) AS tu
  FROM grid
)
SELECT source, CAST(MAX(src_toks) AS BIGINT) AS n_tokens,
  CAST(COUNT(CASE WHEN c > 0 THEN 1 END) AS BIGINT) AS n_vocab_hit,
  round(SUM(tu) / 1000000000000.0, 6) + 0.0 AS jsd_bits
FROM terms GROUP BY 1 ORDER BY source
"""


# ------------------------------------------------------------ e_silhouette
#
# Round-7 batch 9: clustering quality (silhouette), the
# experimentation pair (A/B lift + diff-in-diff), and blocked entity
# resolution.

_SIL_D = 64


def e_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette (Rousseeuw 1987 / the centroid variant
    every large-scale clustering eval uses, public) of the labeled
    embedding table: per vector a = distance to its own label
    centroid, b = distance to the nearest OTHER centroid,
    s = (b-a)/max(a,b); reported per label with the count of
    negative-silhouette (misplaced) vectors.  The cluster-quality
    score that complements e_label_centroid_audit's accuracy view.

    Determinism: centroid means and squared distances fold through
    DECIMAL(27,12) (the e_label_centroid_audit recipe); the
    sqrt/ratio chain is identical IEEE over those exact decimals;
    per-vector s micro-rounds to BIGINT so the per-label mean is an
    exact signed half-away integer division.

    Scale shape: the IVF assignment shape — |labels|x64 centroid
    partials broadcast, the fan-out absorbed map-side, only skinny
    (vec_id, label, c_label, d2) rows shuffle; the argmin-over-others
    is a per-vector conditional MIN over |labels| rows."""
    from kp_crypto_market_analytics_spark.functions.vectors import (
        to_double_array,
    )

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
    pv = d.groupBy("vec_id", "label").agg(
        F.min(
            F.when(F.col("c_label") == F.col("label"), F.col("d2"))
        ).alias("a2"),
        F.min(
            F.when(F.col("c_label") != F.col("label"), F.col("d2"))
        ).alias("b2"),
    )
    a = F.sqrt(F.col("a2").cast("double"))
    b = F.sqrt(F.col("b2").cast("double"))
    mx = F.greatest(a, b)
    s = F.when(mx > 0, (b - a) / mx).otherwise(F.lit(0.0))
    su = F.round(s * F.lit(1e6), 0).cast("long")
    g = pv.select("label", su.alias("su")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("su").alias("ssum"),
        F.count(F.when(F.col("su") < 0, F.lit(1))).alias("nneg"),
    )
    q = F.call_function(
        "div",
        F.lit(2) * F.abs(F.col("ssum")) + F.col("n"),
        F.lit(2) * F.col("n"),
    )
    sign = F.when(F.col("ssum") < 0, F.lit(-1)).otherwise(F.lit(1))
    return g.select(
        "label",
        F.col("n").cast("long").alias("n_vecs"),
        F.col("nneg").cast("long").alias("n_negative"),
        ((sign * q) / F.lit(1000000.0)).alias("mean_silhouette"),
    ).orderBy("label")


E_SILHOUETTE_SQL = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), idx AS MATERIALIZED (
  SELECT vec_id, label, x, unnest(generate_series(1, {_SIL_D})) AS i
  FROM e
), cent AS MATERIALIZED (
  SELECT label AS c_label, i,
    CAST(SUM(CAST(x[i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m
  FROM idx GROUP BY 1, 2
), d AS MATERIALIZED (
  SELECT vec_id, label, c_label,
    SUM(CAST((x[i] - m) * (x[i] - m) AS DECIMAL(27,12))) AS d2
  FROM idx JOIN cent USING (i)
  GROUP BY 1, 2, 3
), pv AS (
  SELECT vec_id, label,
    MIN(CASE WHEN c_label = label THEN d2 END) AS a2,
    MIN(CASE WHEN c_label <> label THEN d2 END) AS b2
  FROM d GROUP BY 1, 2
), s AS (
  SELECT label,
    CAST(round(
      CASE WHEN greatest(sqrt(CAST(a2 AS DOUBLE)),
          sqrt(CAST(b2 AS DOUBLE))) > 0
        THEN (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
          / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE)))
        ELSE 0.0 END * 1000000.0, 0) AS BIGINT) AS su
  FROM pv
), g AS (
  SELECT label, COUNT(*) AS n, SUM(su) AS ssum,
    COUNT(CASE WHEN su < 0 THEN 1 END) AS nneg
  FROM s GROUP BY 1
)
SELECT label, CAST(n AS BIGINT) AS n_vecs,
  CAST(nneg AS BIGINT) AS n_negative,
  (CASE WHEN ssum < 0 THEN -1 ELSE 1 END
    * ((2 * abs(ssum) + n) // (2 * n))) / 1000000.0 AS mean_silhouette
FROM g ORDER BY label
"""


# --------------------------------------------------------------- a_ab_lift

_AB_SALT = "#ab"
_AB_URGENT = "1-URGENT"


def a_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over the customer universe: variant by
    deterministic hash bucket, conversion = placed at least one
    1-URGENT order; reports the sample-ratio-mismatch chi-square
    (the assignment-health gate every experimentation platform runs
    first) and the pooled two-proportion z for the conversion lift.

    Determinism: assignment is the portable 60-bit md5 hash mod 2;
    all counts are exact integers; conversion ppm is exact half-away
    division; the SRM and z chains are single identical IEEE
    expressions over those integers.

    Scale shape: one broadcast-free semi-aggregate over orders
    (customer-grain bool_or), one join to the customer universe, ONE
    global map-side-combined agg row.  Nothing wider than |customers|
    ever shuffles."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, ["customer", "orders"])
    conv = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == _AB_URGENT, F.lit(1))
                .otherwise(F.lit(0))
            ).alias("conv")
        )
    )
    v = hash64(
        F.concat(F.col("c_custkey").cast("string"), F.lit(_AB_SALT))
    ) % 2
    u = (
        t["customer"]
        .select(F.col("c_custkey").alias("o_custkey"), v.alias("v"))
        .join(conv, "o_custkey", "left")
        .withColumn("conv", F.coalesce(F.col("conv"), F.lit(0)))
    )
    g = u.agg(
        F.count(F.when(F.col("v") == 0, F.lit(1))).alias("na"),
        F.count(F.when(F.col("v") == 1, F.lit(1))).alias("nb"),
        F.sum(F.when(F.col("v") == 0, F.col("conv"))).alias("ca"),
        F.sum(F.when(F.col("v") == 1, F.col("conv"))).alias("cb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ca, cb = F.col("ca").cast("double"), F.col("cb").cast("double")
    ntot = na + nb
    e_half = ntot / F.lit(2.0)
    srm = (na - e_half) * (na - e_half) / e_half + (nb - e_half) * (
        nb - e_half
    ) / e_half
    pa, pb = ca / na, cb / nb
    pp = (ca + cb) / ntot
    se = F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    ppm = lambda c, n: F.call_function(  # noqa: E731
        "div", F.lit(2) * c * F.lit(1_000_000) + n, F.lit(2) * n
    )
    ok = (F.col("na") > 0) & (F.col("nb") > 0)
    return g.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("ca").cast("long").alias("conv_a"),
        F.col("cb").cast("long").alias("conv_b"),
        ppm(F.col("ca"), F.col("na")).cast("long").alias("conv_a_ppm"),
        ppm(F.col("cb"), F.col("nb")).cast("long").alias("conv_b_ppm"),
        F.when(ok, F.round(srm, 6) + F.lit(0.0)).alias("srm_chi2"),
        F.when(
            ok & (se > 0), F.round((pb - pa) / se, 6) + F.lit(0.0)
        ).alias("lift_z"),
    )


def _a_ab_lift_sql() -> str:
    h = H60.format(x=f"CAST(c_custkey AS VARCHAR) || '{_AB_SALT}'")
    return f"""
WITH conv AS (
  SELECT o_custkey,
    MAX(CASE WHEN o_orderpriority = '{_AB_URGENT}' THEN 1 ELSE 0 END)
      AS conv
  FROM orders GROUP BY 1
), u AS (
  SELECT ({h}) % 2 AS v, coalesce(conv.conv, 0) AS conv
  FROM customer LEFT JOIN conv ON conv.o_custkey = c_custkey
), g AS (
  SELECT COUNT(CASE WHEN v = 0 THEN 1 END) AS na,
    COUNT(CASE WHEN v = 1 THEN 1 END) AS nb,
    SUM(CASE WHEN v = 0 THEN conv END) AS ca,
    SUM(CASE WHEN v = 1 THEN conv END) AS cb
  FROM u
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  CAST(ca AS BIGINT) AS conv_a, CAST(cb AS BIGINT) AS conv_b,
  CAST((2 * ca * 1000000 + na) // (2 * na) AS BIGINT) AS conv_a_ppm,
  CAST((2 * cb * 1000000 + nb) // (2 * nb) AS BIGINT) AS conv_b_ppm,
  CASE WHEN na > 0 AND nb > 0 THEN round(
    (CAST(na AS DOUBLE) - (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / 2.0)
      * (CAST(na AS DOUBLE) - (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        / 2.0)
      / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / 2.0)
    + (CAST(nb AS DOUBLE) - (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        / 2.0)
      * (CAST(nb AS DOUBLE) - (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        / 2.0)
      / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / 2.0), 6) + 0.0
    END AS srm_chi2,
  CASE WHEN na > 0 AND nb > 0 AND sqrt(
      ((CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
        / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
      * (1.0 - (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
        / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) > 0
    THEN round((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
        - CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      / sqrt(((CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
          / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        * (1.0 - (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
          / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))), 6)
      + 0.0
    END AS lift_z
FROM g
"""


# --------------------------------------------------------- a_did_estimator

_DID_SALT = "#did"
_DID_CUTOVER = "2024-01-16"


def a_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (Card & Krueger 1994
    lineage, public) on purchase values: treatment group by
    deterministic user hash, periods split at the cutover date;
    DID = (treated_post - treated_pre) - (control_post - control_pre)
    over per-cell mean purchase value.  The quasi-experimental
    partner of a_ab_lift for launches without randomized assignment.

    Determinism: all four cell means are EXACT half-away micro
    divisions of DECIMAL(18,6) sums (round_mean_micro), so the DID
    arithmetic is exact micro-integer subtraction rendered in double.

    Scale shape: ONE map-side-combined global agg with eight
    conditional slots over the filtered event scan — the cheapest
    possible shape; nothing shuffles beyond one row."""
    from kp_crypto_market_analytics_spark.functions.text import hash64

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].where(F.col("event_type") == "purchase")
    treat = (
        hash64(F.concat(F.col("user_id").cast("string"), F.lit(_DID_SALT)))
        % 2
    )
    post = F.to_date("ts") >= F.lit(_DID_CUTOVER).cast("date")
    vdec = F.col("value").cast("decimal(18,6)")
    cells = e.select(treat.alias("tr"), post.alias("po"), vdec.alias("v"))

    def cell(trv: int, pov: bool, what: str) -> F.Column:
        cond = (F.col("tr") == trv) & (F.col("po") == F.lit(pov))
        if what == "n":
            return F.count(F.when(cond, F.lit(1)))
        return F.sum(F.when(cond, F.col("v")))

    g = cells.agg(
        cell(1, True, "n").alias("n_tp"),
        cell(1, False, "n").alias("n_tr"),
        cell(0, True, "n").alias("n_cp"),
        cell(0, False, "n").alias("n_cr"),
        cell(1, True, "s").alias("s_tp"),
        cell(1, False, "s").alias("s_tr"),
        cell(0, True, "s").alias("s_cp"),
        cell(0, False, "s").alias("s_cr"),
    )

    def mean(sfx: str) -> F.Column:
        return F.when(
            F.col(f"n_{sfx}") > 0,
            round_mean_micro(F.col(f"s_{sfx}"), F.col(f"n_{sfx}")),
        )

    m_tp, m_tr = mean("tp"), mean("tr")
    m_cp, m_cr = mean("cp"), mean("cr")
    return g.select(
        F.col("n_tp").cast("long").alias("n_treat_post"),
        F.col("n_tr").cast("long").alias("n_treat_pre"),
        F.col("n_cp").cast("long").alias("n_ctrl_post"),
        F.col("n_cr").cast("long").alias("n_ctrl_pre"),
        m_tp.alias("mean_treat_post"),
        m_tr.alias("mean_treat_pre"),
        m_cp.alias("mean_ctrl_post"),
        m_cr.alias("mean_ctrl_pre"),
        (
            F.round((m_tp - m_tr) - (m_cp - m_cr), 6) + F.lit(0.0)
        ).alias("did_estimate"),
    )


def _a_did_estimator_sql() -> str:
    h = H60.format(x=f"CAST(user_id AS VARCHAR) || '{_DID_SALT}'")
    means = {
        sfx: sql_round_mean_micro(f"s_{sfx}", f"n_{sfx}")
        for sfx in ("tp", "tr", "cp", "cr")
    }
    guard = {
        sfx: f"CASE WHEN n_{sfx} > 0 THEN {means[sfx]} END"
        for sfx in means
    }
    return f"""
WITH cells AS (
  SELECT ({h}) % 2 AS tr,
    CAST(ts AS DATE) >= DATE '{_DID_CUTOVER}' AS po,
    CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE event_type = 'purchase'
), g AS (
  SELECT
    COUNT(CASE WHEN tr = 1 AND po THEN 1 END) AS n_tp,
    COUNT(CASE WHEN tr = 1 AND NOT po THEN 1 END) AS n_tr,
    COUNT(CASE WHEN tr = 0 AND po THEN 1 END) AS n_cp,
    COUNT(CASE WHEN tr = 0 AND NOT po THEN 1 END) AS n_cr,
    SUM(CASE WHEN tr = 1 AND po THEN v END) AS s_tp,
    SUM(CASE WHEN tr = 1 AND NOT po THEN v END) AS s_tr,
    SUM(CASE WHEN tr = 0 AND po THEN v END) AS s_cp,
    SUM(CASE WHEN tr = 0 AND NOT po THEN v END) AS s_cr
  FROM cells
)
SELECT CAST(n_tp AS BIGINT) AS n_treat_post,
  CAST(n_tr AS BIGINT) AS n_treat_pre,
  CAST(n_cp AS BIGINT) AS n_ctrl_post,
  CAST(n_cr AS BIGINT) AS n_ctrl_pre,
  {guard['tp']} AS mean_treat_post,
  {guard['tr']} AS mean_treat_pre,
  {guard['cp']} AS mean_ctrl_post,
  {guard['cr']} AS mean_ctrl_pre,
  round(({guard['tp']} - {guard['tr']})
    - ({guard['cp']} - {guard['cr']}), 6) + 0.0 AS did_estimate
FROM g
"""


# ---------------------------------------------------------- er_name_match

_ER_SIM_PPM = 800_000
# Hard cap on (brand, token) block membership: each block contributes
# at most C(cap, 2) candidate pairs regardless of catalog size, the
# same skew lever as the dedup family's max_shingle_freq
# (operators/dedup.py).  Members are kept by DETERMINISTIC hash sample
# (lowest md5(brand|tok|key) first), so hub blocks degrade to a stable
# random sample instead of a quadratic pair bomb: at sf0.1 the
# TPC-H ~90-word name vocabulary makes every block a hub (df 72–128)
# and the cap cuts scored pairs 2.0M → ~48k; at 100× the reduction is
# ~10,000× because block df grows linearly with the catalog.
_ER_BLOCK_CAP = 16


def er_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution over the part catalog (Fellegi &
    Sunter 1969 lineage, public): candidate pairs via (brand, name
    token) blocking — never all-pairs — with every block capped at
    ``_ER_BLOCK_CAP`` members by deterministic hash sample, scored by
    exact Levenshtein similarity; per brand the census of parts,
    candidate pairs, matches above the 0.8 similarity threshold, and
    exact-name duplicates.  The record-linkage shape every
    catalog/CRM deduplication pipeline runs.

    Determinism: Levenshtein is the standard DP metric in both
    engines; the similarity ratio is an exact half-away ppm of
    (max_len - lev) / max_len; block sampling orders by
    (md5(brand|tok|key), key) — identical hex strings in both engines
    — so the kept members are engine-independent; all census values
    are integers.

    Scale shape: the inverted-index block join bounds candidates by
    block size (brand x token) and the df-cap bounds EACH block at
    C(cap, 2) pairs — the ER analog of the dedup family's LSH
    bucket/shingle caps (operators/dedup.py:130-160), and the only
    way the join survives a fixed token vocabulary whose block
    populations grow linearly with catalog size.  Pairs dedup on the
    key (brand, a, b) BEFORE scoring so Levenshtein runs once per
    pair."""
    t = load_tables(spark, sf_dir, ["part"])
    p = t["part"].select("p_partkey", "p_brand", "p_name")
    raw_toks = p.select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.explode(F.split("p_name", " ")).alias("tok"),
    )
    # Deterministic per-block sample: keep the cap lowest members by
    # (md5, key).  The window partitions on the block key, so no
    # global sort; each hub block is one task scanning df rows — the
    # linear part is fine, it is the df² pair fan-out being killed.
    blk_w = Window.partitionBy("p_brand", "tok").orderBy(
        F.md5(
            F.concat_ws(
                "|", "p_brand", "tok", F.col("p_partkey").cast("string")
            )
        ),
        "p_partkey",
    )
    toks = (
        raw_toks.withColumn("__bn", F.row_number().over(blk_w))
        .where(F.col("__bn") <= _ER_BLOCK_CAP)
        .drop("__bn")
    )
    a = toks.select(
        F.col("p_brand").alias("brand"),
        "tok",
        F.col("p_partkey").alias("ka"),
        F.col("p_name").alias("na"),
    )
    b = toks.select(
        F.col("p_brand").alias("brand"),
        "tok",
        F.col("p_partkey").alias("kb"),
        F.col("p_name").alias("nb"),
    )
    pairs = (
        a.join(b, ["brand", "tok"])
        .where(F.col("ka") < F.col("kb"))
        .select("brand", "ka", "kb", "na", "nb")
        .distinct()
    )
    lev = F.levenshtein("na", "nb")
    mx = F.greatest(F.length("na"), F.length("nb"))
    sim_ppm = F.call_function(
        "div",
        F.lit(2) * (mx - lev) * F.lit(1_000_000) + mx,
        F.lit(2) * mx,
    )
    scored = pairs.select(
        "brand",
        sim_ppm.alias("sim_ppm"),
        (F.col("na") == F.col("nb")).alias("exact"),
    )
    nparts = p.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    cen = scored.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_cand_pairs"),
        F.count(
            F.when(F.col("sim_ppm") >= _ER_SIM_PPM, F.lit(1))
        ).alias("n_matched"),
        F.count(F.when(F.col("exact"), F.lit(1))).alias("n_exact"),
    )
    return (
        nparts.join(cen, "brand", "left")
        .select(
            "brand",
            F.col("n_parts").cast("long").alias("n_parts"),
            F.coalesce(F.col("n_cand_pairs"), F.lit(0))
            .cast("long")
            .alias("n_cand_pairs"),
            F.coalesce(F.col("n_matched"), F.lit(0))
            .cast("long")
            .alias("n_matched"),
            F.coalesce(F.col("n_exact"), F.lit(0))
            .cast("long")
            .alias("n_exact"),
        )
        .orderBy("brand")
    )


ER_NAME_MATCH_SQL = f"""
WITH raw_toks AS (
  SELECT p_partkey, p_brand, p_name,
    unnest(string_split(p_name, ' ')) AS tok
  FROM part
), toks AS (
  SELECT p_partkey, p_brand, p_name, tok FROM (
    SELECT *, row_number() OVER (
      PARTITION BY p_brand, tok
      ORDER BY md5(p_brand || '|' || tok || '|'
                   || CAST(p_partkey AS VARCHAR)), p_partkey
    ) AS bn
    FROM raw_toks
  ) WHERE bn <= {_ER_BLOCK_CAP}
), pairs AS (
  SELECT DISTINCT a.p_brand AS brand, a.p_partkey AS ka,
    b.p_partkey AS kb, a.p_name AS na, b.p_name AS nb
  FROM toks a JOIN toks b
    ON a.p_brand = b.p_brand AND a.tok = b.tok
    AND a.p_partkey < b.p_partkey
), scored AS (
  SELECT brand,
    (2 * (greatest(length(na), length(nb)) - levenshtein(na, nb))
        * 1000000 + greatest(length(na), length(nb)))
      // (2 * greatest(length(na), length(nb))) AS sim_ppm,
    na = nb AS exact
  FROM pairs
), np AS (
  SELECT p_brand AS brand, COUNT(*) AS n_parts FROM part GROUP BY 1
), cen AS (
  SELECT brand, COUNT(*) AS n_cand_pairs,
    COUNT(CASE WHEN sim_ppm >= {_ER_SIM_PPM} THEN 1 END) AS n_matched,
    COUNT(CASE WHEN exact THEN 1 END) AS n_exact
  FROM scored GROUP BY 1
)
SELECT np.brand, CAST(n_parts AS BIGINT) AS n_parts,
  CAST(coalesce(n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs,
  CAST(coalesce(n_matched, 0) AS BIGINT) AS n_matched,
  CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact
FROM np LEFT JOIN cen ON cen.brand = np.brand
ORDER BY np.brand
"""


# ---------------------------------------------------------- g_adamic_adar
#
# Round-7 batch 10: Adamic-Adar link prediction, the Pettitt
# changepoint test, Mann-Whitney U, and Cohen's kappa between the two
# quality gates.


def g_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003, public) on
    the co-purchase graph: AA(u,v) = sum over common neighbors z of
    1/ln(deg(z)) — the degree-discounted counterpart of
    g_jaccard_sim (rare shared neighbors count more than hubs).
    Top-30 pairs by (aa desc, u, v) with the is_edge flag.

    Determinism: degrees are exact integers; each wedge term
    1/ln(deg) is one identical IEEE chain nano-rounded to BIGINT so
    the per-pair sum is an exact integer fold (wedge centers always
    have deg >= 2, so ln > 0).

    Scale shape: same support-pruned wedge join as g_jaccard_sim
    (session-cached edge build); the center-degree join happens at
    wedge grain BEFORE the pair agg, so only (pu, pv, term) skinny
    rows shuffle; degree cap on wedge centers is the documented hub
    lever."""
    from kp_crypto_market_analytics_spark.operators.windows import top_k

    from kp_crypto_market_analytics_spark.queries_mining import (
        _copurchase_edges,
    )

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    adj = edges.select(
        F.col("u").alias("n"), F.col("v").alias("m")
    ).unionByName(edges.select(F.col("v").alias("n"), F.col("u").alias("m")))
    deg = adj.groupBy(F.col("m").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    term = F.round(
        F.lit(1.0) / F.log(F.col("deg").cast("double")) * F.lit(1e9), 0
    ).cast("long")
    wedge = (
        adj.alias("x")
        .join(
            adj.alias("y"),
            (F.col("x.n") == F.col("y.n")) & (F.col("x.m") < F.col("y.m")),
        )
        .join(deg.alias("d"), F.col("x.n") == F.col("d.node"))
        .select(
            F.col("x.m").alias("pu"),
            F.col("y.m").alias("pv"),
            term.alias("tu"),
        )
        .groupBy("pu", "pv")
        .agg(F.count(F.lit(1)).alias("common"), F.sum("tu").alias("aa_u"))
    )
    scored = wedge.join(
        edges.select(
            F.col("u").alias("pu"), F.col("v").alias("pv"),
            F.lit(True).alias("e"),
        ),
        ["pu", "pv"],
        "left",
    ).select(
        F.col("pu").alias("u"),
        F.col("pv").alias("v"),
        F.col("common").cast("long").alias("common"),
        (F.round(F.col("aa_u") / F.lit(1e9), 6) + F.lit(0.0)).alias("aa"),
        F.coalesce("e", F.lit(False)).alias("is_edge"),
    )
    return top_k(
        scored, [F.col("aa").desc(), F.col("u").asc(), F.col("v").asc()], 30
    ).select("u", "v", "common", "aa", "is_edge")


G_ADAMIC_ADAR_SQL = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), adj AS MATERIALIZED (
  SELECT u AS n, v AS m FROM edges UNION ALL SELECT v, u FROM edges
), deg AS MATERIALIZED (
  SELECT m AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1
), wedge AS (
  SELECT x.m AS pu, y.m AS pv, CAST(COUNT(*) AS BIGINT) AS common,
    SUM(CAST(round(1.0 / ln(CAST(d.deg AS DOUBLE)) * 1000000000.0, 0)
      AS BIGINT)) AS aa_u
  FROM adj x JOIN adj y ON x.n = y.n AND x.m < y.m
  JOIN deg d ON d.node = x.n
  GROUP BY 1, 2
)
SELECT pu AS u, pv AS v, common,
  round(aa_u / 1000000000.0, 6) + 0.0 AS aa,
  coalesce(e.is_edge, FALSE) AS is_edge
FROM wedge
LEFT JOIN (SELECT u, v, TRUE AS is_edge FROM edges) e
  ON e.u = wedge.pu AND e.v = wedge.pv
ORDER BY aa DESC, u, v LIMIT 30
"""


# -------------------------------------------------------- w_pettitt_change


def w_pettitt_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test (1979, public) on daily closes per
    symbol: K = max_t |U_t| with U_t = sum_{i<=t} 2*midrank_i
    - t(n+1), the rank-based single-changepoint locator, with the
    standard p approximation 2*exp(-6K^2/(n^3+n^2)) — the
    nonparametric partner of w_cusum (which tracks the mean, not the
    distribution).

    Determinism: midranks are exact integers (min+max of the tie
    block under the per-symbol (close, day) total order); U_t is
    pure integer arithmetic; the argmax day tie-breaks earliest; the
    p chain is one identical IEEE expression capped at 1.

    Scale shape: per-symbol CALENDAR-bounded windows only (|days|
    rows each); one |symbols|-row agg."""
    t = load_tables(spark, sf_dir, ["events"])
    closes = _daily_closes(t["events"])
    wr = Window.partitionBy("event_type").orderBy("close", "day")
    pc = Window.partitionBy("event_type", "close")
    wd = Window.partitionBy("event_type").orderBy("day")
    r = closes.select(
        "event_type", "day", "close", F.row_number().over(wr).alias("rn")
    )
    r2 = r.select(
        "event_type",
        "day",
        (F.min("rn").over(pc) + F.max("rn").over(pc)).alias("r2"),
    )
    u = r2.select(
        "event_type",
        "day",
        F.row_number().over(wd).alias("tix"),
        F.sum("r2")
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cr2"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    ).select(
        "event_type",
        "day",
        "n",
        (F.col("cr2") - F.col("tix") * (F.col("n") + 1)).alias("ut"),
        "tix",
    )
    cand = u.where(F.col("tix") < F.col("n"))
    wk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("ut")).desc(), F.col("day").asc()
    )
    best = (
        cand.select(
            "event_type",
            "n",
            "day",
            F.abs(F.col("ut")).alias("k"),
            F.row_number().over(wk).alias("rk"),
        )
        .where(F.col("rk") == 1)
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    p = F.least(
        F.lit(1.0),
        F.lit(2.0)
        * F.exp(F.lit(-6.0) * kd * kd / (nd * nd * nd + nd * nd)),
    )
    return best.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("k_stat"),
        F.col("day").alias("change_day"),
        F.when(F.col("n") > 1, F.round(p, 6) + F.lit(0.0)).alias(
            "p_approx"
        ),
    ).orderBy("event_type")


W_PETTITT_CHANGE_SQL = f"""
WITH closes AS ({_CLOSES_SQL}),
r AS (
  SELECT event_type, day, close,
    row_number() OVER (PARTITION BY event_type ORDER BY close, day)
      AS rn
  FROM closes
), r2 AS (
  SELECT event_type, day,
    MIN(rn) OVER (PARTITION BY event_type, close)
      + MAX(rn) OVER (PARTITION BY event_type, close) AS r2
  FROM r
), u AS (
  SELECT event_type, day,
    row_number() OVER (PARTITION BY event_type ORDER BY day) AS tix,
    SUM(r2) OVER (PARTITION BY event_type ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr2,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM r2
), cand AS (
  SELECT event_type, day, n, abs(cr2 - tix * (n + 1)) AS k,
    row_number() OVER (PARTITION BY event_type
      ORDER BY abs(cr2 - tix * (n + 1)) DESC, day) AS rk
  FROM u WHERE tix < n
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
  CAST(k AS BIGINT) AS k_stat, day AS change_day,
  CASE WHEN n > 1 THEN round(least(1.0,
    2.0 * exp(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 6) + 0.0
    END AS p_approx
FROM cand WHERE rk = 1 ORDER BY event_type
"""


# --------------------------------------------------------- a_mann_whitney


def a_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test (1947, public): weekend vs weekday value
    distributions per event type — the nonparametric counterpart of
    a_welch_ttest (same split, no normality assumption), reported
    with the tie-corrected normal z (continuity-corrected) and the
    rank-biserial effect size.

    Determinism: within-type midranks derive from ONE global
    range_partitioned_rank over the total order (event_type, value,
    event_id) minus the type's broadcast offset — exact integers;
    2U, the tie term and all products fold as exact
    DECIMAL(38,0)/HUGEINT; the z and rank-biserial chains are single
    identical IEEE expressions over those integers.

    Scale shape: no single-partition sort (the distributed range
    rank); tie blocks aggregate on (type, value); |types|-row
    result.  Integer headroom to ~1e18-row types via the decimal
    folds."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select(
        "event_type",
        "value",
        "event_id",
        F.dayofweek("ts").isin(1, 7).alias("wknd"),
    )
    ranked = range_partitioned_rank(
        e, ["event_type", "value", "event_id"], out_col="grn"
    )
    offs = ranked.groupBy("event_type").agg(
        (F.min("grn") - 1).alias("off")
    )
    rn = ranked.join(F.broadcast(offs), "event_type").select(
        "event_type",
        "value",
        "wknd",
        (F.col("grn") - F.col("off")).alias("rn"),
    )
    blocks = rn.groupBy("event_type", "value").agg(
        (F.min("rn") + F.max("rn")).alias("r2"),
        F.count(F.lit(1)).alias("tcnt"),
        F.count(F.when(F.col("wknd"), F.lit(1))).alias("a_v"),
    )
    dec = "decimal(38,0)"
    g = blocks.groupBy("event_type").agg(
        F.sum("a_v").alias("na"),
        F.sum(F.col("tcnt") - F.col("a_v")).alias("nb"),
        F.sum(F.col("a_v").cast(dec) * F.col("r2").cast(dec)).alias("r2a"),
        F.sum(
            F.when(
                F.col("tcnt") > 1,
                F.col("tcnt").cast(dec)
                * F.col("tcnt").cast(dec)
                * F.col("tcnt").cast(dec)
                - F.col("tcnt").cast(dec),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("tie_sum"),
    )
    u2 = F.col("r2a") - (
        F.col("na").cast(dec) * (F.col("na") + 1).cast(dec)
    )
    mu2 = F.col("na").cast(dec) * F.col("nb").cast(dec)
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    nd = nad + nbd
    var = (
        nad
        * nbd
        / F.lit(12.0)
        * (
            (nd + F.lit(1.0))
            - F.col("tie_sum").cast("double") / (nd * (nd - F.lit(1.0)))
        )
    )
    u2d, mu2d = u2.cast("double"), mu2.cast("double")
    zc = F.when(u2d > mu2d, u2d - mu2d - F.lit(1.0)).when(
        u2d < mu2d, u2d - mu2d + F.lit(1.0)
    ).otherwise(F.lit(0.0))
    z = zc / (F.lit(2.0) * F.sqrt(var))
    rb = u2d / mu2d - F.lit(1.0)
    ok = (F.col("na") > 0) & (F.col("nb") > 0)
    return g.select(
        "event_type",
        F.col("na").cast("long").alias("n_weekend"),
        F.col("nb").cast("long").alias("n_weekday"),
        F.when(ok, u2d / F.lit(2.0)).alias("u_stat"),
        F.when(ok & (var > 0), F.round(z, 6) + F.lit(0.0)).alias("mw_z"),
        F.when(ok, F.round(rb, 6) + F.lit(0.0)).alias("rank_biserial"),
    ).orderBy("event_type")


A_MANN_WHITNEY_SQL = """
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
    COUNT(*) AS tcnt,
    COUNT(CASE WHEN wknd THEN 1 END) AS a_v
  FROM rn GROUP BY 1, 2
), g AS (
  SELECT event_type, SUM(a_v) AS na, SUM(tcnt - a_v) AS nb,
    SUM(CAST(a_v AS HUGEINT) * r2) AS r2a,
    SUM(CASE WHEN tcnt > 1
      THEN CAST(tcnt AS HUGEINT) * tcnt * tcnt - tcnt
      ELSE 0 END) AS tie_sum
  FROM blocks GROUP BY 1
), fin AS (
  SELECT event_type, na, nb,
    CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) AS u2d,
    CAST(CAST(na AS HUGEINT) * nb AS DOUBLE) AS mu2d,
    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
      * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
        - CAST(tie_sum AS DOUBLE)
          / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
            * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))
      AS var
  FROM g
)
SELECT event_type, CAST(na AS BIGINT) AS n_weekend,
  CAST(nb AS BIGINT) AS n_weekday,
  CASE WHEN na > 0 AND nb > 0 THEN u2d / 2.0 END AS u_stat,
  CASE WHEN na > 0 AND nb > 0 AND var > 0
    THEN round((CASE WHEN u2d > mu2d THEN u2d - mu2d - 1.0
      WHEN u2d < mu2d THEN u2d - mu2d + 1.0 ELSE 0.0 END)
      / (2.0 * sqrt(var)), 6) + 0.0
    END AS mw_z,
  CASE WHEN na > 0 AND nb > 0
    THEN round(u2d / mu2d - 1.0, 6) + 0.0 END AS rank_biserial
FROM fin ORDER BY event_type
"""


# --------------------------------------------------------- a_cohens_kappa


def a_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (1960, public) between the repo's two document
    quality gates — the frozen-weight logistic filter
    (t_quality_logreg, keep = sigma(z) >= 0.5) and the Gopher rule
    gate (t_gopher_rules, pass = all four rules) — chance-corrected
    agreement: do the model gate and the heuristic gate actually
    measure the same thing?

    Determinism: both flags are the exact chains their parent
    queries gate (integer feature counts, one identical IEEE sigmoid
    micro-rounded); the kappa simplifies to a ratio of two exact
    integer expressions, n*(n11+n00) - (r1*c1 + r0*c0) over
    n^2 - (r1*c1 + r0*c0), taken in double and rounded.

    Scale shape: pure codegen per-row flags + ONE global map-side
    agg row — the t_quality_logreg filter-pass shape."""
    from kp_crypto_market_analytics_spark.functions.text import (
        stopword_hits,
        token_count,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"]
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    toks = token_count("text")
    stop = stopword_hits("text")
    ln_len = F.length(norm)
    no_punct = F.replace(
        F.replace(
            F.replace(
                F.replace(norm, F.lit("."), F.lit("")),
                F.lit(","),
                F.lit(""),
            ),
            F.lit("!"),
            F.lit(""),
        ),
        F.lit("?"),
        F.lit(""),
    )
    n_punct = ln_len - F.length(no_punct)
    n_digit = ln_len - F.length(F.regexp_replace(norm, "[0-9]", ""))
    n_alpha = ln_len - (toks - F.lit(1))
    z = (
        F.lit(_LR_B)
        + F.lit(_LR_W_LOGLEN) * F.log(F.lit(1.0) + toks)
        + F.lit(_LR_W_STOP) * (stop / toks.cast("double"))
        + F.lit(_LR_W_PUNCT) * (n_punct / ln_len.cast("double"))
        + F.lit(_LR_W_DIGIT) * (n_digit / ln_len.cast("double"))
        + F.lit(_LR_W_WLEN) * (n_alpha / toks.cast("double"))
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    score = F.when((toks > 0) & (ln_len > 0), p).otherwise(F.lit(0.0))
    lr_keep = F.round(score * F.lit(1_000_000.0), 0).cast("long") >= 500_000
    wlen = (ln_len - (toks - F.lit(1))) / toks.cast("double")
    gopher = (
        (toks >= _GOPHER_MIN_TOKS)
        & (toks <= _GOPHER_MAX_TOKS)
        & (toks > 0)
        & (wlen >= F.lit(_GOPHER_MIN_WLEN))
        & (wlen <= F.lit(_GOPHER_MAX_WLEN))
        & (stop >= _GOPHER_MIN_STOP)
        & (ln_len > 0)
        & (
            n_digit / ln_len.cast("double") < F.lit(_GOPHER_MAX_DIGIT)
        )
    )
    flags = d.select(lr_keep.alias("lr"), gopher.alias("gp"))
    g = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("lr") & F.col("gp"), F.lit(1))).alias("n11"),
        F.count(F.when(~F.col("lr") & ~F.col("gp"), F.lit(1))).alias(
            "n00"
        ),
        F.count(F.when(F.col("lr") & ~F.col("gp"), F.lit(1))).alias(
            "n10"
        ),
        F.count(F.when(~F.col("lr") & F.col("gp"), F.lit(1))).alias(
            "n01"
        ),
    )
    r1 = F.col("n11") + F.col("n10")
    c1 = F.col("n11") + F.col("n01")
    r0 = F.col("n") - r1
    c0 = F.col("n") - c1
    chance = r1 * c1 + r0 * c0
    num = F.col("n") * (F.col("n11") + F.col("n00")) - chance
    den = F.col("n") * F.col("n") - chance
    agree_ppm = F.call_function(
        "div",
        F.lit(2) * (F.col("n11") + F.col("n00")) * F.lit(1_000_000)
        + F.col("n"),
        F.lit(2) * F.col("n"),
    )
    return g.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n11").cast("long").alias("n_both_keep"),
        F.col("n00").cast("long").alias("n_both_drop"),
        F.col("n10").cast("long").alias("n_only_logreg"),
        F.col("n01").cast("long").alias("n_only_gopher"),
        agree_ppm.cast("long").alias("agree_ppm"),
        F.when(
            den > 0,
            F.round(num.cast("double") / den.cast("double"), 6)
            + F.lit(0.0),
        ).alias("kappa"),
    )


def _a_cohens_kappa_sql() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS

    hit_terms = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2}"
        " AS BIGINT)"
        for w in STOPWORDS
    )
    return f"""
WITH norm AS (
  SELECT trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
  FROM documents
), base AS (
  SELECT t, ' ' || lower(t) || ' ' AS p,
    CASE WHEN length(t) = 0 THEN 0
      ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1
      END AS toks,
    length(t) AS ln_len
  FROM norm
), feats AS (
  SELECT toks, ln_len,
    {hit_terms} AS stop,
    ln_len - length(replace(replace(replace(replace(t, '.', ''),
      ',', ''), '!', ''), '?', '')) AS n_punct,
    ln_len - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
    ln_len - (toks - 1) AS n_alpha
  FROM base
), flags AS (
  SELECT
    CAST(round(CASE WHEN toks > 0 AND ln_len > 0
      THEN 1.0 / (1.0 + exp(-({_LR_B!r}
        + {_LR_W_LOGLEN!r} * ln(1.0 + toks)
        + {_LR_W_STOP!r} * (stop / CAST(toks AS DOUBLE))
        + {_LR_W_PUNCT!r} * (n_punct / CAST(ln_len AS DOUBLE))
        + {_LR_W_DIGIT!r} * (n_digit / CAST(ln_len AS DOUBLE))
        + {_LR_W_WLEN!r} * (n_alpha / CAST(toks AS DOUBLE)))))
      ELSE 0.0 END * 1000000.0, 0) AS BIGINT) >= 500000 AS lr,
    toks >= {_GOPHER_MIN_TOKS} AND toks <= {_GOPHER_MAX_TOKS}
      AND toks > 0
      AND (ln_len - (toks - 1)) / CAST(toks AS DOUBLE)
        >= {_GOPHER_MIN_WLEN!r}
      AND (ln_len - (toks - 1)) / CAST(toks AS DOUBLE)
        <= {_GOPHER_MAX_WLEN!r}
      AND stop >= {_GOPHER_MIN_STOP}
      AND ln_len > 0
      AND (n_digit / CAST(ln_len AS DOUBLE)) < {_GOPHER_MAX_DIGIT!r}
      AS gp
  FROM feats
), g AS (
  SELECT COUNT(*) AS n,
    COUNT(CASE WHEN lr AND gp THEN 1 END) AS n11,
    COUNT(CASE WHEN NOT lr AND NOT gp THEN 1 END) AS n00,
    COUNT(CASE WHEN lr AND NOT gp THEN 1 END) AS n10,
    COUNT(CASE WHEN NOT lr AND gp THEN 1 END) AS n01
  FROM flags
)
SELECT CAST(n AS BIGINT) AS n_docs,
  CAST(n11 AS BIGINT) AS n_both_keep,
  CAST(n00 AS BIGINT) AS n_both_drop,
  CAST(n10 AS BIGINT) AS n_only_logreg,
  CAST(n01 AS BIGINT) AS n_only_gopher,
  CAST((2 * (n11 + n00) * 1000000 + n) // (2 * n) AS BIGINT)
    AS agree_ppm,
  CASE WHEN n * n - ((n11 + n10) * (n11 + n01)
      + (n - n11 - n10) * (n - n11 - n01)) > 0
    THEN round(
      CAST(n * (n11 + n00) - ((n11 + n10) * (n11 + n01)
        + (n - n11 - n10) * (n - n11 - n01)) AS DOUBLE)
      / CAST(n * n - ((n11 + n10) * (n11 + n01)
        + (n - n11 - n10) * (n - n11 - n01)) AS DOUBLE), 6) + 0.0
    END AS kappa
FROM g
"""


REGISTRY = (
    (t_train_split, _t_train_split_sql()),
    (t_split_leakage, _t_split_leakage_sql()),
    (t_mix_weights, T_MIX_WEIGHTS_SQL),
    (t_tokenizer_fertility, T_TOKENIZER_FERTILITY_SQL),
    (dq_column_profile, _dq_column_profile_sql()),
    (w_ewma_truncated, _w_ewma_sql()),
    (t_ngram_novelty, T_NGRAM_NOVELTY_SQL),
    (a_open_orders_sweep, A_OPEN_ORDERS_SWEEP_SQL),
    (g_hits, G_HITS_SQL),
    (a_bootstrap_ci, _a_bootstrap_ci_sql()),
    (t_epoch_shuffle, _t_epoch_shuffle_sql()),
    (w_rolling_median, W_ROLLING_MEDIAN_SQL),
    (mm_scene_cut, _mm_scene_cut_sql()),
    (a_chi_square, A_CHI_SQUARE_SQL),
    (a_welch_ttest, _a_welch_ttest_sql()),
    (ti_sharpe, TI_SHARPE_SQL),
    (ti_amihud, TI_AMIHUD_SQL),
    (dq_outlier_iqr, DQ_OUTLIER_IQR_SQL),
    (a_anova_f, A_ANOVA_F_SQL),
    (w_theil_sen, W_THEIL_SEN_SQL),
    (t_quality_logreg, _t_quality_logreg_sql()),
    (t_rouge_eval, T_ROUGE_EVAL_SQL),
    (a_survival_km, _a_survival_km_sql()),
    (a_info_gain_split, _a_info_gain_split_sql()),
    (w_runs_test, W_RUNS_TEST_SQL),
    (a_mann_kendall, A_MANN_KENDALL_SQL),
    (t_gopher_rules, _t_gopher_rules_sql()),
    (a_kruskal_wallis, A_KRUSKAL_WALLIS_SQL),
    (a_spearman_corr, A_SPEARMAN_CORR_SQL),
    (ti_ljung_box, _ti_ljung_box_sql()),
    (t_js_divergence, T_JS_DIVERGENCE_SQL),
    (e_silhouette, E_SILHOUETTE_SQL),
    (a_ab_lift, _a_ab_lift_sql()),
    (a_did_estimator, _a_did_estimator_sql()),
    (er_name_match, ER_NAME_MATCH_SQL),
    (g_adamic_adar, G_ADAMIC_ADAR_SQL),
    (w_pettitt_change, W_PETTITT_CHANGE_SQL),
    (a_mann_whitney, A_MANN_WHITNEY_SQL),
    (a_cohens_kappa, _a_cohens_kappa_sql()),
)
