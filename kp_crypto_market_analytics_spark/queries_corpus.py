"""Corpus-hygiene + corpus-decision gated queries (round-2 family).

Extends the LLM-training-data family (SURVEY.md "beyond-reference"
scope) below document granularity and up to pipeline decisions — the
reference's analytics stop at whole-series tables
(`src/analytics/binance_analysis.py`), and the round-1 dedup family
(`operators/dedup.py`) treats each document as one unit.  Operators:

Sub-document hygiene (CCNet / RefinedWeb / Gopher / Lee et al.):
- ``t_paragraph_dedup``  — chunk-aligned duplicated-paragraph fraction.
- ``dedup_substring``    — sliding word-shingle exact-run sharing
  (alignment-free stand-in for suffix-array dedup).
- ``t_word_entropy``     — token Shannon entropy + TTR degeneracy.
- ``t_bigram_logprob``   — add-one bigram LM mean log-prob (perplexity
  filter, one order above ``t_unigram_logprob``).

Pipeline decisions / artifacts:
- ``t_quality_deciles``  — threshold-bucketed quality bands (no ntile).
- ``t_vocab_table``      — frequency-ranked vocab ids + coverage.
- ``t_bpe_merges``       — BPE merge TRAINING, 3 unrolled rounds.
- ``t_oov_rate``         — per-source OOV against frozen top-K vocab.
- ``t_countmin_hh``      — count-min heavy hitters, bias audited.
- ``dedup_incremental``  — new-batch LSH probe against the corpus.
- ``dedup_lsh_recall``   — in-engine recall audit vs exact Jaccard.
- ``mm_shard_manifest``  — media training-shard packing manifest.
- ``e_pca_power``        — power-iteration top principal direction.
- ``w_streaks``          — gaps-and-islands condition streaks.

Determinism rules match the rest of the registry: every float that
enters a sum is rounded to 6 dp and summed as DECIMAL (order-
independent), mean-shaped outputs divide in exact int64
(``round_mean_micro`` — see the tie note in queries.py), and each
query carries an exact DuckDB oracle verified at sf0.01 AND sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.functions.text import quality_score_sql
from kp_crypto_market_analytics_spark.operators.aggregates import (
    DEC,
    round_mean_micro,
    sql_round_mean_micro,
)
from kp_crypto_market_analytics_spark.queries_ext import NORM_TEXT_SQL, TOKENS_CTE
from kp_crypto_market_analytics_spark.session import ensure_parallelism, load_tables

# Chunk/shingle geometry.  CHUNK_WORDS fixes the "paragraph" size for
# chunk-aligned dedup; SHINGLE_WORDS is the sliding-window width for
# alignment-free exact-run detection.  Module constants so the Spark
# plan and the oracle stay in lockstep.
CHUNK_WORDS = 16
SHINGLE_WORDS = 8


def _norm_col():
    return F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))


def _toks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks) — the normalized whitespace tokenization shared
    by ~18 text queries.  Session-materialized (r11 optimization): the
    per-doc regexp normalize + split ran once per consuming query;
    now it runs once per session and consumers scan the token table —
    the tokenize-once silver table every corpus pipeline keeps.
    ``ensure_parallelism`` moves to the READ side so CPU-heavy
    consumers (shingle explodes, n-gram hashing) still fan out across
    cores — the materialized file is tiny and would otherwise arrive
    as one partition."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["documents"])
        return t["documents"].select(
            "doc_id", F.split(_norm_col(), " ").alias("toks")
        )

    return ensure_parallelism(
        session_materialized(spark, f"toks:{sf_dir}", build)
    )


# --------------------------------------------------- t_paragraph_dedup


def t_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup: split each normalized document into
    consecutive CHUNK_WORDS-word chunks, count every chunk's corpus-wide
    occurrences, report per document how many of its chunks appear more
    than once anywhere (the CCNet/RefinedWeb duplicated-paragraph
    fraction — docs near 1.0 are templated/mirrored content).  Chunks
    are aligned to each document's own word grid (the "paragraph"
    definition when the corpus carries no newline structure), so this
    catches mirrored/templated documents; unaligned shared runs are
    ``dedup_substring``'s job.

    Scale shape: chunks shuffle as (doc_id, md5) — 16-byte fingerprints,
    never text.  One exchange on the fingerprint serves the corpus count
    (window count), one on doc_id the per-doc reduce.  A pathological
    mega-duplicated chunk skews its fingerprint partition; AQE skew
    split handles it (same story as `dedup_exact`,
    operators/dedup.py:37)."""
    toks = _toks_df(spark, sf_dir)
    n_chunks = (F.ceil(F.size("toks") / F.lit(float(CHUNK_WORDS)))).cast("int")
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice("toks", i * CHUNK_WORDS + 1, CHUNK_WORDS)
            ),
        )
    )
    from kp_crypto_market_analytics_spark.operators.aggregates import round_mean_micro

    h = F.md5(F.col("chunk"))
    cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
    per_chunk = (
        toks.select("doc_id", chunk.alias("chunk"))
        .select("doc_id", h.alias("h"))
        .select("doc_id", cnt.alias("cnt"))
    )
    dup = F.count(F.when(F.col("cnt") > 1, 1))
    return (
        per_chunk.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            round_mean_micro(dup.cast(DEC), F.count(F.lit(1))).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


T_PARAGRAPH_SQL = f"""
WITH norm AS (
  SELECT doc_id, string_split({NORM_TEXT_SQL}, ' ') AS l FROM documents
), idx AS (
  SELECT doc_id, l,
    unnest(generate_series(1, CAST(ceil(len(l) / {CHUNK_WORDS}.0) AS BIGINT))) AS i
  FROM norm
), c AS (
  SELECT doc_id,
    array_to_string(l[(i - 1) * {CHUNK_WORDS} + 1 : i * {CHUNK_WORDS}], ' ') AS chunk
  FROM idx
), k AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY chunk) AS cnt FROM c
)
SELECT doc_id, COUNT(*) AS n_chunks,
  COUNT(CASE WHEN cnt > 1 THEN 1 END) AS n_dup_chunks,
  {sql_round_mean_micro("CAST(COUNT(CASE WHEN cnt > 1 THEN 1 END) AS DECIMAL(18,6))", "COUNT(*)")} AS dup_frac
FROM k GROUP BY doc_id ORDER BY doc_id
"""


# ----------------------------------------------------- dedup_substring


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-run sharing: SHINGLE_WORDS-word sliding shingles (every
    word offset); a shingle found verbatim in ≥2 distinct documents
    marks a boilerplate span (headers, licenses, templated sentences).
    Per document: shingle count, shared-shingle count, shared fraction.
    Documents shorter than one shingle are reported with zero windows
    so the output covers the corpus.

    This is the scalable stand-in for suffix-array exact-substring
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better") at word granularity: shingles slide one word at a
    time, so window boundaries are content-defined and ANY run of
    ≥ SHINGLE_WORDS words shared between two documents is detected
    regardless of where each document embeds it — no alignment caveat
    (a fixed-stride character window would only match runs whose
    offsets agree mod the stride).  Shuffles carry (doc_id, 16-byte
    md5) only; the distinct-doc count per shingle is a
    partial-aggregated groupBy, re-joined on the fingerprint — both
    exchanges are fingerprint-width."""
    toks = _toks_df(spark, sf_dir)
    n = F.size("toks") - (SHINGLE_WORDS - 1)
    wins = (
        toks.where(F.size("toks") >= SHINGLE_WORDS)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.concat_ws(
                        " ", F.slice("toks", i, SHINGLE_WORDS)
                    ),
                )
            ).alias("shingle"),
        )
        .select("doc_id", F.md5("shingle").alias("h"))
    )
    docs_per_win = wins.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    per_doc = (
        wins.join(docs_per_win, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(F.col("nd") >= 2, 1)).alias("n_shared"),
        )
    )
    return (
        toks.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.when(
                F.col("n_windows").isNotNull(),
                round_mean_micro(F.col("n_shared").cast(DEC), F.col("n_windows")),
            )
            .otherwise(F.lit(0.0))
            .alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


DEDUP_SUBSTRING_SQL = f"""
WITH norm AS (
  SELECT doc_id, string_split({NORM_TEXT_SQL}, ' ') AS l FROM documents
), idx AS (
  SELECT doc_id, l,
    unnest(generate_series(1, len(l) - {SHINGLE_WORDS - 1})) AS i
  FROM norm
), w AS (
  SELECT doc_id, array_to_string(l[i : i + {SHINGLE_WORDS - 1}], ' ') AS win
  FROM idx
), d AS (
  SELECT win, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY win
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_windows,
    COUNT(CASE WHEN nd >= 2 THEN 1 END) AS n_shared
  FROM w JOIN d USING (win) GROUP BY doc_id
)
SELECT n.doc_id,
  coalesce(n_windows, 0) AS n_windows,
  coalesce(n_shared, 0) AS n_shared,
  coalesce({sql_round_mean_micro("CAST(n_shared AS DECIMAL(18,6))", "n_windows")}, 0.0) AS shared_frac
FROM norm n LEFT JOIN per_doc p ON n.doc_id = p.doc_id
ORDER BY n.doc_id
"""


# ------------------------------------------------------ t_word_entropy


def t_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy (nats) + type-token ratio —
    the cheap degeneracy detector: looping or single-token documents
    score near 0 while natural text sits near log(vocab-in-doc).

    H = ln(n) - (Σ c·ln c)/n over per-doc token counts c.  Each ln is
    rounded to 6 dp and the products are summed as decimals, so the
    reduce is order-independent.  The final divide-and-round runs in
    EXACT integer arithmetic (``round_mean_micro``): a 6-dp decimal
    divided by a small n lands on an exact .5×10⁻⁶ tie often enough
    (4/5000 docs at sf0.1) that double rounding is engine-dependent —
    H = (round(ln n,6)·n − Σ)/n as a micro-nat integer quotient
    sidesteps the tie entirely.  Two shuffles: (doc_id, tok) count,
    then per-doc reduce — tokens never leave the first exchange."""
    from kp_crypto_market_analytics_spark.operators.aggregates import round_mean_micro

    toks = _toks_df(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    slc = F.sum(F.col("c") * F.round(F.log("c"), 6).cast(DEC))
    n = F.sum("c")
    lnn6 = F.round(F.log(n), 6).cast(DEC)
    return (
        counts.groupBy("doc_id")
        .agg(
            n.alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            round_mean_micro(lnn6 * n - slc, n).alias("entropy"),
            round_mean_micro(F.count(F.lit(1)).cast(DEC), n).alias("ttr"),
        )
        .orderBy("doc_id")
    )


def _t_word_entropy_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    s = "SUM(c * CAST(round(ln(c), 6) AS DECIMAL(18,6)))"
    ent_num = f"CAST(round(ln(SUM(c)), 6) AS DECIMAL(18,6)) * SUM(c) - {s}"
    return f"""
WITH {TOKENS_CTE}, counts AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
  {sql_round_mean_micro(ent_num, "SUM(c)")} AS entropy,
  {sql_round_mean_micro("CAST(COUNT(*) AS DECIMAL(18,6))", "SUM(c)")} AS ttr
FROM counts GROUP BY doc_id ORDER BY doc_id
"""


T_WORD_ENTROPY_SQL = _t_word_entropy_sql()


# ---------------------------------------------------- t_bigram_logprob


def t_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score with add-one smoothing: train
    p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V) on the corpus itself, score
    each document by its mean bigram log-probability.  One order above
    ``t_unigram_logprob``: catches shuffled-word salad that unigram
    stats cannot (same tokens, impossible transitions).

    Scale shape: the bigram stream joins the bigram-count table on the
    bigram key and the head-token counts on w1 — both as plain joins,
    because BOTH vocabularies grow with the corpus (at 100 TB neither
    fits a broadcast; AQE still broadcasts them when they happen to be
    small).  Only the scalar V is an explicit broadcast.  log p is
    rounded to 6 dp and decimal-summed per doc."""
    toks = _toks_df(spark, sf_dir)
    n = F.size("toks") - 1
    bigrams = (
        toks.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n),
                    F.slice("toks", 2, n),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    tok_stream = _toks_df(spark, sf_dir).select(F.explode("toks").alias("tok"))
    heads = tok_stream.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    vsize = tok_stream.groupBy().agg(F.countDistinct("tok").alias("v"))
    bcounts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    logp = F.round(
        F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double")), 6
    )
    scored = (
        bigrams.join(bcounts, ["w1", "w2"])
        .join(heads.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vsize))
        .select("doc_id", logp.alias("logp"))
    )
    from kp_crypto_market_analytics_spark.operators.aggregates import round_mean_micro

    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # Exact-integer divide-and-round: see t_word_entropy's tie
            # note — a 6-dp decimal sum over a small count is the same
            # structural hazard.
            round_mean_micro(
                F.sum(F.col("logp").cast(DEC)), F.count(F.lit(1))
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


T_BIGRAM_LOGPROB_SQL = f"""
WITH norm AS (
  SELECT doc_id, string_split({NORM_TEXT_SQL}, ' ') AS l FROM documents
), idx AS (
  SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM norm
), b AS (
  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
  FROM idx
), {TOKENS_CTE}, heads AS (
  SELECT tok AS w1, COUNT(*) AS c1 FROM toks GROUP BY tok
), v AS (
  SELECT COUNT(DISTINCT tok) AS v FROM toks
), bc AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY w1, w2
)
SELECT doc_id, COUNT(*) AS n_bigrams,
  {{LOGP_MEAN}} AS avg_logprob
FROM b JOIN bc USING (w1, w2) JOIN heads USING (w1) CROSS JOIN v
GROUP BY doc_id ORDER BY doc_id
"""


def _bigram_logprob_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    s = ("SUM(CAST(round(ln((c12 + 1) / CAST(c1 + v AS DOUBLE)), 6)"
         " AS DECIMAL(18,6)))")
    return T_BIGRAM_LOGPROB_SQL.replace(
        "{LOGP_MEAN}", sql_round_mean_micro(s, "COUNT(*)")
    )


# ---------------------------------------------------- dedup_incremental


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: today's batch (stand-in: doc_id ≡ 7
    mod 10) deduped against the standing corpus via MinHash-LSH band
    buckets — every candidate pair touches the new batch; old×old pairs
    (resolved by previous runs) are never generated.  Same detector as
    ``dedup_minhash_lsh`` (64 df-capped hashes, 16 threshold-derived
    bands, star-routed bucket cap — r9) so the two queries agree on
    what "near-dup" means; output adds which side(s) are new — new×old
    means "drop or link the new doc", new×new means "today's batch
    self-duplicates"."""
    from kp_crypto_market_analytics_spark.operators.dedup import incremental_lsh_pairs
    from kp_crypto_market_analytics_spark.queries_ext import (
        _LSH_BANDS,
        _LSH_BUCKET_CAP,
        _LSH_NUM_HASHES,
        _minhash_sigs,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    # Same detector as dedup_minhash_lsh, star cap included: the seam
    # property (incremental == full restricted to the new batch) only
    # holds when both generators route the same over-cap buckets.
    pairs = incremental_lsh_pairs(
        t["documents"],
        F.col("doc_id") % 10 == 7,
        "text",
        "doc_id",
        num_hashes=_LSH_NUM_HASHES,
        bands=_LSH_BANDS,
        k=4,
        use_words=False,
        sig=_minhash_sigs(spark, sf_dir),
        max_bucket_size=_LSH_BUCKET_CAP,
        overcap="star",
    )
    return pairs.orderBy("doc_a", "doc_b")


def _dedup_incremental_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import (
        _EST_SQL,
        _LSH_BUCKET_CAP,
        CAPPED_HSETS_CTE,
        _cand_cte_sql,
    )

    cand = _cand_cte_sql(new_pred="{c} % 10 = 7").format(cap=_LSH_BUCKET_CAP)
    return f"""
WITH {CAPPED_HSETS_CTE}{cand}
SELECT doc_a, doc_b,
  doc_a % 10 = 7 AS new_a,
  doc_b % 10 = 7 AS new_b,
  tier,
  {_EST_SQL} AS est_jaccard
FROM cand_t JOIN sigs sa ON sa.doc_id = doc_a JOIN sigs sb ON sb.doc_id = doc_b
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------- t_bpe_merges

_BPE_ROUNDS = 3


def t_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING, not just application (``t_bpe_tokens`` applies
    a fixed regex): learn the first 3 byte-pair merges from the corpus —
    per round, count adjacent symbol pairs over the word list weighted
    by word frequency, take the top pair (count desc, pair asc), merge
    it everywhere, repeat.  The loop is unrolled into the plan: each
    round is a pair explode → weighted count → 1-row top-pair broadcast
    → `replace` re-segmentation; no action between rounds, no Python in
    the hot path.

    Words are encoded as double-space-separated symbol strings with
    padded ends, so `replace(' a  b ' → ' ab ')` merges ALL adjacent
    occurrences in one greedy left-to-right pass — both engines'
    `replace` scan identically, which is what makes the oracle exact.
    Pair counting rides on the |vocab| word list (wf-weighted), so each
    round's shuffle is vocabulary-sized — corpus tokens are touched
    once, in the initial word-frequency aggregate."""
    toks = _toks_df(spark, sf_dir).select("doc_id", F.explode("toks").alias("tok"))
    words = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wf"))
        .select(
            "wf",
            F.concat(
                F.lit("  "), F.concat_ws("  ", F.split("tok", "")), F.lit("  ")
            ).alias("seq"),
        )
    )
    merges = []
    for r in range(_BPE_ROUNDS):
        arr = F.filter(F.split("seq", "  "), lambda x: x != "")
        n = F.size(arr) - 1
        pairs = (
            words.where(F.size(arr) >= 2)
            .select(
                "wf",
                F.explode(
                    F.zip_with(
                        F.slice(arr, 1, n),
                        F.slice(arr, 2, n),
                        lambda a, b: F.struct(a.alias("left_sym"), b.alias("right_sym")),
                    )
                ).alias("p"),
            )
            .select("wf", F.col("p.left_sym").alias("left_sym"), F.col("p.right_sym").alias("right_sym"))
        )
        top = (
            pairs.groupBy("left_sym", "right_sym")
            .agg(F.sum("wf").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "left_sym", "right_sym")
            .limit(1)
            .withColumn("merge_idx", F.lit(r + 1))
        )
        merges.append(top)
        words = (
            words.crossJoin(
                F.broadcast(
                    top.select(
                        F.col("left_sym").alias("__l"), F.col("right_sym").alias("__r")
                    )
                )
            )
            .withColumn(
                "seq",
                F.replace(
                    F.col("seq"),
                    F.concat(F.lit(" "), F.col("__l"), F.lit("  "), F.col("__r"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("__l"), F.col("__r"), F.lit(" ")),
                ),
            )
            .drop("__l", "__r")
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.select(
        "merge_idx",
        "left_sym",
        "right_sym",
        F.concat("left_sym", "right_sym").alias("merged"),
        "pair_count",
    ).orderBy("merge_idx")


def _bpe_merges_sql() -> str:
    parts = [
        f"""w AS (
  SELECT tok, COUNT(*) AS wf FROM toks GROUP BY tok
), s0 AS (
  SELECT wf, '  ' || array_to_string(string_split(tok, ''), '  ') || '  ' AS seq FROM w
)"""
    ]
    for r in range(_BPE_ROUNDS):
        parts.append(
            f"""p{r} AS (
  SELECT arr[i] AS left_sym, arr[i + 1] AS right_sym, CAST(SUM(wf) AS BIGINT) AS pair_count
  FROM (
    SELECT wf, arr, unnest(generate_series(1, len(arr) - 1)) AS i
    FROM (SELECT wf, list_filter(string_split(seq, '  '), x -> x <> '') AS arr FROM s{r})
  )
  GROUP BY 1, 2
), t{r} AS (
  SELECT {r + 1} AS merge_idx, left_sym, right_sym, pair_count
  FROM p{r} ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
)"""
        )
        if r + 1 < _BPE_ROUNDS:
            parts.append(
                f"""s{r + 1} AS (
  SELECT wf, replace(seq, ' ' || t.left_sym || '  ' || t.right_sym || ' ',
                          ' ' || t.left_sym || t.right_sym || ' ') AS seq
  FROM s{r} CROSS JOIN t{r} t
)"""
            )
    union = " UNION ALL ".join(f"SELECT * FROM t{r}" for r in range(_BPE_ROUNDS))
    return f"""
WITH {TOKENS_CTE}, {", ".join(parts)}
SELECT merge_idx, left_sym, right_sym, left_sym || right_sym AS merged, pair_count
FROM ({union}) ORDER BY merge_idx
"""


# ------------------------------------------------------- t_vocab_table


def t_vocab_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary artifact: every token with a dense
    frequency-ranked id and the cumulative collection-frequency
    coverage at that rank — the table a tokenizer trainer emits and an
    OOV-rate decision reads ("vocab of 32k covers 99.7%").

    The global sort is over the VOCABULARY (|V| rows, already reduced
    by a partial-aggregated groupBy), not the corpus — and even that
    vocab-sized frame (word vocabularies reach 10⁸ on web corpora)
    never funnels through one task: both the dense id and the running
    coverage come from ONE range-partitioned sort (local
    row_number/cumsum per range + broadcast |ranges|-row offsets);
    the token explode itself never leaves map-side."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    toks = _toks_df(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    agg = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("coll_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    total = agg.groupBy().agg(F.sum("coll_freq").alias("total"))
    ranked = range_partitioned_rank(
        agg,
        [F.col("coll_freq").desc(), F.col("tok").asc()],
        out_col="__vid",
        sum_col="coll_freq",
        cumsum_out="__cum",
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.col("__vid").cast("int").alias("vocab_id"),
            "tok",
            "coll_freq",
            "doc_freq",
            round_mean_micro(F.col("__cum").cast(DEC), F.col("total")).alias(
                "coverage"
            ),
        )
        .orderBy("vocab_id")
    )


T_VOCAB_TABLE_SQL = f"""
WITH {TOKENS_CTE}, agg AS (
  SELECT tok, COUNT(*) AS coll_freq, COUNT(DISTINCT doc_id) AS doc_freq
  FROM toks GROUP BY tok
), tot AS (SELECT SUM(coll_freq) AS total FROM agg)
SELECT
  row_number() OVER (ORDER BY coll_freq DESC, tok) AS vocab_id,
  tok, coll_freq, doc_freq,
  {sql_round_mean_micro(
      "CAST(SUM(coll_freq) OVER (ORDER BY coll_freq DESC, tok "
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,6))",
      "total",
  )} AS coverage
FROM agg CROSS JOIN tot ORDER BY vocab_id
"""


# --------------------------------------------------------- t_oov_rate

_OOV_VOCAB_K = 20


def t_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary impact per source: freeze the top-K
    (coll_freq desc, tok asc) vocabulary and measure, per document
    source, the fraction of tokens that fall outside it — the
    domain-level readout of a vocab-size decision (`t_vocab_table`
    picks K; this shows who pays for it).

    The frozen vocab is a K-row broadcast (K is a constant, so this
    broadcast is legitimate at any corpus size, unlike the full-vocab
    joins in the LM scorers); OOV rate divides in exact int64
    (`round_mean_micro`)."""
    from kp_crypto_market_analytics_spark.operators.aggregates import round_mean_micro
    from kp_crypto_market_analytics_spark.operators.windows import top_k

    t = load_tables(spark, sf_dir, ["documents"])
    toks = (
        ensure_parallelism(t["documents"])
        .select("source", F.explode(F.split(_norm_col(), " ")).alias("tok"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    frozen = top_k(vocab, [F.col("cf").desc(), F.col("tok").asc()], _OOV_VOCAB_K).select(
        "tok", F.lit(True).alias("in_vocab")
    )
    n = F.count(F.lit(1))
    oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    return (
        toks.join(F.broadcast(frozen), "tok", "left")
        .groupBy("source")
        .agg(
            n.alias("n_tokens"),
            oov.alias("n_oov"),
            round_mean_micro(oov.cast(DEC), n).alias("oov_rate"),
        )
        .orderBy("source")
    )


def _t_oov_rate_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    return f"""
WITH toks AS (
  SELECT source, unnest(string_split({NORM_TEXT_SQL}, ' ')) AS tok FROM documents
), frozen AS (
  SELECT tok, TRUE AS in_vocab FROM (
    SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok
    ORDER BY cf DESC, tok LIMIT {_OOV_VOCAB_K}
  )
)
SELECT source, COUNT(*) AS n_tokens,
  COUNT(CASE WHEN in_vocab IS NULL THEN 1 END) AS n_oov,
  {sql_round_mean_micro("CAST(COUNT(CASE WHEN in_vocab IS NULL THEN 1 END) AS DECIMAL(18,6))", "COUNT(*)")} AS oov_rate
FROM toks LEFT JOIN frozen USING (tok)
GROUP BY source ORDER BY source
"""


# -------------------------------------------------------- t_doc_report


def t_doc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document curation table: one row per doc joining the
    hygiene signals a keep/drop decision reads — duplicated-paragraph
    fraction, shared-run (boilerplate) fraction, token entropy/TTR, and
    the heuristic quality score.  Composition of four gated pipelines
    on the doc_id key; each input is itself oracle-verified, and this
    gate proves the composed join (the report users actually export)
    stays exact end-to-end.

    Scale: the four branches share the documents scan (Spark dedups the
    scan; each branch's shuffles are fingerprint- or count-width), and
    the final joins are co-partitioned on doc_id."""
    from kp_crypto_market_analytics_spark.queries import QUERIES as _Q

    para = t_paragraph_dedup(spark, sf_dir).select(
        "doc_id", "n_dup_chunks", "dup_frac"
    )
    runs = dedup_substring(spark, sf_dir).select("doc_id", "n_shared", "shared_frac")
    ent = t_word_entropy(spark, sf_dir).select(
        "doc_id", "n_tokens", "n_types", "entropy", "ttr"
    )
    qual = _Q["t_quality_score"](spark, sf_dir).select(
        "doc_id", "stopword_ratio", "quality_score"
    )
    return (
        ent.join(para, "doc_id")
        .join(runs, "doc_id")
        .join(qual, "doc_id")
        .orderBy("doc_id")
    )


def _t_doc_report_sql() -> str:
    return f"""
SELECT e.doc_id, e.n_tokens, e.n_types, e.entropy, e.ttr,
  p.n_dup_chunks, p.dup_frac, r.n_shared, r.shared_frac,
  q.stopword_ratio, q.quality_score
FROM ({T_WORD_ENTROPY_SQL.replace("ORDER BY doc_id", "")}) e
JOIN ({T_PARAGRAPH_SQL.replace("ORDER BY doc_id", "")}) p USING (doc_id)
JOIN ({DEDUP_SUBSTRING_SQL.replace("ORDER BY n.doc_id", "")}) r USING (doc_id)
JOIN ({quality_score_sql().replace("ORDER BY doc_id", "")}) q USING (doc_id)
ORDER BY doc_id
"""


# ----------------------------------------------------------- w_streaks


def w_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive runs of large events (value above
    the global exact p95) per symbol — the classic streak pattern
    (rn_all − rn_flagged island key) the window family lacked.
    sessionize groups by TIME gaps; this groups by a CONDITION holding
    over consecutive rows.  Per streak of length ≥ 2: bounds, length,
    peak.

    One exchange: both row_numbers share the symbol partitioning (the
    second ranks the filtered frame, no re-shuffle — AQE reuses the
    sort); the p95 threshold is the a7/a8 conf-switched percentile
    broadcast as a 1-row aggregate."""
    from kp_crypto_market_analytics_spark.operators.aggregates import percentile_expr

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    thr = e.agg(F.round(percentile_expr(e, "value", 0.95), 6).alias("thr"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    flagged = (
        e.crossJoin(F.broadcast(thr))
        .withColumn("rn_all", F.row_number().over(w))
        .where(F.col("value") > F.col("thr"))
        .withColumn("rn_flag", F.row_number().over(w))
        .withColumn("island", F.col("rn_all") - F.col("rn_flag"))
    )
    return (
        flagged.groupBy("event_type", "island")
        .agg(
            F.count(F.lit(1)).alias("streak_len"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            F.max("value").alias("peak_value"),
        )
        .where(F.col("streak_len") >= 2)
        .select(
            "event_type", "streak_len", "first_event", "last_event", "peak_value"
        )
        .orderBy("event_type", "first_event")
    )


W_STREAKS_SQL = """
WITH thr AS (
  SELECT round(quantile_cont(value, 0.95), 6) AS thr FROM events
), ranked AS (
  SELECT event_id, event_type, ts, value, thr,
    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn_all
  FROM events, thr
), flagged AS (
  SELECT event_id, event_type, value,
    rn_all - row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS island
  FROM ranked WHERE value > thr
)
SELECT event_type, COUNT(*) AS streak_len,
  MIN(event_id) AS first_event, MAX(event_id) AS last_event,
  MAX(value) AS peak_value
FROM flagged GROUP BY event_type, island
HAVING COUNT(*) >= 2
ORDER BY event_type, first_event
"""


# ---------------------------------------------------- dedup_lsh_recall


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-honesty audit, oracle-gated: recall of the PRODUCTION
    MinHash-LSH detector (64 df-capped hashes × 16 threshold-derived
    bands, star-routed bucket cap — r9) against the exact df-capped
    char-4-gram Jaccard≥0.6 pair set (the truth the banding
    approximates).  One row — the numbers a pipeline owner checks
    before trusting banded dedup at 100 TB, computed in-engine instead
    of in a notebook:

    - n_hits_bucket / recall — true pairs whose endpoints collide in
      ≥1 band bucket.  This is the detector's operative recall: star
      routing connects every same-bucket pair in the emitted candidate
      graph (both endpoints link to the bucket rep), so a bucket-hit
      pair lands in one near-dup cluster downstream exactly as if its
      pair edge had been emitted.
    - n_hits_direct / recall_direct — true pairs present as direct
      (verifiable) candidate edges; lower whenever over-cap buckets
      star-route, reported so the pair-level price of the star cap
      stays visible.
    - meets_floor — the gated SLO boolean: recall ≥ 0.8 (vacuously
      true on an empty truth set).  The r8 parameters (8 hashes / 2
      full-set bands) measured 0.107 here at sf0.1; the r9
      re-parameterization (VERDICT ask #1) measures 1.0 at both SFs,
      and tests/test_corpus_queries.py pins the floor.

    The truth side is the session-materialized capped pair set shared
    with dedup_ngram_capped / dedup_clusters / dedup_canonical; the
    LSH branch starts from the session-materialized signature table
    (_minhash_sigs) shared with dedup_minhash_lsh.  The recall
    divisions run in exact int64 (``round_mean_micro``), and the floor
    compare is pure-integer (5·hits ≥ 4·true)."""
    from kp_crypto_market_analytics_spark.operators.dedup import (
        capped_jaccard_pairs_materialized,
        lsh_band_buckets,
        minhash_lsh_pairs,
    )
    from kp_crypto_market_analytics_spark.queries_ext import (
        _LSH_BANDS,
        _LSH_BUCKET_CAP,
        _LSH_NUM_HASHES,
        _minhash_sigs,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    truth = capped_jaccard_pairs_materialized(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    sig = _minhash_sigs(spark, sf_dir)
    cand = minhash_lsh_pairs(
        docs, "text", "doc_id",
        num_hashes=_LSH_NUM_HASHES, bands=_LSH_BANDS, k=4, use_words=False,
        sig=sig, max_bucket_size=_LSH_BUCKET_CAP, overcap="star",
    ).select("doc_a", "doc_b").localCheckpoint(eager=True)
    buckets = lsh_band_buckets(sig, "doc_id", _LSH_NUM_HASHES, _LSH_BANDS)
    bucket_hits = (
        truth.join(
            buckets.select(F.col("doc").alias("doc_a"), "bucket"), "doc_a"
        )
        .join(
            buckets.select(F.col("doc").alias("doc_b"), "bucket"),
            ["doc_b", "bucket"],
            "left_semi",
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    direct_hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_true = truth.groupBy().agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.groupBy().agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hb = bucket_hits.groupBy().agg(F.count(F.lit(1)).alias("n_hits_bucket"))
    n_hd = direct_hits.groupBy().agg(F.count(F.lit(1)).alias("n_hits_direct"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hb)
        .crossJoin(n_hd)
        .select(
            "n_true",
            "n_candidates",
            "n_hits_bucket",
            "n_hits_direct",
            F.when(
                F.col("n_true") > 0,
                round_mean_micro(
                    F.col("n_hits_bucket").cast(DEC), F.col("n_true")
                ),
            ).alias("recall"),
            F.when(
                F.col("n_true") > 0,
                round_mean_micro(
                    F.col("n_hits_direct").cast(DEC), F.col("n_true")
                ),
            ).alias("recall_direct"),
            (
                (F.col("n_true") == 0)
                | (5 * F.col("n_hits_bucket") >= 4 * F.col("n_true"))
            ).alias("meets_floor"),
        )
    )


def _dedup_lsh_recall_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import (
        _BJOIN,
        _LSH_BUCKET_CAP,
        CAPPED_HSETS_CTE,
        _cand_cte_sql,
    )

    cand = _cand_cte_sql().format(cap=_LSH_BUCKET_CAP)
    return f"""
WITH {CAPPED_HSETS_CTE}{cand}, capped AS (
  SELECT s.doc_id, s.shingle FROM sets s JOIN sfreq USING (shingle)
  WHERE df <= 50
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size) >= 0.6
), counts AS (
  SELECT
    (SELECT COUNT(*) FROM truth) AS n_true,
    (SELECT COUNT(*) FROM cand_t) AS n_candidates,
    (SELECT COUNT(*) FROM truth t WHERE EXISTS (
       SELECT 1 FROM sized a JOIN sized b ON {_BJOIN}
       WHERE a.doc_id = t.doc_a AND b.doc_id = t.doc_b)) AS n_hits_bucket,
    (SELECT COUNT(*) FROM truth t WHERE EXISTS (
       SELECT 1 FROM cand_t c
       WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)) AS n_hits_direct
)
SELECT n_true, n_candidates, n_hits_bucket, n_hits_direct,
  CASE WHEN n_true > 0 THEN
    {sql_round_mean_micro("CAST(n_hits_bucket AS DECIMAL(18,6))", "n_true")}
  END AS recall,
  CASE WHEN n_true > 0 THEN
    {sql_round_mean_micro("CAST(n_hits_direct AS DECIMAL(18,6))", "n_true")}
  END AS recall_direct,
  (n_true = 0 OR 5 * n_hits_bucket >= 4 * n_true) AS meets_floor
FROM counts
"""


# --------------------------------------------------- mm_shard_manifest

_SHARD_BYTES = 4096


def mm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest for media payloads: assign each
    document's binary blob (UTF-8 bytes stand in for image/audio, as in
    ``mm_binary_meta``) to a ~_SHARD_BYTES shard, per source, in
    deterministic doc_id order — the manifest a dataloader reads to
    fetch shard N.  Offset packing: shard = exclusive-prefix-bytes DIV
    target, so assignment is a pure window function (a shard may
    overflow by at most one item — the standard trade that keeps
    packing single-pass and repartition-stable; greedy exact packing is
    a sequential recurrence).  Per shard: item count, byte total, the
    doc_id range a reader needs.

    Scale: one window sort per source over (doc_id, n_bytes) — the
    payloads themselves never shuffle; the manifest is metadata-only."""
    t = load_tables(spark, sf_dir, ["documents"])
    w = Window.partitionBy("source").orderBy("doc_id")
    n_bytes = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    cum_excl = F.coalesce(
        F.sum("n_bytes").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    shard = F.call_function("div", cum_excl, F.lit(_SHARD_BYTES).cast("long"))
    return (
        t["documents"]
        .select("source", "doc_id", n_bytes.alias("n_bytes"))
        .select("source", "doc_id", "n_bytes", shard.alias("shard_id"))
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard_id")
    )


MM_SHARD_SQL = f"""
WITH sized AS (
  SELECT source, doc_id, octet_length(encode(text)) AS n_bytes FROM documents
), assigned AS (
  SELECT source, doc_id, n_bytes,
    CAST(coalesce(SUM(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {_SHARD_BYTES} AS BIGINT) AS shard_id
  FROM sized
)
SELECT source, shard_id, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM assigned GROUP BY source, shard_id ORDER BY source, shard_id
"""


# -------------------------------------------------------- e_pca_power

_PCA_ITERS = 3
_PCA_DIM = 64


def e_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by matrix-free
    power iteration — the whitening/debiasing primitive ("all-but-the-
    top") an embedding pipeline wants before ANN: v ← Σᵢ xᵢ(xᵢ·v),
    normalized, 3 unrolled iterations from the constant start vector
    1/√dim.  Output: per-dimension loading of v₃ plus the Rayleigh-ish
    eigenvalue estimate ‖w₃‖.

    All-DataFrame, no driver linear algebra: each iteration is one
    broadcast of the 64-float vector, one HOF dot per row, one
    posexplode absorbed by a partial-aggregated per-dimension sum
    (DECIMAL(27,12) states — order-independent), and a 64-row
    normalize.  The corpus is scanned once per iteration and nothing
    vector-sized ever shuffles (the kmeans_centroids recipe,
    operators/similarity.py, pointed at a different fixed point);
    oracle = the same three iterations unrolled in SQL with
    list_inner_product's matching left-associated accumulation."""
    from kp_crypto_market_analytics_spark.functions.vectors import (
        dot,
        to_double_array,
    )

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = ensure_parallelism(t["embeddings"]).select(
        "vec_id", to_double_array("embedding").alias("x")
    )
    v_df = spark.range(1).select(
        F.array(*[F.lit(0.125)] * _PCA_DIM).alias("v")
    )
    w = nrm = None
    for _ in range(_PCA_ITERS):
        scored = emb.crossJoin(F.broadcast(v_df)).select(
            F.round(dot(F.col("x"), F.col("v")), 6).alias("s"), "x"
        )
        comp = scored.select("s", F.posexplode("x").alias("pos", "xj"))
        w = comp.groupBy("pos").agg(
            F.round(
                F.sum((F.col("s") * F.col("xj")).cast("decimal(27,12)")).cast(
                    "double"
                ),
                6,
            ).alias("wj")
        )
        wd = F.col("wj").cast(DEC)
        nrm = w.groupBy().agg(
            F.sqrt(F.sum(wd * wd).cast("double")).alias("nrm")
        )
        v_df = (
            w.crossJoin(F.broadcast(nrm))
            .select("pos", F.round(F.col("wj") / F.col("nrm"), 6).alias("vj"))
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "vj"))),
                    lambda st: st.vj,
                ).alias("v")
            )
        )
    return (
        w.crossJoin(F.broadcast(nrm))
        .select(
            (F.col("pos") + 1).alias("dim"),
            F.round(F.col("wj") / F.col("nrm"), 6).alias("loading"),
            F.round(F.col("nrm"), 6).alias("eigenvalue"),
        )
        .orderBy("dim")
    )


def _e_pca_sql() -> str:
    v0 = "[" + ", ".join(["0.125"] * _PCA_DIM) + "]"
    parts = [
        f"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), v0 AS (SELECT {v0} AS v)"""
    ]
    prev = "v0"
    for i in range(1, _PCA_ITERS + 1):
        parts.append(
            f"""s{i} AS (
  SELECT round(list_inner_product(x, v), 6) AS s, x FROM e, {prev}
), w{i} AS (
  SELECT i AS pos, round(CAST(SUM(CAST(s * x[i] AS DECIMAL(27,12))) AS DOUBLE), 6) AS wj
  FROM s{i}, generate_series(1, {_PCA_DIM}) AS g(i) GROUP BY i
), n{i} AS (
  SELECT sqrt(CAST(SUM(CAST(wj AS DECIMAL(18,6)) * CAST(wj AS DECIMAL(18,6))) AS DOUBLE)) AS nrm FROM w{i}
)"""
        )
        if i < _PCA_ITERS:
            parts.append(
                f"""v{i} AS (
  SELECT list(round(wj / nrm, 6) ORDER BY pos) AS v FROM w{i}, n{i}
)"""
            )
            prev = f"v{i}"
    last = _PCA_ITERS
    return f"""
WITH {", ".join(parts)}
SELECT pos AS dim, round(wj / nrm, 6) AS loading, round(nrm, 6) AS eigenvalue
FROM w{last}, n{last} ORDER BY dim
"""


# ------------------------------------------------------- t_countmin_hh

_CM_ROWS = 4
_CM_WIDTH = 1024


def t_countmin_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters, with the sketch's bias AUDITED
    against exact counts: build a 4×1024 counter sketch over the token
    stream (portable md5-derived bucket hashes, so the oracle rebuilds
    the identical sketch), probe the top-20 tokens, and report exact
    count, CM estimate, and overcount.  CM guarantees est ≥ exact —
    the gate pins the estimate bit-for-bit, the test pins the bound.

    Scale shape: the sketch is a 4096-row aggregate with map-side
    combine (the classic 'heavy hitters without a full vocab shuffle'
    structure — at 100 TB the sketch fits in L2 while exact counts need
    |vocab| state); the probe joins 20 rows against it broadcast."""
    from kp_crypto_market_analytics_spark.functions.text import hash64
    from kp_crypto_market_analytics_spark.operators.windows import top_k

    toks = _toks_df(spark, sf_dir).select(F.explode("toks").alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))

    def bucket(j: int):
        return (
            F.pmod(hash64(F.concat(F.col("tok"), F.lit(f"#cm{j}"))), F.lit(_CM_WIDTH))
        ).alias("bucket")

    # One explode over a 4-struct array instead of a 4-way union: the
    # vocab aggregate is computed ONCE and the sketch build is a single
    # scan of it (the union form re-evaluated the token explode per row
    # of the sketch — 4× the work and 4× the exchanges).
    rb = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("row"), bucket(j).alias("bucket"))
                for j in range(_CM_ROWS)
            ]
        )
    ).alias("rb")
    cells = vocab.select(rb, "cf").select("rb.row", "rb.bucket", "cf")
    sketch = cells.groupBy("row", "bucket").agg(F.sum("cf").alias("cell"))

    probes = top_k(vocab, [F.col("cf").desc(), F.col("tok").asc()], 20)
    probe_cells = probes.select("tok", "cf", rb).select(
        "tok", "cf", "rb.row", "rb.bucket"
    )
    return (
        probe_cells.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("tok")
        .agg(
            F.first("cf").alias("exact_cf"),
            F.min("cell").alias("est_cf"),
        )
        .select(
            "tok",
            "exact_cf",
            "est_cf",
            (F.col("est_cf") - F.col("exact_cf")).alias("overcount"),
        )
        .orderBy(F.col("exact_cf").desc(), F.col("tok").asc())
    )


def _t_countmin_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import H60

    def bucket(j: int) -> str:
        salted = f"tok || '#cm{j}'"
        return f"({H60.format(x=salted)} % {_CM_WIDTH})"

    cell_rows = " UNION ALL ".join(
        f"SELECT {j} AS row, {bucket(j)} AS bucket, cf FROM vocab"
        for j in range(_CM_ROWS)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT tok, cf, {j} AS row, {bucket(j)} AS bucket FROM probes"
        for j in range(_CM_ROWS)
    )
    return f"""
WITH {TOKENS_CTE}, vocab AS (
  SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok
), sketch AS (
  SELECT row, bucket, CAST(SUM(cf) AS BIGINT) AS cell FROM ({cell_rows}) GROUP BY row, bucket
), probes AS (
  SELECT tok, cf FROM vocab ORDER BY cf DESC, tok LIMIT 20
), joined AS (
  SELECT tok, cf, cell FROM ({probe_rows}) p JOIN sketch USING (row, bucket)
)
SELECT tok, MIN(cf) AS exact_cf, MIN(cell) AS est_cf,
  MIN(cell) - MIN(cf) AS overcount
FROM joined GROUP BY tok ORDER BY exact_cf DESC, tok
"""


# --------------------------------------------- t_countmin_stream_parity

_CM_STREAM_BATCHES = 3


def t_countmin_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min LINEARITY as streaming state, gated: accumulate the
    4×1024 counter grid SEQUENTIALLY over document micro-batches
    (state_k = cell-sum(state_{k-1}, batch_k)) — the exact fold
    ``streaming.countmin.countmin_stream`` performs across real
    micro-batches — and prove each running emission (full grid AND the
    top-token estimate) equals the sketch built directly over the
    stream prefix.

    Completes the streaming-sketch parity trio: HLL folds by max
    (``a_hll_stream_parity``), DDSketch by bucket count-sum
    (``a_ddsketch_stream_parity``), count-min by cell sum — linearity
    makes the fold order-insensitive, so the deterministic hash
    batching (batch id = doc_id mod 3, a stand-in for arrival batches)
    gates exactly the property the production stream relies on.  The
    DuckDB oracle recomputes each PREFIX sketch directly — a broken
    fold diverges from it.

    Scale: state is the constant 4096-cell grid regardless of tokens
    seen; each fold round is a grid-shaped union + sum-agg, and the
    probe joins 4 broadcast cells."""
    from kp_crypto_market_analytics_spark.functions.text import hash64
    from kp_crypto_market_analytics_spark.operators.windows import top_k

    # ONE pass over the token stream (r9 bench trim): the per-(batch,
    # token) count frame is |vocab|x4 rows and everything downstream
    # (batch sketches, direct prefix sketches, the probe, n_seen)
    # derives from it with bit-identical integer counts.
    pbv = _toks_df(spark, sf_dir).select(
        (F.pmod(F.col("doc_id"), F.lit(_CM_STREAM_BATCHES)) + 1).alias("bid"),
        F.explode("toks").alias("tok"),
    ).groupBy("bid", "tok").agg(
        F.count(F.lit(1)).alias("cf")
    ).localCheckpoint(eager=True)

    def bucket(j: int):
        return F.pmod(
            hash64(F.concat(F.col("tok"), F.lit(f"#cm{j}"))), F.lit(_CM_WIDTH)
        )

    rb = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("row"), bucket(j).alias("bucket"))
                for j in range(_CM_ROWS)
            ]
        )
    ).alias("rb")

    def sketch_of(vocab: DataFrame) -> DataFrame:
        # vocab-first (the per-bid count frame absorbed the explode),
        # then the 4-cell fan-out over the much smaller vocab — same
        # single-scan shape as t_countmin_hh.
        cells = vocab.select(rb, "cf").select("rb.row", "rb.bucket", "cf")
        return cells.groupBy("row", "bucket").agg(F.sum("cf").alias("cell"))

    # Probe = the corpus-wide top token (deterministic tie-break); its
    # 4 cells are looked up in every running grid.
    full_vocab = pbv.groupBy("tok").agg(F.sum("cf").alias("cf"))
    probe = top_k(full_vocab, [F.col("cf").desc(), F.col("tok").asc()], 1)
    probe_cells = probe.select(F.col("tok").alias("top_tok"), rb).select(
        "top_tok", "rb.row", "rb.bucket"
    )

    def probe_est(grid: DataFrame, alias: str) -> DataFrame:
        return (
            probe_cells.join(F.broadcast(grid), ["row", "bucket"], "left")
            .groupBy("top_tok")
            .agg(F.min(F.coalesce("cell", F.lit(0))).alias(alias))
        )

    state: DataFrame | None = None
    out: DataFrame | None = None
    for k in range(1, _CM_STREAM_BATCHES + 1):
        batch = sketch_of(pbv.where(F.col("bid") == k).select("tok", "cf"))
        state = (
            batch
            if state is None
            else state.unionByName(batch)
            .groupBy("row", "bucket")
            .agg(F.sum("cell").alias("cell"))
        )
        direct = sketch_of(
            pbv.where(F.col("bid") <= k)
            .groupBy("tok")
            .agg(F.sum("cf").alias("cf"))
        )
        cmp_full = (
            state.alias("s")
            .join(direct.alias("d"), ["row", "bucket"], "full_outer")
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("s.cell").isNotNull()
                            & (F.col("s.cell") == F.col("d.cell")),
                            0,
                        ).otherwise(1)
                    ),
                    F.lit(0),
                ).alias("mismatched")
            )
        )
        s_est = probe_est(state, "stream_est")
        d_est = probe_est(direct, "direct_est").drop("top_tok")
        n_seen = pbv.where(F.col("bid") <= k).agg(
            F.coalesce(F.sum("cf"), F.lit(0).cast("long")).alias(
                "n_toks_seen"
            )
        )
        row = (
            n_seen.crossJoin(cmp_full)
            .crossJoin(s_est)
            .crossJoin(d_est)
            .select(
                F.lit(k).alias("batch_idx"),
                "n_toks_seen",
                (F.col("mismatched") == 0).alias("cells_equal"),
                "top_tok",
                "stream_est",
                "direct_est",
                (F.col("stream_est") == F.col("direct_est")).alias("est_equal"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("batch_idx")


def _t_countmin_stream_parity_sql() -> str:
    """Oracle: each prefix sketch computed DIRECTLY (no fold) — by
    count-min linearity the engine's sequential cell-sum accumulation
    must land on the same grid and estimate, so cells_equal/est_equal
    are literal TRUE here: a broken fold flips the engine's own flags
    and the hash breaks."""
    from kp_crypto_market_analytics_spark.queries_ext import H60

    def bucket(j: int, col: str = "tok") -> str:
        salted = f"{col} || '#cm{j}'"
        return f"({H60.format(x=salted)} % {_CM_WIDTH})"

    def est_over(k: int) -> str:
        cell_rows = " UNION ALL ".join(
            f"SELECT {j} AS row, {bucket(j)} AS bucket FROM tb WHERE bid <= {k}"
            for j in range(_CM_ROWS)
        )
        return f"""SELECT MIN(coalesce(s.cell, 0)) FROM pc
    LEFT JOIN (SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cell
               FROM ({cell_rows}) GROUP BY row, bucket) s
    USING (row, bucket)"""

    probe_cells = " UNION ALL ".join(
        f"SELECT top_tok, {j} AS row, {bucket(j, 'top_tok')} AS bucket FROM probe"
        for j in range(_CM_ROWS)
    )
    rows = " UNION ALL ".join(
        f"""SELECT {k} AS batch_idx,
  (SELECT COUNT(*) FROM tb WHERE bid <= {k}) AS n_toks_seen,
  TRUE AS cells_equal,
  (SELECT top_tok FROM probe) AS top_tok,
  ({est_over(k)}) AS stream_est,
  ({est_over(k)}) AS direct_est,
  TRUE AS est_equal"""
        for k in range(1, _CM_STREAM_BATCHES + 1)
    )
    return f"""
WITH {TOKENS_CTE}, tb AS (
  SELECT doc_id % {_CM_STREAM_BATCHES} + 1 AS bid, tok FROM toks
), probe AS (
  SELECT tok AS top_tok FROM (
    SELECT tok, COUNT(*) AS cf FROM tb GROUP BY tok
  ) ORDER BY cf DESC, tok LIMIT 1
), pc AS (
  {probe_cells}
)
{rows}
ORDER BY batch_idx
"""


# ---------------------------------------------------- t_quality_deciles


def t_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-band decision table: bucket every document into quality
    deciles by VALUE THRESHOLDS (the nine corpus-wide quality-score
    percentile cutoffs), report per-band volume and feature means —
    the table a pipeline owner reads to pick the keep/drop cut line.

    Deliberately NOT ntile(): a global ntile is one sort on one
    partition — the anti-scale plan.  Threshold bucketing needs only a
    9-value aggregate (exact `percentile` under the oracle gate,
    `approx_percentile` sketches under APPROX_QUANTILES_CONF — the
    conf-switch shared with a7/e3) broadcast back over the corpus:
    two scans, no global sort, band sizes approximately equal instead
    of exactly equal, which is the right trade at 100 TB.  Documents
    equal to a cutoff land in the lower band on both engines (strict
    `>` comparison)."""
    from kp_crypto_market_analytics_spark.functions.text import (
        quality_score,
        stopword_hits,
        token_count,
    )
    from kp_crypto_market_analytics_spark.operators.aggregates import percentile_expr

    t = load_tables(spark, sf_dir, ["documents"])
    toks = token_count("text")
    ratio = F.when(toks > 0, stopword_hits("text") / toks)
    q = ensure_parallelism(t["documents"]).select(
        "doc_id",
        toks.alias("n_tokens"),
        F.round(ratio, 6).alias("stopword_ratio"),
        quality_score("text").alias("score"),
    )
    cuts = q.agg(
        *[
            F.round(percentile_expr(q, "score", k / 10.0), 6).alias(f"c{k}")
            for k in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for k in range(1, 10):
        decile = decile + F.when(F.col("score") > F.col(f"c{k}"), 1).otherwise(0)
    return (
        q.crossJoin(F.broadcast(cuts))
        .select("n_tokens", "stopword_ratio", "score", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
            round_mean_micro(
                F.sum(F.col("score").cast(DEC)), F.count(F.lit(1))
            ).alias("avg_score"),
            round_mean_micro(
                F.sum("n_tokens").cast(DEC), F.count(F.lit(1))
            ).alias("avg_tokens"),
            F.when(
                F.count("stopword_ratio") > 0,
                round_mean_micro(
                    F.sum(F.col("stopword_ratio").cast(DEC)),
                    F.count("stopword_ratio"),
                ),
            ).alias("avg_stopword_ratio"),
        )
        .orderBy("decile")
    )


def _t_quality_deciles_sql() -> str:
    base = quality_score_sql().strip().rstrip()
    # Reuse the t_quality_score oracle as a subquery: (doc_id, n_tokens,
    # stopword_hits, stopword_ratio, quality_score) per doc.
    inner = base.replace("ORDER BY doc_id", "")
    cut_cols = ", ".join(
        f"round(quantile_cont(quality_score, {k / 10.0}), 6) AS c{k}"
        for k in range(1, 10)
    )
    decile = " + ".join(
        f"CASE WHEN quality_score > c{k} THEN 1 ELSE 0 END" for k in range(1, 10)
    )
    return f"""
WITH q AS ({inner}), cuts AS (SELECT {cut_cols} FROM q),
banded AS (
  SELECT n_tokens, stopword_ratio, quality_score AS score,
    1 + {decile} AS decile
  FROM q CROSS JOIN cuts
)
SELECT decile, COUNT(*) AS n_docs,
  round(MIN(score), 6) AS min_score,
  round(MAX(score), 6) AS max_score,
  {sql_round_mean_micro("SUM(CAST(score AS DECIMAL(18,6)))", "COUNT(*)")} AS avg_score,
  {sql_round_mean_micro("CAST(SUM(n_tokens) AS DECIMAL(18,6))", "COUNT(*)")} AS avg_tokens,
  CASE WHEN COUNT(stopword_ratio) > 0 THEN
    {sql_round_mean_micro("SUM(CAST(stopword_ratio AS DECIMAL(18,6)))", "COUNT(stopword_ratio)")}
  END AS avg_stopword_ratio
FROM banded GROUP BY decile ORDER BY decile
"""


# ----------------------------------------------------- t_chunk_overlap

# Retrieval-chunk geometry: window of OVERLAP_WORDS words advancing by
# OVERLAP_STRIDE (overlap = W − S) — the standard RAG/embedding-corpus
# export shape, distinct from CHUNK_WORDS' disjoint paragraphs above.
OVERLAP_WORDS = 30
OVERLAP_STRIDE = 20


def t_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-stride chunk export: every document split into sliding
    30-word windows advancing 20 words (10-word overlap carries context
    across boundaries) — the chunking pass that feeds embedding /
    retrieval indexing, complementing ``t_paragraph_dedup``'s disjoint
    chunks and ``t_pack_sequences``'s budget packing.  Emits the chunk
    manifest (index, start offset, width, content fingerprint) rather
    than the text itself: the downstream embedder re-slices by offset,
    so the shuffle never carries chunk bodies — at 100 TB the explode
    is map-side only and the single exchange is the final ORDER BY.
    Chunk starts are exactly the i·S < len(words) positions; the final
    window is allowed to run short (no padding), matching the common
    chunker convention."""
    toks = _toks_df(spark, sf_dir)
    w, s = OVERLAP_WORDS, OVERLAP_STRIDE
    n_chunks = F.ceil(F.size("toks") / F.lit(s)).cast("long")
    chunk = F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx")
    out = toks.select("doc_id", "toks", chunk)
    words = F.slice(F.col("toks"), (F.col("chunk_idx") * s + 1).cast("int"), w)
    return (
        out.select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * s + 1).alias("start_word"),
            F.size(words).cast("long").alias("n_words"),
            F.md5(F.array_join(words, " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


T_CHUNK_OVERLAP_SQL = f"""
WITH norm AS (
  SELECT doc_id, string_split({NORM_TEXT_SQL}, ' ') AS l FROM documents
), idx AS (
  SELECT doc_id, l,
    unnest(generate_series(1, CAST(ceil(len(l) / {OVERLAP_STRIDE}.0) AS BIGINT))) AS i
  FROM norm
), c AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
    CAST((i - 1) * {OVERLAP_STRIDE} + 1 AS BIGINT) AS start_word,
    l[(i - 1) * {OVERLAP_STRIDE} + 1 :
      least((i - 1) * {OVERLAP_STRIDE} + {OVERLAP_WORDS}, len(l))] AS w
  FROM idx
)
SELECT doc_id, chunk_idx, start_word,
  CAST(len(w) AS BIGINT) AS n_words,
  md5(array_to_string(w, ' ')) AS chunk_md5
FROM c ORDER BY doc_id, chunk_idx
"""


REGISTRY = (
    (t_paragraph_dedup, T_PARAGRAPH_SQL),
    (dedup_substring, DEDUP_SUBSTRING_SQL),
    (t_word_entropy, T_WORD_ENTROPY_SQL),
    (t_bigram_logprob, _bigram_logprob_sql()),
    (t_quality_deciles, _t_quality_deciles_sql()),
    (dedup_incremental, _dedup_incremental_sql()),
    (t_vocab_table, T_VOCAB_TABLE_SQL),
    (t_bpe_merges, _bpe_merges_sql()),
    (t_oov_rate, _t_oov_rate_sql()),
    (t_countmin_hh, _t_countmin_sql()),
    (t_countmin_stream_parity, _t_countmin_stream_parity_sql()),
    (e_pca_power, _e_pca_sql()),
    (mm_shard_manifest, MM_SHARD_SQL),
    (dedup_lsh_recall, _dedup_lsh_recall_sql()),
    (w_streaks, W_STREAKS_SQL),
    (t_doc_report, _t_doc_report_sql()),
    (t_chunk_overlap, T_CHUNK_OVERLAP_SQL),
)
