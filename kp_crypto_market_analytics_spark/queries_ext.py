"""Extension queries: LSH/SimHash/winnowing dedup, ANN variants,
multimodal plumbing, and the engine-free extras (rollup, distinct-agg,
seeded sampling, scalar correlations) — each with a DuckDB oracle.

Determinism follows queries.py: portable md5-derived hashes, exact
decimal moments for sums/avgs, round(x, 6) on float outputs, unique
tiebreakers under every LIMIT/rank, and — for the LSH hyperplanes —
left-associated IEEE addition in the identical order on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.dedup import (
    lsh_bands_for_threshold,
    minhash_lsh_pairs,
    simhash,
    simhash_near_pairs,
    winnow_positions,
)
from kp_crypto_market_analytics_spark.operators.multimodal import (
    decode_media,
    media_metadata_stats,
)
from kp_crypto_market_analytics_spark.operators.aggregates import DEC
from kp_crypto_market_analytics_spark.operators.correlation import corr_moments
from kp_crypto_market_analytics_spark.operators.similarity import ivf_topk, lsh_topk
from kp_crypto_market_analytics_spark.functions.text import hash64, token_count
from kp_crypto_market_analytics_spark.session import ensure_parallelism, load_tables

NORM_TEXT_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

# Oracle position enumeration (ADVICE r2, resolved r3): this DuckDB
# build rejects lateral/subquery bounds for the generate_series TABLE
# function, but the SCALAR form unnest(generate_series(1, <per-row
# expr>)) is allowed — so every position-enumerating CTE derives its
# bound from len() of the row it slices and can never fall behind the
# unbounded Spark side.  tests/test_corpus_queries.py::
# test_oracle_series_bounds_are_data_derived guards against literal
# caps creeping back in.

# Shared oracle CTE: distinct char-4-gram shingle sets of normalized text.
SHINGLE4_CTE = f"""
norm AS (
  SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents
), shidx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 3, 1))) AS i
  FROM norm
), sets AS (
  SELECT DISTINCT doc_id, substr(t, i, 4) AS shingle FROM shidx
)"""


def _minhash_aggs(n: int) -> str:
    """MinHash agg list over the pre-projected base-hash column ``h``
    (the hsets CTE computes the md5-derived 60-bit hash ONCE per
    shingle row; embedding md5 in every agg slot re-evaluates it n
    times — the r7 interpreted-agg pitfall, ~n× slower at n=64)."""
    return ",\n  ".join(
        f"MIN(({2 * j + 1} * h + {104729 * (j + 1)}) % 2147483647) AS mh_{j}"
        for j in range(n)
    )


# ------------------------------------------------------- MinHash + LSH
#
# Production LSH parameterization (VERDICT r8 ask #1).  The banding is
# DERIVED from the near-dup threshold instead of hand-picked: with r
# rows per band and b bands the S-curve midpoint is s* = (1/b)^(1/r),
# and lsh_bands_for_threshold places it at 5/6 of the target — for
# t = 0.6, r = 4 that is b = 16 bands (64 hashes, s* = 0.5), expected
# recall at J = t of 1-(1-t^r)^b ≈ 0.89.  The r8 hand-picked 8/2
# banding had s* ≈ 0.84 and measured recall 0.107 at sf0.1.
#
# Equally load-bearing: the signatures hash the DF-CAPPED shingle sets
# (df ≤ _LSH_DF_CAP, the same cap the exact truth metric uses), so
# est_jaccard estimates exactly the boilerplate-insensitive Jaccard
# the threshold is defined over.  Hashing the full sets made recall
# collapse on this templated corpus (measured 0.14 at sf0.1 even at
# 64/16): template shingles dominate the minima while the truth
# ignores them.  dedup_lsh_recall gates the floor at both SFs.

_LSH_THRESHOLD = 0.6       # capped-Jaccard near-dup threshold (truth)
_LSH_ROWS_PER_BAND = 4
_LSH_DF_CAP = 50           # same df cap as the exact capped detector
_LSH_RECALL_FLOOR = 0.8    # gated SLO floor (dedup_lsh_recall)


_LSH_BANDS = lsh_bands_for_threshold(_LSH_THRESHOLD, _LSH_ROWS_PER_BAND)  # 16
_LSH_NUM_HASHES = _LSH_BANDS * _LSH_ROWS_PER_BAND  # 64

# DuckDB CTE chain: shingle sets -> df cap -> base hash (once) -> sigs.
CAPPED_HSETS_CTE = (
    SHINGLE4_CTE
    + f""", sfreq AS (
  SELECT shingle, COUNT(*) AS df FROM sets GROUP BY 1
), hsets AS (
  SELECT s.doc_id, ({H60.format(x='s.shingle')} % 2147483647) AS h
  FROM sets s JOIN sfreq USING (shingle) WHERE df <= {_LSH_DF_CAP}
), sigs AS (
  SELECT doc_id, {_minhash_aggs(_LSH_NUM_HASHES)}
  FROM hsets GROUP BY doc_id
)"""
)

_BKEY = ", ".join(["band"] + [f"h{i}" for i in range(_LSH_ROWS_PER_BAND)])
_BJOIN = " AND ".join(
    f"a.{c} = b.{c}" for c in ["band"] + [f"h{i}" for i in range(_LSH_ROWS_PER_BAND)]
)


def _bands_select_sql(
    num_hashes: int = _LSH_NUM_HASHES, bands: int = _LSH_BANDS
) -> str:
    rows = num_hashes // bands
    sel = []
    for b in range(bands):
        cols = ", ".join(f"mh_{b * rows + i} AS h{i}" for i in range(rows))
        sel.append(f"SELECT doc_id, {b} AS band, {cols} FROM sigs")
    return "\n  UNION ALL\n  ".join(sel)


def _cand_cte_sql(new_pred: str | None = None) -> str:
    """bands → sized → cand_t(doc_a, doc_b, tier) with the star-routed
    bucket cap (mirrors minhash_lsh_pairs overcap='star'); ``new_pred``
    is a SQL predicate template over a doc_id column name (e.g.
    ``"{c} % 10 = 7"``) restricting to pairs touching the new batch —
    the incremental generator's seam restriction."""
    pair_new = (
        f"AND ({new_pred.format(c='a.doc_id')} OR {new_pred.format(c='b.doc_id')})"
        if new_pred
        else ""
    )
    star_new = (
        f"AND ({new_pred.format(c='doc_id')} OR {new_pred.format(c='rep')})"
        if new_pred
        else ""
    )
    return f""", bands AS (
  {_bands_select_sql()}
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY {_BKEY}) AS bn,
         MIN(doc_id) OVER (PARTITION BY {_BKEY}) AS rep
  FROM bands
), cand_t AS (
  SELECT doc_a, doc_b, MIN(tier) AS tier FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 'pair' AS tier
    FROM sized a JOIN sized b ON {_BJOIN} AND a.doc_id < b.doc_id
    WHERE a.bn <= {{cap}} AND b.bn <= {{cap}} {pair_new}
    UNION ALL
    SELECT rep AS doc_a, doc_id AS doc_b, 'star' AS tier
    FROM sized WHERE bn > {{cap}} AND doc_id <> rep {star_new}
  ) GROUP BY 1, 2
)"""


_EST_SQL = (
    "("
    + " + ".join(
        f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(_LSH_NUM_HASHES)
    )
    + f") / {_LSH_NUM_HASHES}"
)


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized 64-hash df-capped char-4-gram MinHash
    signature table over ``documents`` — the persisted signature table
    a deployment keeps next to the corpus.  Shared by
    dedup_minhash_sig, dedup_minhash_lsh, dedup_incremental,
    dedup_lsh_bucket_cap, and dedup_lsh_recall's LSH branch.  Docs
    whose every shingle is over the df cap have no row (boilerplate-
    only docs belong to the exact/fingerprint pipeline)."""
    from kp_crypto_market_analytics_spark.operators.dedup import minhash_signatures
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )

    def build() -> DataFrame:
        from kp_crypto_market_analytics_spark.operators.dedup import (
            capped_shingle_sets_materialized,
        )

        t = load_tables(spark, sf_dir, ["documents"])
        # Pre-capped shared postings (r11): pass max_shingle_freq=None
        # so the operator does not re-derive the df cap.
        return minhash_signatures(
            t["documents"], "text", "doc_id",
            num_hashes=_LSH_NUM_HASHES, k=4, use_words=False,
            sets=capped_shingle_sets_materialized(
                spark, sf_dir, k=4, use_words=False,
                max_shingle_freq=_LSH_DF_CAP,
            ),
            max_shingle_freq=None,
        )

    return session_materialized(
        spark,
        f"minhash_sigs:{sf_dir}:nh={_LSH_NUM_HASHES}:k=4:words=False"
        f":dfcap={_LSH_DF_CAP}",
        build,
    )


# Band-bucket population cap shared by the production LSH generators
# (dedup_minhash_lsh / dedup_lsh_recall / dedup_incremental) and the
# lever-census query dedup_lsh_bucket_cap.  With df-capped signatures
# a band bucket is NATURALLY bounded near the df cap (a shingle
# appears in ≤ 50 docs, so same-rare-shingle families top out there —
# measured max bucket 41 at sf0.1, 23 at sf0.01); the cap backstops
# hash-chained outliers.  Over-cap buckets are STAR-routed (r9), not
# dropped: they emit B−1 rep↔member edges instead of B(B−1)/2 pairs,
# so every same-bucket pair stays connected in the candidate graph
# while generation stays linear in bucket size.
_LSH_BUCKET_CAP = 64


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (SURVEY §7 phase 5): 64 minhashes
    over DF-CAPPED char-4-gram shingles (df ≤ 50, the same cap the
    exact truth metric uses) banded 16×4 — banding DERIVED from the
    0.6 threshold via lsh_bands_for_threshold (s* = 0.5, expected
    recall ≈ 0.89 at J = 0.6; gated ≥ 0.8 by dedup_lsh_recall at both
    SFs).  Docs agreeing on all 4 rows of any band become candidates;
    est_jaccard = matching-signature fraction (estimates the CAPPED
    Jaccard).  Candidate generation is the band bucket-join with the
    star-routed ``_LSH_BUCKET_CAP``: under-cap buckets emit all pairs
    (tier 'pair', direct verification candidates), over-cap buckets
    emit rep↔member star edges (tier 'star', cluster-merge witnesses)
    — bounded at max(C(cap,2), B−1) per bucket, linear in corpus
    size."""
    t = load_tables(spark, sf_dir, ["documents"])
    pairs = minhash_lsh_pairs(
        t["documents"], "text", "doc_id",
        num_hashes=_LSH_NUM_HASHES, bands=_LSH_BANDS, k=4,
        use_words=False, sig=_minhash_sigs(spark, sf_dir),
        max_bucket_size=_LSH_BUCKET_CAP, overcap="star",
    )
    return pairs.orderBy("doc_a", "doc_b")


DEDUP_MINHASH_LSH_SQL = f"""
WITH {CAPPED_HSETS_CTE}{_cand_cte_sql().format(cap=_LSH_BUCKET_CAP)}
SELECT doc_a, doc_b, tier, {_EST_SQL} AS est_jaccard
FROM cand_t JOIN sigs sa ON sa.doc_id = doc_a JOIN sigs sb ON sb.doc_id = doc_b
ORDER BY doc_a, doc_b
"""


def dedup_lsh_bucket_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH bucket-population lever, exercised and audited
    (SCALING.md MinHash row).  With df-capped signatures a band bucket
    is naturally bounded near the df cap (a shingle appears in at most
    _LSH_DF_CAP docs), but one hash-chained outlier bucket of B docs
    would still emit B(B-1)/2 pairs; the star-routed cap (r9) bounds
    that at B-1 rep-member edges while keeping every same-bucket pair
    connected in the candidate graph.  This query reports exactly what
    the lever does on the real corpus (same 64-hash/16-band capped
    signature table the other LSH queries share):

    - n_buckets / max_bucket / buckets_over_cap — bucket census at the
      production cap;
    - star_edges — SUM(B-1) over over-cap buckets (the edges the star
      route emits INSTEAD of all pairs);
    - pairs_avoided — SUM(B(B-1)/2 - (B-1)) over over-cap buckets,
      computed arithmetically WITHOUT expanding the pairs (the whole
      point of the lever is that these never materialize);
    - pairs_direct / pairs_star / pairs_total — tier counts of the
      real production generator (the same join path
      dedup_minhash_lsh serves).

    Scale: everything is one bucket-key shuffle + arithmetic except
    the generator count, whose worst bucket is bounded by
    construction."""
    from kp_crypto_market_analytics_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_lsh_pairs,
    )

    cap = _LSH_BUCKET_CAP
    t = load_tables(spark, sf_dir, ["documents"])
    sig = _minhash_sigs(spark, sf_dir)
    buckets = lsh_band_buckets(sig, "doc_id", _LSH_NUM_HASHES, _LSH_BANDS)
    per_bucket = buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    zero = F.lit(0).cast("long")
    census = per_bucket.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("n_docs").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("n_docs") > cap, 1).otherwise(0))
        .cast("long")
        .alias("buckets_over_cap"),
        F.coalesce(
            F.sum(
                F.when(F.col("n_docs") > cap, F.col("n_docs") - 1).otherwise(zero)
            ),
            zero,
        )
        .cast("long")
        .alias("star_edges"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("n_docs") > cap,
                    F.expr("n_docs * (n_docs - 1) DIV 2 - (n_docs - 1)"),
                ).otherwise(zero)
            ),
            zero,
        )
        .cast("long")
        .alias("pairs_avoided"),
    )
    gen = minhash_lsh_pairs(
        t["documents"], "text", "doc_id",
        num_hashes=_LSH_NUM_HASHES, bands=_LSH_BANDS, k=4, use_words=False,
        sig=sig, max_bucket_size=cap, overcap="star",
    )
    tiers = gen.agg(
        F.coalesce(
            F.sum(F.when(F.col("tier") == "pair", 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("pairs_direct"),
        F.coalesce(
            F.sum(F.when(F.col("tier") == "star", 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("pairs_star"),
        F.count(F.lit(1)).cast("long").alias("pairs_total"),
    )
    return census.crossJoin(tiers).select(
        "n_buckets", "max_bucket", "buckets_over_cap", "star_edges",
        "pairs_avoided", "pairs_direct", "pairs_star", "pairs_total",
    )


_BSZ_KEYS = ", ".join(str(i) for i in range(1, _LSH_ROWS_PER_BAND + 2))

DEDUP_LSH_BUCKET_CAP_SQL = f"""
WITH {CAPPED_HSETS_CTE}{_cand_cte_sql().format(cap=_LSH_BUCKET_CAP)}, bsz AS (
  SELECT {_BKEY}, MAX(bn) AS n_docs FROM sized GROUP BY {_BSZ_KEYS}
), census AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
    CAST(MAX(n_docs) AS BIGINT) AS max_bucket,
    CAST(coalesce(COUNT(*) FILTER (n_docs > {_LSH_BUCKET_CAP}), 0) AS BIGINT)
      AS buckets_over_cap,
    CAST(coalesce(SUM(n_docs - 1) FILTER (n_docs > {_LSH_BUCKET_CAP}), 0)
      AS BIGINT) AS star_edges,
    CAST(coalesce(SUM(n_docs * (n_docs - 1) // 2 - (n_docs - 1))
      FILTER (n_docs > {_LSH_BUCKET_CAP}), 0) AS BIGINT) AS pairs_avoided
  FROM bsz
), tiers AS (
  SELECT
    CAST(coalesce(SUM(CASE WHEN tier = 'pair' THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS pairs_direct,
    CAST(coalesce(SUM(CASE WHEN tier = 'star' THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS pairs_star,
    CAST(COUNT(*) AS BIGINT) AS pairs_total
  FROM cand_t
)
SELECT n_buckets, max_bucket, buckets_over_cap, star_edges, pairs_avoided,
  pairs_direct, pairs_star, pairs_total
FROM census, tiers
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the char-4-gram
    Jaccard>=0.6 pair graph — each doc labeled with its component's min
    doc_id (the survivor).  Iterative min-label propagation on Spark
    (O(diameter) shuffle rounds); the oracle computes the same
    transitive closure with a recursive CTE.

    Edges come from the FREQ-CAPPED pair generator (df<=50): the
    uncapped inverted index degenerates toward all-pairs on this
    small-vocab corpus (~40x slower at sf0.1) and clustering only
    needs enough edges to connect components."""
    from kp_crypto_market_analytics_spark.operators.dedup import (
        cluster_labels_materialized,
    )

    out = cluster_labels_materialized(spark, sf_dir)
    sizes = out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return out.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    ).orderBy("doc_id")


# Shared by DEDUP_CLUSTERS_SQL and _dedup_canonical_sql: the capped
# Jaccard pair graph + recursive-CTE transitive closure -> `labeled`.
_CLUSTER_CTES = f"""WITH {SHINGLE4_CTE}, freq AS (
  SELECT shingle, COUNT(*) AS df FROM sets GROUP BY 1
), capped AS (
  SELECT s.doc_id, s.shingle FROM sets s JOIN freq USING (shingle) WHERE df <= 50
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size) >= 0.6
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION SELECT doc_b, doc_a FROM edges
), reach AS (
  WITH RECURSIVE r(node, lab) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT s.b, r.lab FROM r JOIN sym s ON s.a = r.node
  )
  SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node
), labeled AS (
  SELECT node AS doc_id, cluster_id FROM reach
)"""

DEDUP_CLUSTERS_SQL = f"""
{_CLUSTER_CTES}
SELECT doc_id, cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled ORDER BY doc_id
"""


def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented scale path for n-gram Jaccard: document-frequency
    cap on shingles (df<=50) bounds the inverted-index join — a shingle
    shared by k docs emits k² candidate pairs, so boilerplate shingles
    are what make the exact plan quadratic.  Same output columns as
    dedup_ngram_jaccard; jaccard is computed over CAPPED sets (the
    approximation is the point)."""
    from kp_crypto_market_analytics_spark.operators.dedup import (
        capped_jaccard_pairs_materialized,
    )

    pairs = capped_jaccard_pairs_materialized(spark, sf_dir)
    return pairs.select(
        "doc_a", "doc_b", "inter_size", "size_a", "size_b",
        F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("doc_a", "doc_b")


DEDUP_NGRAM_CAPPED_SQL = f"""
WITH {SHINGLE4_CTE}, freq AS (
  SELECT shingle, COUNT(*) AS df FROM sets GROUP BY 1
), capped AS (
  SELECT s.doc_id, s.shingle FROM sets s JOIN freq USING (shingle) WHERE df <= 50
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_size, sa.set_size AS size_a, sb.set_size AS size_b,
  round(CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size), 6) AS jaccard
FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size) >= 0.6
ORDER BY doc_a, doc_b
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment pairs (C(a→b) = |A∩B|/|A| >= 0.8,
    char-4-grams, df<=50 cap) — the contamination/subset detector:
    finds documents substantially CONTAINED in another even when the
    symmetric Jaccard is too low for the near-dup detectors to fire
    (operators.dedup.ngram_containment_pairs).  The threshold runs on
    int64 cross-multiplication and the reported ratio uses the exact
    half-away micro rounding, so no float boundary exists anywhere."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )
    from kp_crypto_market_analytics_spark.operators.dedup import (
        capped_shingle_sets_materialized,
        ngram_containment_pairs,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    # Pre-capped shared postings (r11): max_shingle_freq=None skips the
    # operator's own df-cap re-derivation.
    pairs = ngram_containment_pairs(
        t["documents"], "text", "doc_id", k=4, threshold_pct=80,
        use_words=False, max_shingle_freq=None,
        sets=capped_shingle_sets_materialized(
            spark, sf_dir, k=4, use_words=False, max_shingle_freq=50
        ),
    )
    return pairs.select(
        "doc_a", "doc_b", "inter_size", "size_a", "size_b",
        round_mean_micro(
            F.col("inter_size").cast(DEC), F.col("size_a")
        ).alias("containment"),
    ).orderBy("doc_a", "doc_b")


def _dedup_containment_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    ratio = sql_round_mean_micro("CAST(inter_size AS DECIMAL(18,6))", "size_a")
    return f"""
WITH {SHINGLE4_CTE}, freq AS (
  SELECT shingle, COUNT(*) AS df FROM sets GROUP BY 1
), capped AS (
  SELECT s.doc_id, s.shingle FROM sets s JOIN freq USING (shingle) WHERE df <= 50
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), dirs AS (
  SELECT doc_a, doc_b, inter_size FROM inter
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b, inter_size FROM inter
)
SELECT doc_a, doc_b, inter_size, sa.set_size AS size_a, sb.set_size AS size_b,
  {ratio} AS containment
FROM dirs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_size * 100 >= sa.set_size * 80
ORDER BY doc_a, doc_b
"""


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs on a blocked candidate set: docs
    sharing an exact 16-char prefix fingerprint are compared with
    Levenshtein on the normalized head.  Prefix blocking is what keeps
    edit-distance dedup sub-quadratic (full-text Levenshtein across all
    pairs is O(n²·L²)); both engines implement the same DP distance so
    the integer output is exact."""
    t = load_tables(spark, sf_dir, ["documents"])
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    d = ensure_parallelism(t["documents"]).select(
        "doc_id",
        F.substring(norm, 1, 120).alias("head"),
        F.substring(norm, 1, 16).alias("block"),
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("head_a"), "block")
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("head_b"), "block")
    pairs = a.join(b, "block").where(F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.select(
            "doc_a", "doc_b", F.levenshtein("head_a", "head_b").alias("edit_dist")
        )
        .where(F.col("edit_dist") <= 20)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_EDIT_SQL = f"""
WITH d AS (
  SELECT doc_id, substr({NORM_TEXT_SQL}, 1, 120) AS head,
         substr({NORM_TEXT_SQL}, 1, 16) AS block
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  levenshtein(a.head, b.head) AS edit_dist
FROM d a JOIN d b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 20
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------- SimHash


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized SimHash signature frame (doc_id, simhash)
    shared by dedup_simhash and dedup_simhash_pairs — the explode +
    60-bit-vote aggregation runs once per session."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )

    def build() -> DataFrame:
        from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

        t = load_tables(spark, sf_dir, ["documents"])
        # The shared tokenize-once table replaces this build's own
        # normalize+split scan of raw text (r11 wave 4, guide §2.4);
        # same expression, bit-equal votes.
        toks = _toks_df(spark, sf_dir).select(
            F.col("doc_id").alias("doc"), F.explode("toks").alias("tok")
        )
        return simhash(t["documents"], "text", "doc_id", toks=toks)

    return session_materialized(spark, f"simhash:{sf_dir}:bits=60", build)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 60-bit fingerprints: per-token hash bits vote ±1, the
    sign pattern is the fingerprint.  One explode + one groupBy with 60
    conditional-sum aggregates — all map-side combinable."""
    return _simhash_sigs(spark, sf_dir).orderBy("doc_id")


def _simhash_cte() -> str:
    h = H60.format(x="tok")
    votes = ",\n    ".join(
        f"SUM(CASE WHEN ({h} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{i}"
        for i in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN bit_{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)" for i in range(60)
    )
    return f"""
toks AS (
  SELECT doc_id, unnest(string_split({NORM_TEXT_SQL}, ' ')) AS tok FROM documents
), votes AS (
  SELECT doc_id,
    {votes}
  FROM toks GROUP BY doc_id
), sims AS (
  SELECT doc_id, {fp} AS simhash FROM votes
)"""


DEDUP_SIMHASH_SQL = f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM sims ORDER BY doc_id"


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming radius 3: pigeonhole the 60
    bits into 4 chunks (any pair within radius agrees on >=1 chunk),
    bucket-join on chunk value, verify with bit_count(xor).  The chunk
    join bounds candidates the same way LSH bands do."""
    t = load_tables(spark, sf_dir, ["documents"])
    return simhash_near_pairs(
        t["documents"], "text", "doc_id", max_hamming=3,
        sig=_simhash_sigs(spark, sf_dir),
    ).orderBy("doc_a", "doc_b")


DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH {_simhash_cte()}, bands AS (
  SELECT doc_id, simhash, i AS chunk, (simhash >> (i * 15)) & 32767 AS val
  FROM sims, generate_series(0, 3) AS g(i)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------- winnowing


def t_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (rolling-hash scheme): min
    hash of every 8 consecutive char-5-gram hashes, deduped, then
    per-doc fingerprint stats.  Dedup happens INSIDE the aggregation
    (countDistinct) so the window's doc partitioning is reused — one
    shuffle end-to-end instead of three."""
    t = load_tables(spark, sf_dir, ["documents"])
    fps = winnow_positions(t["documents"], "text", "doc_id", k=5, window=8)
    return (
        fps.groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


T_WINNOW_SQL = f"""
WITH norm AS (
  SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i
  FROM norm
), pos AS (
  SELECT doc_id, i, substr(t, i, 5) AS shingle FROM idx
), winn AS (
  SELECT doc_id, MIN({H60.format(x='shingle')}) OVER (
    PARTITION BY doc_id ORDER BY i ROWS BETWEEN 7 PRECEDING AND CURRENT ROW
  ) AS fp
  FROM pos
), d AS (
  SELECT DISTINCT doc_id, fp FROM winn
)
SELECT doc_id, COUNT(*) AS n_fingerprints, MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM d GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------------------ ANN: LSH

LSH_PLANES = 4
LSH_DIM = 64


def _plane_coeff(j: int, d: int) -> float:
    # Mirror of operators.similarity.random_hyperplane_buckets.coeff —
    # keep in lockstep or the oracle diverges.
    x = (1103515245 * (j * LSH_DIM + d) + 12345) % (1 << 31)
    return (x / float(1 << 30)) - 1.0


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN with Hamming-1 multiprobe: bucket = sign
    bits of 4 hyperplane projections; queries probe their own bucket
    plus the 4 single-bit flips.  The bucket equi-join replaces the
    brute-force cross join (sim_bruteforce_topk is the exact baseline)."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.where(F.col("vec_id") < 10)
    return lsh_topk(
        emb, queries, "embedding", "vec_id", k=5, planes=LSH_PLANES, dim=LSH_DIM, multiprobe=1
    ).orderBy("query_id", "rank")


def _lsh_sql() -> str:
    # Projections reproduce the Spark fold exactly: left-associated
    # double addition starting at 0.0, identical term order.
    def bucket_expr(v: str) -> str:
        cases = []
        for j in range(LSH_PLANES):
            terms = " + ".join(
                f"{v}[{d + 1}] * {_plane_coeff(j, d)!r}" for d in range(LSH_DIM)
            )
            cases.append(f"(CASE WHEN 0.0 + {terms} >= 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(cases)

    probes = ", ".join(f"xor(bucket, {1 << j})" for j in range(LSH_PLANES))
    return f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings
), cb AS (
  SELECT neighbor_id, cvec, {bucket_expr('cvec')} AS bucket FROM c
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id < 10
), qb AS (
  SELECT query_id, qvec, {bucket_expr('qvec')} AS bucket FROM q
), qprobes AS (
  SELECT query_id, qvec, unnest([bucket, {probes}]) AS bucket FROM qb
), scored AS (
  SELECT query_id, neighbor_id,
    round(list_cosine_similarity(qvec, cvec), 6) AS cos
  FROM cb JOIN qprobes USING (bucket)
  WHERE query_id <> neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


# ------------------------------------------------------------ ANN: IVF


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: corpus assigned to nearest deterministic
    centroid, queries probe their 2 nearest cells.  The scale path for
    similarity search — candidates shrink by ~|centroids|/nprobe."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk(
        emb, queries, "embedding", "vec_id", k=5, nprobe=2, centroid_mod=37
    ).orderBy("query_id", "rank")


SIM_IVF_SQL = """
WITH cents AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cent
  FROM embeddings WHERE vec_id % 37 = 0
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings
), cassign AS (
  SELECT neighbor_id, cvec, centroid_id FROM (
    SELECT c.neighbor_id, c.cvec, cents.centroid_id,
      row_number() OVER (
        PARTITION BY c.neighbor_id
        ORDER BY round(list_cosine_similarity(c.cvec, cents.cent), 6) DESC, cents.centroid_id
      ) AS rn
    FROM c, cents
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < 10
), qprobe AS (
  SELECT query_id, qvec, centroid_id FROM (
    SELECT q.query_id, q.qvec, cents.centroid_id,
      row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY round(list_cosine_similarity(q.qvec, cents.cent), 6) DESC, cents.centroid_id
      ) AS rn
    FROM q, cents
  ) WHERE rn <= 2
), scored AS (
  SELECT query_id, neighbor_id, round(list_cosine_similarity(qvec, cvec), 6) AS cos
  FROM cassign JOIN qprobe USING (centroid_id)
  WHERE query_id <> neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _kmeans_cents37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized trained centroid table (mod-37 seeds, 2
    Lloyd iterations) — the TRAINING artifact shared by the IVF search
    family (sim_ivf_trained via _ivf_trained_topk5) and the semantic
    dedup census (dedup_semantic).  Training is the expensive stage
    (per-iteration assignment + mean recompute over the whole corpus);
    at 100 TB it runs once and every consumer reads the C-row table —
    exactly what temp-parquet materialization models."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )
    from kp_crypto_market_analytics_spark.operators.similarity import kmeans_centroids

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["embeddings"])
        return kmeans_centroids(
            t["embeddings"], "embedding", "vec_id", seed_mod=37, iters=2
        )

    return session_materialized(
        spark, f"kmeans_cents:{sf_dir}:mod=37:iters=2", build
    )


def _ivf_assign37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized full-corpus nearest-centroid assignment
    (vec_id, centroid_id) against the trained cents37 table — the
    second training-adjacent artifact the IVF family shares (r11
    wave 4, guide §2.4).  Before this, FIVE corpus×C assignment
    passes ran per session over identical inputs: one inside
    _ivf_trained_topk5's ivf_topk, one inside dedup_semantic's
    cell clustering, and three inside sim_ivf_stream_parity's
    per-batch folds.  Assignment is a deterministic per-row argmax
    of the 6dp-rounded cosine (centroid-id tiebreak) against a
    FROZEN table, so one materialized pass serves all of them
    bit-identically — at 100 TB this is the posting-list build you
    run exactly once per index version."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )
    from kp_crypto_market_analytics_spark.functions.vectors import (
        norm,
        to_double_array,
    )
    from kp_crypto_market_analytics_spark.operators.similarity import ivf_assign

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["embeddings"])
        c = ensure_parallelism(
            t["embeddings"].select(
                F.col("vec_id").alias("neighbor_id"),
                to_double_array("embedding").alias("cvec"),
            )
        ).withColumn("cnorm", norm(F.col("cvec")))
        cents = _kmeans_cents37(spark, sf_dir)
        return ivf_assign(c, cents).select(
            F.col("neighbor_id").alias("vec_id"), "centroid_id"
        )

    return session_materialized(
        spark, f"ivf_assign:{sf_dir}:mod=37:iters=2", build
    )


def _ivf_trained_topk5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized trained-IVF top-5 result — the detector
    output shared by sim_ivf_trained (the headline search) and
    sim_ivf_recall (its audit).  Auditing the materialized detector
    output instead of re-running the detector is exactly how a 100 TB
    pipeline reports nprobe recall; operators/materialize.py covers
    the mechanics."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["embeddings"])
        emb = t["embeddings"]
        queries = emb.where(F.col("vec_id") < 10)
        cents = _kmeans_cents37(spark, sf_dir)
        return ivf_topk(
            emb, queries, "embedding", "vec_id", k=5, nprobe=2,
            centroids=cents, assignment=_ivf_assign37(spark, sf_dir),
        )

    return session_materialized(
        spark, f"ivf_trained_topk:{sf_dir}:k=5:nprobe=2:mod=37:iters=2", build
    )


def sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over k-means-TRAINED centroids (operators.similarity.
    kmeans_centroids): mod-37 seeds refined by 2 Lloyd iterations, then
    the same nprobe cell search as sim_ivf_topk.  Decimal-summed means
    make the training bit-reproducible in ANSI SQL, so even the
    iterative path carries an exact DuckDB oracle (unrolled in
    _ivf_trained_sql)."""
    return _ivf_trained_topk5(spark, sf_dir).orderBy("query_id", "rank")


def _lloyd_cte(iters: int = 2, seed_mod: int = 37, dim: int = 64) -> tuple[str, str]:
    """Unrolled k-means TRAINING as a DuckDB CTE prefix, shared by every
    oracle that consumes the trained centroids (sim_ivf_trained,
    dedup_semantic).  Arithmetic in lockstep with kmeans_centroids:
    rounded-cosine argmax with cluster-id tiebreak, DECIMAL(27,12) sums
    (exact => order-independent), 6dp means.  Returns (sql_prefix,
    final_cents_cte_name); the prefix also defines ``c`` (nid, cvec)."""
    parts = [f"""WITH c AS (
  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings
), cents0 AS (
  SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS cent
  FROM embeddings WHERE vec_id % {seed_mod} = 0
)"""]
    prev = "cents0"
    for i in range(1, iters + 1):
        parts.append(f""", a{i} AS (
  SELECT nid, cluster FROM (
    SELECT c.nid, {prev}.cluster,
      row_number() OVER (PARTITION BY c.nid
        ORDER BY round(list_cosine_similarity(c.cvec, {prev}.cent), 6) DESC, {prev}.cluster) AS rn
    FROM c, {prev}) WHERE rn = 1
), m{i} AS (
  SELECT cluster, i AS pos,
    round(CAST(SUM(CAST(cvec[i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(cvec[i]), 6) AS m
  FROM a{i} JOIN c USING (nid), generate_series(1, {dim}) AS g(i)
  GROUP BY cluster, i
), cents{i} AS (
  SELECT cluster, list(m ORDER BY pos) AS cent FROM m{i} GROUP BY cluster
)""")
        prev = f"cents{i}"
    return "".join(parts), prev


def _ivf_trained_sql(iters: int = 2, seed_mod: int = 37, dim: int = 64,
                     nprobe: int = 2, k: int = 5) -> str:
    prefix, prev = _lloyd_cte(iters, seed_mod, dim)
    parts = [prefix]
    parts.append(f""", cassign AS (
  SELECT neighbor_id, cvec, centroid_id FROM (
    SELECT c.nid AS neighbor_id, c.cvec, kc.cluster AS centroid_id,
      row_number() OVER (PARTITION BY c.nid
        ORDER BY round(list_cosine_similarity(c.cvec, kc.cent), 6) DESC, kc.cluster) AS rn
    FROM c, {prev} AS kc
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < 10
), qprobe AS (
  SELECT query_id, qvec, centroid_id FROM (
    SELECT q.query_id, q.qvec, kc.cluster AS centroid_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round(list_cosine_similarity(q.qvec, kc.cent), 6) DESC, kc.cluster) AS rn
    FROM q, {prev} AS kc
  ) WHERE rn <= {nprobe}
), scored AS (
  SELECT query_id, neighbor_id, round(list_cosine_similarity(qvec, cvec), 6) AS cos
  FROM cassign JOIN qprobe USING (centroid_id)
  WHERE query_id <> neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank""")
    return "".join(parts)


_SEMANTIC_TAU = 0.35


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup census (Abbas et al. 2023): k-means
    cells over the embedding corpus (the SAME session-materialized
    trained centroids sim_ivf_trained searches — training runs once,
    both consumers read the C-row table), within-cell cosine >= tau
    pairs, greedy min-id survivor.  One row per non-empty cell:
    (cluster_id, n_vecs, n_pairs, n_dropped, n_kept).

    This is the embedding-space member of the dedup family — it
    catches SEMANTIC duplicates (paraphrases, re-encodings) that the
    lexical detectors (minhash/simhash/jaccard) structurally miss.
    Scale: assignment broadcasts C centroids, vectors shuffle once
    hashed on cluster_id, the quadratic stage is bounded per cell at
    (n/C)²; tau = 0.35 is calibrated to the isotropic synthetic
    corpus (max pair cosine ~0.5-0.6).  Exactness: rounded-cosine
    argmax assignment + 6dp pair cosines — the DuckDB oracle replays
    the unrolled Lloyd training (shared _lloyd_cte) and the same
    census arithmetic."""
    from kp_crypto_market_analytics_spark.operators.dedup import (
        semantic_dedup_census,
    )

    t = load_tables(spark, sf_dir, ["embeddings"])
    cents = _kmeans_cents37(spark, sf_dir)
    return semantic_dedup_census(
        t["embeddings"], cents, "embedding", "vec_id", tau=_SEMANTIC_TAU,
        assign=_ivf_assign37(spark, sf_dir),
    )


def _semantic_dedup_sql(iters: int = 2, seed_mod: int = 37, dim: int = 64) -> str:
    prefix, prev = _lloyd_cte(iters, seed_mod, dim)
    return f"""{prefix}, cassign AS (
  SELECT nid, cvec, centroid_id FROM (
    SELECT c.nid, c.cvec, kc.cluster AS centroid_id,
      row_number() OVER (PARTITION BY c.nid
        ORDER BY round(list_cosine_similarity(c.cvec, kc.cent), 6) DESC, kc.cluster) AS rn
    FROM c, {prev} AS kc
  ) WHERE rn = 1
), pairs AS (
  SELECT x.centroid_id AS cluster_id, x.nid AS id_a, y.nid AS id_b
  FROM cassign x JOIN cassign y
    ON x.centroid_id = y.centroid_id AND x.nid < y.nid
  WHERE round(list_cosine_similarity(x.cvec, y.cvec), 6) >= {_SEMANTIC_TAU}
), sizes AS (
  SELECT centroid_id AS cluster_id, count(*) AS n_vecs FROM cassign GROUP BY 1
), ps AS (
  SELECT cluster_id, count(*) AS n_pairs, count(DISTINCT id_b) AS n_dropped
  FROM pairs GROUP BY 1
)
SELECT s.cluster_id, s.n_vecs,
  coalesce(ps.n_pairs, 0) AS n_pairs,
  coalesce(ps.n_dropped, 0) AS n_dropped,
  s.n_vecs - coalesce(ps.n_dropped, 0) AS n_kept
FROM sizes s LEFT JOIN ps USING (cluster_id)
ORDER BY cluster_id"""


def e_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8 quantization audit — the storage-scale op for
    embedding pipelines (4× smaller vectors, ANN-tolerable error): per
    vector, symmetric scale = max|v|/127, quantized = round(v/scale),
    and the quality stats a pipeline gates on (max abs dequantization
    error, cosine of original vs dequantized).

    Parity: scale uses a MAX fold (order-independent, bit-portable);
    round-to-integer ties are measure-zero on float32-derived values;
    cosines rounded to 6dp.  All element work is HOF transforms —
    single narrow scan, no shuffle until the final ORDER BY."""
    from kp_crypto_market_analytics_spark.functions.vectors import (
        abs_max,
        cosine,
        dequantize,
        quantize_symmetric,
        to_double_array,
    )

    t = load_tables(spark, sf_dir, ["embeddings"])
    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    e = e.withColumn("scale", abs_max(F.col("v")) / F.lit(127.0)).where(
        F.col("scale") > 0
    )
    e = e.withColumn("dq", dequantize(quantize_symmetric(F.col("v"), F.col("scale")), F.col("scale")))
    max_err = F.aggregate(
        F.zip_with("v", "dq", lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return e.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(max_err, 6).alias("max_err"),
        F.round(cosine(F.col("v"), F.col("dq")), 6).alias("cos_orig_deq"),
    ).orderBy("vec_id")


E_QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, v, scale,
    list_transform(list_transform(v, x -> round(x / scale)), x -> x * scale) AS dq
  FROM s WHERE scale > 0
), err AS (
  SELECT vec_id, MAX(abs(v[i] - dq[i])) AS max_err
  FROM q, generate_series(1, 64) AS g(i)
  GROUP BY vec_id
)
SELECT q.vec_id, round(scale, 6) AS scale, round(max_err, 6) AS max_err,
  round(list_cosine_similarity(v, dq), 6) AS cos_orig_deq
FROM q JOIN err ON q.vec_id = err.vec_id
ORDER BY q.vec_id
"""


def sim_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-prefiltered embedding near-dup pairs — the scale path for
    sim_neardup_pairs: only intra-bucket pairs are scored, so candidate
    volume is ~|corpus|²/2^planes instead of all pairs.  The oracle
    reproduces the identical hyperplane signs bit-for-bit (same
    left-associated projection sums)."""
    from kp_crypto_market_analytics_spark.operators.similarity import neardup_pairs_lsh

    t = load_tables(spark, sf_dir, ["embeddings"])
    return neardup_pairs_lsh(
        t["embeddings"], "embedding", "vec_id", threshold=0.45, planes=LSH_PLANES, dim=LSH_DIM
    ).orderBy("id_a", "id_b")


def _neardup_lsh_sql() -> str:
    def bucket_expr(v: str) -> str:
        cases = []
        for j in range(LSH_PLANES):
            terms = " + ".join(
                f"{v}[{d + 1}] * {_plane_coeff(j, d)!r}" for d in range(LSH_DIM)
            )
            cases.append(f"(CASE WHEN 0.0 + {terms} >= 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(cases)

    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), b AS (
  SELECT vec_id, vec, {bucket_expr('vec')} AS bucket FROM v
), pairs AS (
  SELECT a.vec_id AS id_a, x.vec_id AS id_b,
    round(list_cosine_similarity(a.vec, x.vec), 6) AS cos
  FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
)
SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.45
ORDER BY id_a, id_b
"""


def stream_candles_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-timeframe candles (reference tf '5m',
    prices_collector/db schema tf column): 5-minute OHLCV built
    directly from events with an epoch-floor bucket — the same plan
    shape as stream_candles_1m at any timeframe."""
    from kp_crypto_market_analytics_spark.operators.aggregates import exact_sum

    t = load_tables(spark, sf_dir, ["events"])
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / F.lit(300)) * F.lit(300)
    )
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        t["events"]
        .groupBy(F.col("event_type").alias("symbol"), bucket.alias("bucket_5m"))
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            exact_sum("value").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .orderBy("symbol", "bucket_5m")
    )


STREAM_CANDLES_5M_SQL = """
WITH bucketed AS (
  SELECT event_type, value, ts, event_id,
    CAST(to_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)) AS TIMESTAMP) AS bucket_5m,
    row_number() OVER (PARTITION BY event_type, floor(epoch(ts) / 300) ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY event_type, floor(epoch(ts) / 300) ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type AS symbol, bucket_5m,
  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume,
  COUNT(*) AS n_trades
FROM bucketed GROUP BY 1, 2 ORDER BY symbol, bucket_5m
"""


# ---------------------------------------------------------- multimodal


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, metadata tier: opaque binary payloads
    (UTF-8 bytes of text stand in for image/audio blobs) with typed
    metadata — byte length, head-bytes hex, payload digest.  All
    JVM-side expressions; payloads never shuffle."""
    t = load_tables(spark, sf_dir, ["documents"])
    payload = F.encode(F.col("text"), "UTF-8")
    hexp = F.hex(payload)
    return (
        t["documents"]
        .select(
            "doc_id",
            F.octet_length(payload).alias("n_bytes"),
            F.substring(hexp, 1, 16).alias("head16"),
            F.md5(hexp).alias("payload_md5"),
        )
        .orderBy("doc_id")
    )


MM_BINARY_SQL = """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  substr(hex(encode(text)), 1, 16) AS head16,
  md5(hex(encode(text))) AS payload_md5
FROM documents ORDER BY doc_id
"""


def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode stage end-to-end: binary payloads routed
    through the Arrow-batched mapInPandas decoder (deterministic fake
    codec — operators/multimodal.py) and aggregated on decoded
    metadata.  The oracle replays the decoder's polynomial byte hash in
    SQL, gating the Python batch path itself."""
    t = load_tables(spark, sf_dir, ["documents"])
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    # Fan the Python stage to 8 tasks (r11, guide §4.2): the
    # single-file scan ran the whole mapInPandas decode as ONE task on
    # one worker.  8 matches mm_scene_cut/mm_audio_windows, so the
    # worker pool spawned here (this query runs earliest in registry
    # order) is reused by the rest of the mm family — the late-session
    # spawn storm the in-sweep profile showed is paid once, early.
    media = ensure_parallelism(t["documents"], min_partitions=8).select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.repeat(F.md5("text"), 5), "UTF-8").alias("payload"),
    )
    decoded = decode_media(media, fake=True)
    return media_metadata_stats(decoded)


def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for the image modality:
    fingerprint every media payload to 60 bits, then find all pairs
    within Hamming radius 3 via the banded pigeonhole join
    (operators.dedup.hamming_band_pairs — the same machinery that
    backs SimHash text dedup, now over media fingerprints).

    Honest stub, clearly marked: a real pipeline computes pHash from
    the decoded image's DCT (no imaging libs in this container), so
    the fingerprint here is the portable 60-bit hash of the payload
    bytes — byte-identical media collide at Hamming 0, which is what
    the synthetic corpus contains.  The Spark-side artifact being
    gated is the REAL one: fingerprint schema, banding, bucket join,
    and exact verify are production code; only the DCT is faked.

    Scale: payloads never shuffle (only (id, 60-bit) signatures);
    candidate volume is governed by band-bucket collisions, identical
    to MinHash-LSH banding."""
    from kp_crypto_market_analytics_spark.functions.text import hash64
    from kp_crypto_market_analytics_spark.operators.dedup import (
        hamming_band_pairs,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    base = ensure_parallelism(t["documents"]).select(
        F.col("doc_id").alias("media_id"),
        hash64(F.concat(F.repeat(F.md5("text"), 5), F.lit("#phash"))).alias("phash"),
    )
    # Deterministic "re-upload" slice: every 25th asset also arrives
    # under a fresh media_id with a byte-identical payload — the
    # canonical duplicate-media situation, and it keeps the gate
    # non-vacuous at every sf (sf0.01's corpus has no native dups).
    reups = base.where(F.col("media_id") % 25 == 0).select(
        (F.col("media_id") + 1000000).alias("media_id"), "phash"
    )
    sig = base.unionByName(reups)
    return hamming_band_pairs(sig, "media_id", "phash", max_hamming=3).orderBy(
        "doc_a", "doc_b"
    )


MM_PHASH_SQL = f"""
WITH base AS (
  SELECT doc_id, {H60.format(x="repeat(md5(text), 5) || '#phash'")} AS ph
  FROM documents
), sigs AS (
  SELECT doc_id, ph FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, ph FROM base WHERE doc_id % 25 = 0
), bands AS (
  SELECT doc_id, ph, i AS chunk, (ph >> (i * 15)) & 32767 AS val
  FROM sigs, generate_series(0, 3) AS g(i)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.ph AS pa, b.ph AS pb
  FROM bands a JOIN bands b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(pa, pb)) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= 3
ORDER BY doc_a, doc_b
"""


def _mm_decode_sql() -> str:
    # The fake decoder folds the first 64 payload bytes:
    # h = (h*131 + byte) % 2^31.  Payload = 5×md5-hex = 160 ASCII chars,
    # so char codes == bytes and no length guard is needed.  The fold is
    # split across 8 chained CTEs of 8 bytes each — a single 64-deep
    # expression exceeds DuckDB's 128-level binder recursion cap.
    stages = []
    prev = "p0"
    for s in range(8):
        h = "0" if s == 0 else "h"
        for i in range(s * 8 + 1, s * 8 + 9):
            h = f"(({h}) * 131 + ascii(substr(p, {i}, 1))) % 2147483648"
        stages.append(f"h{s} AS (SELECT doc_id, kind, p, {h} AS h FROM {prev})")
        prev = f"h{s}"
    chain = ",\n".join(stages)
    return f"""
WITH p0 AS (
  SELECT doc_id,
    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    repeat(md5(text), 5) AS p
  FROM documents
), {chain}, decoded AS (
  SELECT kind, CAST(16 + h % 1024 AS INTEGER) AS width, CAST(16 + (h // 7) % 1024 AS INTEGER) AS height
  FROM h7
)
SELECT kind, COUNT(*) AS n, AVG(width) AS avg_width, AVG(height) AS avg_height
FROM decoded GROUP BY kind ORDER BY kind
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling end-to-end: video payloads through the
    1→many mapInPandas stage (operators/multimodal.py sample_frames) —
    every 10th frame of each fake-decoded video becomes a row.  All
    output columns are integers derived from the deterministic payload
    hash, so the oracle replays the exact frame schedule in SQL and the
    Python re-batching path itself is what gets gated."""
    from kp_crypto_market_analytics_spark.operators.multimodal import sample_frames

    t = load_tables(spark, sf_dir, ["documents"])
    media = (
        t["documents"]
        .where(F.col("doc_id") % 3 == 2)  # the 'video' slice
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.repeat(F.md5("text"), 5), "UTF-8").alias("payload"),
        )
    )
    return (
        sample_frames(media, fake=True)
        .select("media_id", "frame_idx", "ts_ms")
        .orderBy("media_id", "frame_idx")
    )


def mm_resize_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal letterbox-resize stage (operators/multimodal.py
    resize_media): image payloads through mapInPandas, output = source
    dims, fitted dims, and scale for a 224×224 target.  The oracle
    replays the hash-derived dims and the IDENTICAL IEEE-double
    geometry (min of two divisions, floor of products), gating the
    Python stage bit-for-bit."""
    from kp_crypto_market_analytics_spark.operators.multimodal import resize_media

    t = load_tables(spark, sf_dir, ["documents"])
    media = (
        t["documents"]
        .where(F.col("doc_id") % 3 == 0)  # the 'image' slice
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.encode(F.repeat(F.md5("text"), 5), "UTF-8").alias("payload"),
        )
    )
    return (
        resize_media(media, fake=True)
        .select(
            "media_id", "src_w", "src_h", "out_w", "out_h",
            F.round("scale", 6).alias("scale"),
        )
        .orderBy("media_id")
    )


def _mm_resize_sql() -> str:
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
  FROM documents WHERE doc_id % 3 = 0
), {chain}, dims AS (
  SELECT media_id,
    CAST(16 + h % 1024 AS INTEGER) AS src_w,
    CAST(16 + (h // 7) % 1024 AS INTEGER) AS src_h
  FROM h7
), geo AS (
  SELECT media_id, src_w, src_h,
    least(224.0 / src_w, 224.0 / src_h) AS sc
  FROM dims
)
SELECT media_id, src_w, src_h,
  CAST(floor(src_w * sc) AS INTEGER) AS out_w,
  CAST(floor(src_h * sc) AS INTEGER) AS out_h,
  round(sc, 6) AS scale
FROM geo ORDER BY media_id
"""


def _mm_frames_sql() -> str:
    # Same 8×8 chained hash fold as _mm_decode_sql, videos only; the
    # frame schedule is idx in [0, 8 + h%56) step 10, ts = idx*40 ms.
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
  FROM documents WHERE doc_id % 3 = 2
), {chain}
SELECT media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * 40 AS BIGINT) AS ts_ms
FROM h7, generate_series(0, 63) AS g(i)
WHERE i < 8 + h % 56 AND i % 10 = 0
ORDER BY media_id, frame_idx
"""


# ------------------------------------------------------ text: corpus ops

TOKENS_CTE = f"""
toks AS (
  SELECT doc_id, unnest(string_split({NORM_TEXT_SQL}, ' ')) AS tok FROM documents
)"""


def t_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by document frequency with
    collection frequency — the scan→explode→two-level agg shape of
    vocab building.  Partial aggregation absorbs the explode before the
    shuffle, so shuffle traffic is |vocab|, not |tokens|."""
    from kp_crypto_market_analytics_spark.operators.windows import top_k
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    toks = _toks_df(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    agg = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("coll_freq"),
    )
    return top_k(agg, [F.col("doc_freq").desc(), F.col("tok").asc()], 100).select(
        "tok", "doc_freq", "coll_freq"
    )


T_VOCAB_SQL = f"""
WITH {TOKENS_CTE}
SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS coll_freq
FROM toks GROUP BY tok
ORDER BY doc_freq DESC, tok
LIMIT 100
"""


def t_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: alnum runs + isolated symbols, the
    pre-splitting a subword tokenizer applies.  regexp_extract_all with
    RE2-safe patterns (no lookaround) so the identical regex runs on
    both engines."""
    t = load_tables(spark, sf_dir, ["documents"])
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    words = F.size(F.regexp_extract_all(norm, F.lit("[a-z0-9]+"), 0))
    syms = F.size(F.regexp_extract_all(norm, F.lit(r"[^a-z0-9\s]"), 0))
    return (
        t["documents"]
        .select(
            "doc_id",
            words.alias("n_word_tokens"),
            syms.alias("n_symbol_tokens"),
            (words + syms).alias("n_bpe_ish"),
        )
        .orderBy("doc_id")
    )


T_BPE_SQL = f"""
WITH norm AS (SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents)
SELECT doc_id,
  len(regexp_extract_all(t, '[a-z0-9]+')) AS n_word_tokens,
  len(regexp_extract_all(t, '[^a-z0-9\\s]')) AS n_symbol_tokens,
  len(regexp_extract_all(t, '[a-z0-9]+')) + len(regexp_extract_all(t, '[^a-z0-9\\s]')) AS n_bpe_ish
FROM norm ORDER BY doc_id
"""


def t_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: tf(doc,tok) × ln(N/df(tok)), top-5 terms per document
    for doc_id < 20.  The df table is a broadcast dimension — the big
    token table never shuffles twice."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    ta = _toks_df(spark, sf_dir)
    toks = ta.select("doc_id", F.explode("toks").alias("tok"))
    n_docs = ta.select(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("doc_freq"))
    tf = (
        toks.where(F.col("doc_id") < 20)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("doc_freq")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", "tok", "tf", "doc_freq", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


_BM25_TERMS = ("spark", "query", "dup")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_per_doc(spark: SparkSession, sf_dir: str):
    """Shared base frames for the BM25 retrieval family (t_bm25_topk /
    t_rrf_fusion / t_ndcg_eval) — r11 optimization (guide §2.3:
    aggregate before you shuffle; §2.4: share one derived dataset).

    The original shape exploded the corpus into a token STREAM three
    times per query (doc-length groupBy + tf groupBy + doc_freq
    countDistinct — millions of shuffled token rows); every one of
    those aggregates is a per-document function of the token ARRAY the
    shared `_toks_df` silver table already stores, so each becomes a
    per-row array expression and nothing token-grained ever shuffles:

    - dl      = size(toks)                       (== COUNT(*) per doc)
    - tf_i    = size(filter(toks, = term_i))     (== per-term COUNT(*))
    - n_docs / avgdl / per-term doc_freq          — ONE scalar agg of
      the per-doc frame (doc_freq == COUNT of docs with tf_i > 0 ==
      the old COUNT(DISTINCT doc_id) over matching token rows).

    Returns (per_doc, stats): per_doc = (doc_id, dl, tf_0..tf_k) for
    ALL docs (callers must keep their any-term filter), stats = the
    broadcastable one-row (n_docs, avgdl, df_0..df_k)."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    toks = _toks_df(spark, sf_dir)

    def tf_of(term: str) -> Column:
        # one-arg lambda: a two-parameter lambda would be treated as
        # the (element, index) form by F.filter.
        return F.size(F.filter("toks", lambda x: x == F.lit(term)))

    per_doc = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            tf_of(term).cast("long").alias(f"tf_{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    return per_doc, stats


def _bm25_score_col(i: int) -> Column:
    """The exact BM25 per-term score expression the original computed:
    round(idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)), 6) with the
    Lucene idf variant — all inputs are the same integer/double values
    as the exploded form, so the IEEE result is bit-identical."""
    idf = F.log(
        (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
        / (F.col(f"df_{i}") + F.lit(0.5))
        + F.lit(1.0)
    )
    raw = (
        idf
        * (F.col(f"tf_{i}") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col(f"tf_{i}")
            + F.lit(_BM25_K1)
            * (
                F.lit(1.0 - _BM25_B)
                + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
            )
        )
    )
    return F.when(F.col(f"tf_{i}") > 0, F.round(raw, 6)).otherwise(F.lit(0.0))


def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval ranking (Robertson-Sparck Jones; the Lucene
    idf variant ln((N-df+0.5)/(df+0.5)+1), k1=1.2, b=0.75) for a fixed
    3-term query — the production search scorer one step past
    t_tfidf_topk's raw TF-IDF: term saturation via k1 and length
    normalization via b/avgdl.  Top-20 documents with per-term partial
    scores; the total is a FIXED-ORDER sum of the three rounded
    per-term columns (conditional aggregation, never a float groupBy
    sum), so engines cannot disagree on addition order.

    Scale: doc lengths and term stats are two partial-agg scans; the
    scoring join touches only rows containing a query term (membership
    filter pushes into the scan), and the global top-20 sorts a
    |matching docs|-sized frame of scalars.  r11: all token-grained
    aggregates collapsed into per-row array expressions on the shared
    token silver table (see _bm25_per_doc) — no corpus explode."""
    per_doc, stats = _bm25_per_doc(spark, sf_dir)
    # Only docs containing >= 1 query term competed in the original
    # ranking (they were the rows of the tf frame).
    any_term = None
    for i in range(len(_BM25_TERMS)):
        c = F.col(f"tf_{i}") > 0
        any_term = c if any_term is None else (any_term | c)
    per_term = (
        per_doc.where(any_term)
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            *[
                _bm25_score_col(i).alias(f"s_{term}")
                for i, term in enumerate(_BM25_TERMS)
            ],
        )
    )
    total = F.round(
        sum(F.col(f"s_{term}") for term in _BM25_TERMS) + F.lit(0.0), 6
    )
    # Distributed top-k: TakeOrdered(20) on (bm25, doc_id) — every
    # shard contributes its local top-20 and only 20 rows reach the
    # driver-side merge — THEN rank the 20 survivors (a 20-row window,
    # not a corpus-sized single-partition sort; rank<=20 of a total
    # order == top-20-then-rank, so semantics are unchanged).
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    top20 = (
        per_term.withColumn("bm25", total)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    return (
        top20.withColumn("rank", F.row_number().over(w))
        .select(
            "doc_id", "dl",
            *[f"s_{term}" for term in _BM25_TERMS],
            "bm25", "rank",
        )
        .orderBy("rank")
    )


def _t_bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    score = (
        f"round(ln((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)"
        f" * (tf * {k1 + 1.0!r}) / (tf + {k1!r} *"
        f" ({1.0 - b!r} + {b!r} * dl / avgdl)), 6)"
    )
    per_term = ", ".join(
        f"coalesce(MAX(CASE WHEN tok = '{t}' THEN s END), 0.0) AS s_{t}"
        for t in _BM25_TERMS
    )
    total = " + ".join(f"s_{t}" for t in _BM25_TERMS)
    return f"""
WITH {TOKENS_CTE}, dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs,
    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq FROM toks
  WHERE tok IN ({terms}) GROUP BY tok
), scored AS (
  SELECT tf.doc_id, tf.tok, {score} AS s
  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id), stats
), per_term AS (
  SELECT s.doc_id, MIN(d.dl) AS dl, {per_term}
  FROM scored s JOIN dl d USING (doc_id) GROUP BY s.doc_id
), ranked AS (
  SELECT doc_id, dl, {", ".join("s_" + t for t in _BM25_TERMS)},
    round({total} + 0.0, 6) AS bm25,
    row_number() OVER (ORDER BY round({total} + 0.0, 6) DESC, doc_id) AS rank
  FROM per_term
)
SELECT * FROM ranked WHERE rank <= 20 ORDER BY rank
"""


T_TFIDF_SQL = f"""
WITH {TOKENS_CTE}, n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), dfreq AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY tok
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks WHERE doc_id < 20 GROUP BY doc_id, tok
), scored AS (
  SELECT doc_id, tok, tf, doc_freq,
    round(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS tfidf
  FROM tf JOIN dfreq USING (tok), n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
  FROM scored
)
SELECT doc_id, tok, tf, doc_freq, tfidf, rank FROM ranked
WHERE rank <= 5 ORDER BY doc_id, rank
"""


_RRF_K = 60


def t_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009, public)
    of two retrieval rankings for the same fixed 3-term query: the
    BM25 scorer (t_bm25_topk's formula) and a plain TF-IDF scorer —
    the standard hybrid-retrieval combiner (and the way production
    RAG stacks merge lexical and dense lists).  RRF(d) = Σ 1/(k+rank)
    over the lists containing d, k=60; both scorers cover exactly the
    docs matching ≥1 query term, so every fused doc carries both
    ranks.  Top-15 with both component ranks.

    Determinism: each component ranks by its ROUNDED score with
    doc_id tiebreak (the t_bm25_topk rule); the RRF sum is a
    fixed-order two-term sum of exact-integer reciprocals — engines
    cannot disagree on ranks, so they cannot disagree on the fusion.

    Scale shape: ONE token scan feeds both scorers (tf/df/dl partial
    aggs are shared); each ranking is a window over |matching docs|
    scalar rows; the fusion join is doc_id-keyed at ranking grain.
    At 100 TB the candidate set per query is top-k'd per shard before
    the global rank (standard fan-in), which this plan's scalar-only
    exchanges already allow.  r11: all token-grained aggregates
    collapsed into per-row array expressions on the shared token
    silver table (see _bm25_per_doc) — no corpus explode."""
    per_doc, stats = _bm25_per_doc(spark, sf_dir)
    any_term = None
    for i in range(len(_BM25_TERMS)):
        c = F.col(f"tf_{i}") > 0
        any_term = c if any_term is None else (any_term | c)

    def tfidf_col(i: int) -> Column:
        s = F.round(
            F.col(f"tf_{i}") * F.log(F.col("n_docs") / F.col(f"df_{i}")), 6
        )
        return F.when(F.col(f"tf_{i}") > 0, s).otherwise(F.lit(0.0))

    scored = per_doc.where(any_term).crossJoin(F.broadcast(stats))
    bm25_total = F.round(
        sum(_bm25_score_col(i) for i in range(len(_BM25_TERMS)))
        + F.lit(0.0),
        6,
    )
    tfidf_total = F.round(
        sum(tfidf_col(i) for i in range(len(_BM25_TERMS))) + F.lit(0.0), 6
    )
    totals = scored.select(
        "doc_id", bm25_total.alias("bm25"), tfidf_total.alias("tfidf")
    )
    # Component ranks cover EVERY matching doc (the fused top-15 can
    # cite arbitrarily deep component ranks), so they must be full
    # global ranks over a corpus-linear frame — computed distributed
    # via range-partitioned rank (per-range row_number + broadcast
    # |ranges|-row offsets), never a single-partition window.
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    ranked = range_partitioned_rank(
        totals,
        [F.col("bm25").desc(), F.col("doc_id").asc()],
        out_col="r_bm25",
    )
    ranked = range_partitioned_rank(
        ranked,
        [F.col("tfidf").desc(), F.col("doc_id").asc()],
        out_col="r_tfidf",
    ).select(
        "doc_id",
        F.col("r_bm25").cast("int").alias("r_bm25"),
        F.col("r_tfidf").cast("int").alias("r_tfidf"),
    )
    rrf = F.round(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_bm25"))
        + F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_tfidf")),
        6,
    )
    # Final rank: distributed TakeOrdered(15), then rank 15 survivors.
    wf = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        ranked.withColumn("rrf", rrf)
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(15)
        .withColumn("rank", F.row_number().over(wf))
        .select(
            "doc_id", "r_bm25", "r_tfidf", "rrf", "rank"
        )
        .orderBy("rank")
    )


def _t_rrf_fusion_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    sb = (
        f"round(ln((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)"
        f" * (tf * {k1 + 1.0!r}) / (tf + {k1!r} *"
        f" ({1.0 - b!r} + {b!r} * dl / avgdl)), 6)"
    )
    st = "round(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6)"
    per_doc = ", ".join(
        f"coalesce(MAX(CASE WHEN tok = '{t}' THEN {c} END), 0.0) AS {c}_{t}"
        for c in ("sb", "st")
        for t in _BM25_TERMS
    )
    bt = " + ".join(f"sb_{t}" for t in _BM25_TERMS)
    tt = " + ".join(f"st_{t}" for t in _BM25_TERMS)
    return f"""
WITH {TOKENS_CTE}, dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs,
    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq FROM toks
  WHERE tok IN ({terms}) GROUP BY tok
), scored AS (
  SELECT tf.doc_id, tf.tok, {sb} AS sb, {st} AS st
  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id), stats
), per_doc AS (
  SELECT doc_id, {per_doc} FROM scored GROUP BY doc_id
), totals AS (
  SELECT doc_id, round({bt} + 0.0, 6) AS bm25, round({tt} + 0.0, 6) AS tfidf
  FROM per_doc
), ranked AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25,
    row_number() OVER (ORDER BY tfidf DESC, doc_id) AS r_tfidf
  FROM totals
), fused AS (
  SELECT doc_id, r_bm25, r_tfidf,
    round(1.0 / ({_RRF_K} + r_bm25) + 1.0 / ({_RRF_K} + r_tfidf), 6) AS rrf
  FROM ranked
)
SELECT doc_id, CAST(r_bm25 AS BIGINT) AS r_bm25,
  CAST(r_tfidf AS BIGINT) AS r_tfidf, rrf,
  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
FROM fused QUALIFY rank <= 15 ORDER BY rank
"""


def t_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the BM25 ranking: nDCG@10, MRR
    and precision@10 against a graded term-coverage relevance signal —
    rel(d) = how many of the 3 query terms d contains (1..3), relevant
    = rel ≥ 2.  The offline eval loop every retrieval stack runs;
    grades derived from the corpus itself so the gate is
    self-contained.

    Determinism: DCG/IDCG positions fold as exact BIGINT micro-units
    (per-position (2^rel−1)/log₂(i+1) rounds to integer µ first, THEN
    sums — float sums over rank positions would be order-dependent);
    gains use integer shifts, never pow(); MRR and P@10 are single
    divisions of exact integers.

    Scale shape: reuses the BM25 scoring joins (scalar-only
    exchanges); the metric tail runs on ≤|candidates| rows, the
    DCG/IDCG folds on exactly 10.  r11: all token-grained aggregates
    collapsed into per-row array expressions on the shared token
    silver table (see _bm25_per_doc) — no corpus explode."""
    base, stats = _bm25_per_doc(spark, sf_dir)
    any_term = None
    for i in range(len(_BM25_TERMS)):
        c = F.col(f"tf_{i}") > 0
        any_term = c if any_term is None else (any_term | c)
    # rel == COUNT(DISTINCT matched term) == how many tf_i are > 0.
    rel = sum(
        (F.col(f"tf_{i}") > 0).cast("long")
        for i in range(len(_BM25_TERMS))
    )
    per_doc = (
        base.where(any_term)
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            rel.alias("rel"),
            *[
                _bm25_score_col(i).alias(f"s_{term}")
                for i, term in enumerate(_BM25_TERMS)
            ],
        )
    )
    total = F.round(
        sum(F.col(f"s_{term}") for term in _BM25_TERMS) + F.lit(0.0), 6
    )
    # Both ranks span the full |candidates| frame (first_rel can sit at
    # any depth), so they are range-partitioned global ranks — local
    # row_number per range + broadcast offsets — never a corpus-linear
    # single-partition window.
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    scored_docs = per_doc.withColumn("bm25", total)
    ranked = range_partitioned_rank(
        scored_docs,
        [F.col("bm25").desc(), F.col("doc_id").asc()],
        out_col="rnk",
    )
    ranked = range_partitioned_rank(
        ranked,
        [F.col("rel").desc(), F.col("doc_id").asc()],
        out_col="ideal_rnk",
    ).select("doc_id", "rel", "rnk", "ideal_rnk")
    gain = F.expr("shiftleft(1, rel) - 1")
    dcg_term = F.round(
        gain.cast("double") * F.lit(1_000_000.0) / F.log2(F.col("rnk") + F.lit(1)), 0
    ).cast("long")
    idcg_term = F.round(
        gain.cast("double") * F.lit(1_000_000.0)
        / F.log2(F.col("ideal_rnk") + F.lit(1)),
        0,
    ).cast("long")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("rnk") <= 10, dcg_term).otherwise(F.lit(0))).alias("dcg_u"),
        F.sum(
            F.when(F.col("ideal_rnk") <= 10, idcg_term).otherwise(F.lit(0))
        ).alias("idcg_u"),
        F.min(F.when(F.col("rel") >= 2, F.col("rnk"))).alias("first_rel"),
        F.sum(
            F.when((F.col("rnk") <= 10) & (F.col("rel") >= 2), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("rel_in_10"),
    )
    return agg.select(
        "n_candidates",
        (F.col("dcg_u") / F.lit(1_000_000.0)).alias("dcg10"),
        (F.col("idcg_u") / F.lit(1_000_000.0)).alias("idcg10"),
        F.round(F.col("dcg_u").cast("double") / F.col("idcg_u"), 6).alias("ndcg10"),
        F.round(F.lit(1.0) / F.col("first_rel"), 6).alias("mrr"),
        (F.col("rel_in_10").cast("double") / F.lit(10.0)).alias("p_at_10"),
    )


def _t_ndcg_eval_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    score = (
        f"round(ln((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)"
        f" * (tf * {k1 + 1.0!r}) / (tf + {k1!r} *"
        f" ({1.0 - b!r} + {b!r} * dl / avgdl)), 6)"
    )
    per_term = ", ".join(
        f"coalesce(MAX(CASE WHEN tok = '{t}' THEN s END), 0.0) AS s_{t}"
        for t in _BM25_TERMS
    )
    total = " + ".join(f"s_{t}" for t in _BM25_TERMS)
    return f"""
WITH {TOKENS_CTE}, dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs,
    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq FROM toks
  WHERE tok IN ({terms}) GROUP BY tok
), scored AS (
  SELECT tf.doc_id, tf.tok, {score} AS s
  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id), stats
), per_doc AS (
  SELECT doc_id, COUNT(DISTINCT tok) AS rel, {per_term}
  FROM scored GROUP BY doc_id
), ranked AS (
  SELECT doc_id, rel,
    row_number() OVER (ORDER BY round({total} + 0.0, 6) DESC, doc_id) AS rnk,
    row_number() OVER (ORDER BY rel DESC, doc_id) AS ideal_rnk
  FROM per_doc
), folded AS (
  SELECT COUNT(*) AS n_candidates,
    SUM(CASE WHEN rnk <= 10 THEN CAST(round(
      ((1 << rel) - 1) * 1000000.0 / log2(rnk + 1), 0) AS BIGINT)
      ELSE 0 END) AS dcg_u,
    SUM(CASE WHEN ideal_rnk <= 10 THEN CAST(round(
      ((1 << rel) - 1) * 1000000.0 / log2(ideal_rnk + 1), 0) AS BIGINT)
      ELSE 0 END) AS idcg_u,
    MIN(CASE WHEN rel >= 2 THEN rnk END) AS first_rel,
    SUM(CASE WHEN rnk <= 10 AND rel >= 2 THEN 1 ELSE 0 END) AS rel_in_10
  FROM ranked
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
  dcg_u / 1000000.0 AS dcg10,
  idcg_u / 1000000.0 AS idcg10,
  round(CAST(dcg_u AS DOUBLE) / idcg_u, 6) AS ndcg10,
  round(1.0 / first_rel, 6) AS mrr,
  CAST(rel_in_10 AS DOUBLE) / 10.0 AS p_at_10
FROM folded
"""


def w3_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 at the reference's full horizon set k ∈ {5,15,60}
    (binance_analysis.py:404-415): three leads over ONE window spec —
    a single sort pass serves all horizons."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cols = ["event_id", "event_type", "value"]
    events = t["events"].withColumns(
        {f"__lead{k}": F.lead("value", k).over(w) for k in (5, 15, 60)}
    )
    leads = [F.col(f"__lead{k}") for k in (5, 15, 60)]
    out = events.select(*cols, *[
        F.when(
            (F.col("value") > 0) & (led > 0),
            F.round(F.log(led / F.col("value")), 6),
        ).alias(f"fwd_ret_{k}")
        for k, led in zip((5, 15, 60), leads)
    ])
    return out.orderBy("event_id")


W3_MULTI_SQL = """
SELECT event_id, event_type, value,
  CASE WHEN value > 0 AND lead(value, 5) OVER w > 0
       THEN round(ln(lead(value, 5) OVER w / value), 6) END AS fwd_ret_5,
  CASE WHEN value > 0 AND lead(value, 15) OVER w > 0
       THEN round(ln(lead(value, 15) OVER w / value), 6) END AS fwd_ret_15,
  CASE WHEN value > 0 AND lead(value, 60) OVER w > 0
       THEN round(ln(lead(value, 60) OVER w / value), 6) END AS fwd_ret_60
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
ORDER BY event_id
"""


# ------------------------------------ E3 feature pipeline (F13/F14/O3)


def e3_anomaly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship analytic end-to-end (binance_analysis
    add_features, :209-245 → top anomalies :701): per-key log-returns
    (W1), 60-row rolling volatility ×√60 with min_periods=30 (W2),
    GLOBAL MAD robust z-scores (F13 — global scope, the SURVEY §7
    mis-scope trap), anomaly = max(|z_absret|, |z_logvalue|) (F14),
    top-200 (O3).

    One sort serves both windows; the global stats are a 1-row
    broadcast.  Determinism: log outputs rounded to 6dp before the
    decimal-moment rolling window; exact percentiles; null z-scores
    enter the final max as -1 on both engines."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    e = e.withColumn("__prev", F.lag("value").over(w))
    prev = F.col("__prev")
    log_ret = F.when(
        (F.col("value") > 0) & (prev > 0), F.round(F.log(F.col("value")) - F.log(prev), 6)
    )
    log_value = F.when(F.col("value") >= 0, F.round(F.log1p("value"), 6))
    feat = e.select(
        "event_id", "event_type", "ts", "value",
        log_ret.alias("log_ret"), log_value.alias("log_value"),
    ).withColumn("abs_ret", F.abs("log_ret"))
    # The stats passes (median, MAD) and final scoring each re-execute
    # this frame.  Deliberately NOT persisted: materializing the cache
    # costs more than re-running the narrow pipeline + one window
    # shuffle (measured 3.1s vs 2.3s at sf0.1), and at 100 TB a
    # pushdown-pruned parquet re-scan beats caching the fact table too.
    # Persist only when the fan-out count grows past ~5 consumers
    # (SURVEY §4: the reference holds the frame in RAM implicitly).

    v = (
        Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(-59, 0)
    )
    dec = F.col("log_ret").cast("decimal(18,6)")
    feat = feat.withColumns(
        {
            "__n": F.count("log_ret").over(v),
            "__sx": F.sum(dec).over(v).cast("double"),
            "__sx2": F.sum(dec * dec).over(v).cast("double"),
        }
    )
    n, sx, sx2 = F.col("__n"), F.col("__sx"), F.col("__sx2")
    vol = F.when(
        n >= 30,
        F.round(
            F.sqrt(F.greatest((sx2 - sx * sx / n) / (n - F.lit(1)), F.lit(0.0)))
            * F.sqrt(F.lit(60.0)),
            6,
        ),
    )
    feat = feat.withColumn("vol_60", vol).drop("__n", "__sx", "__sx2")

    # Exact medians for oracle parity; approx_percentile sketches under
    # APPROX_QUANTILES_CONF (bench's 100 TB path — no single agg state
    # ever buffers the column).
    from kp_crypto_market_analytics_spark.operators.aggregates import percentile_expr

    med = feat.agg(
        percentile_expr(feat, "abs_ret", 0.5).alias("med_abs"),
        percentile_expr(feat, "log_value", 0.5).alias("med_lv"),
    )
    feat = feat.crossJoin(F.broadcast(med))
    mad = feat.agg(
        percentile_expr(feat, "abs(abs_ret - med_abs)", 0.5).alias("mad_abs"),
        percentile_expr(feat, "abs(log_value - med_lv)", 0.5).alias("mad_lv"),
    )
    feat = feat.crossJoin(F.broadcast(mad))

    def rz(x: str, m: str, d: str) -> Column:
        raw = F.when(
            F.col(d) > 0, F.lit(0.6745) * (F.col(x) - F.col(m)) / F.col(d)
        ).otherwise(F.col(x) - F.col(m))
        return F.round(raw, 6)

    scored = feat.withColumn("z_abs_ret", rz("abs_ret", "med_abs", "mad_abs")).withColumn(
        "z_log_value", rz("log_value", "med_lv", "mad_lv")
    )
    anomaly = F.greatest(
        F.coalesce(F.abs("z_abs_ret"), F.lit(-1.0)),
        F.coalesce(F.abs("z_log_value"), F.lit(-1.0)),
    )
    scored = scored.withColumn("anomaly_score", anomaly)
    return (
        scored.orderBy(F.col("anomaly_score").desc(), F.col("event_id").asc())
        .limit(200)
        .select(
            "event_id", "event_type", "value", "log_ret", "vol_60",
            "z_abs_ret", "z_log_value", "anomaly_score",
        )
    )


E3_ANOMALY_SQL = """
WITH feat AS (
  SELECT event_id, event_type, ts, value,
    CASE WHEN value > 0 AND lag(value) OVER w > 0
         THEN round(ln(value) - ln(lag(value) OVER w), 6) END AS log_ret,
    CASE WHEN value >= 0 THEN round(ln(1 + value), 6) END AS log_value
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), feat2 AS (
  SELECT *, abs(log_ret) AS abs_ret FROM feat
), volw AS (
  SELECT *,
    COUNT(log_ret) OVER v AS n_lr,
    CAST(SUM(CAST(log_ret AS DECIMAL(18,6))) OVER v AS DOUBLE) AS sx,
    CAST(SUM(CAST(log_ret AS DECIMAL(18,6)) * CAST(log_ret AS DECIMAL(18,6))) OVER v AS DOUBLE) AS sx2
  FROM feat2
  WINDOW v AS (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
), vol AS (
  SELECT *, CASE WHEN n_lr >= 30
    THEN round(sqrt(greatest((sx2 - sx*sx/n_lr) / (n_lr-1), 0)) * sqrt(60.0), 6) END AS vol_60
  FROM volw
), med AS (
  SELECT quantile_cont(abs_ret, 0.5) AS med_abs, quantile_cont(log_value, 0.5) AS med_lv FROM vol
), mad AS (
  SELECT quantile_cont(abs(abs_ret - med_abs), 0.5) AS mad_abs,
         quantile_cont(abs(log_value - med_lv), 0.5) AS mad_lv
  FROM vol, med
), scored AS (
  SELECT event_id, event_type, value, log_ret, vol_60,
    round(CASE WHEN mad_abs > 0 THEN 0.6745 * (abs_ret - med_abs) / mad_abs
               ELSE abs_ret - med_abs END, 6) AS z_abs_ret,
    round(CASE WHEN mad_lv > 0 THEN 0.6745 * (log_value - med_lv) / mad_lv
               ELSE log_value - med_lv END, 6) AS z_log_value
  FROM vol, med, mad
)
SELECT event_id, event_type, value, log_ret, vol_60, z_abs_ret, z_log_value,
  greatest(coalesce(abs(z_abs_ret), -1.0), coalesce(abs(z_log_value), -1.0)) AS anomaly_score
FROM scored
ORDER BY anomaly_score DESC, event_id
LIMIT 200
"""


def e4_large_trade_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's large-trades analysis end-to-end
    (binance_analysis.py:338-441): p99.5 notional threshold (P7/A8) →
    minute-bucket context join (J1) → forward log-return 5 rows ahead
    over the full per-type series (W3/F7) → top-50 by value (O2).

    The forward return is computed over ALL events BEFORE filtering to
    large ones (the reference indexes into the full candle series), so
    the window runs on the unfiltered frame and the threshold filter
    comes after — order matters for parity."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    with_ret = e.withColumn("__led", F.lead("value", 5).over(w))
    led = F.col("__led")
    with_ret = with_ret.withColumn(
        "fwd_ret_5",
        F.when((F.col("value") > 0) & (led > 0), F.round(F.log(led / F.col("value")), 6)),
    ).drop("__led")
    from kp_crypto_market_analytics_spark.operators.aggregates import percentile_expr

    thresh = e.agg(percentile_expr(e, "value", 0.995).alias("thr"))
    big = with_ret.crossJoin(F.broadcast(thresh)).where(F.col("value") >= F.col("thr"))
    minutes = e.groupBy(
        F.col("event_type").alias("m_type"),
        F.date_trunc("minute", "ts").alias("minute"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("value")).alias("minute_avg"),
        F.count(F.lit(1)).alias("minute_n"),
    )
    joined = big.join(
        F.broadcast(minutes),
        (F.col("event_type") == F.col("m_type"))
        & (F.date_trunc("minute", "ts") == F.col("minute")),
        "left",
    )
    out = joined.select(
        "event_id", "event_type", "value", "fwd_ret_5", "minute_avg", "minute_n",
        F.round(F.col("value") / F.col("minute_avg"), 6).alias("size_vs_minute"),
    )
    return (
        out.orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(50)
    )


E4_LARGE_SQL = """
WITH with_ret AS (
  SELECT event_id, event_type, ts, value,
    CASE WHEN value > 0 AND lead(value, 5) OVER w > 0
         THEN round(ln(lead(value, 5) OVER w / value), 6) END AS fwd_ret_5
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), minutes AS (
  SELECT event_type AS m_type, date_trunc('minute', ts) AS minute,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS minute_avg,
    COUNT(*) AS minute_n
  FROM events GROUP BY 1, 2
)
SELECT event_id, event_type, value, fwd_ret_5, minute_avg, minute_n,
  round(value / minute_avg, 6) AS size_vs_minute
FROM with_ret LEFT JOIN minutes
  ON event_type = m_type AND date_trunc('minute', ts) = minute
WHERE value >= (SELECT quantile_cont(value, 0.995) FROM events)
ORDER BY value DESC, event_id
LIMIT 50
"""


# ------------------------------------------------ temporal operators


def j2_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): every event enriched with the
    most recent minute-level aggregate at-or-before its timestamp.
    Spark has no native ASOF; operators.joins.as_of_join composes it as
    union → carry-forward window → filter (one shuffle on the key).
    Oracle = DuckDB's native ASOF LEFT JOIN."""
    from kp_crypto_market_analytics_spark.operators.aggregates import exact_avg
    from kp_crypto_market_analytics_spark.operators.joins import as_of_join

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    minutes = (
        e.groupBy(F.col("event_type"), F.date_trunc("minute", "ts").alias("m_ts"))
        .agg(exact_avg("value").alias("minute_avg"))
        .withColumn("matched_minute", F.col("m_ts"))
    )
    out = as_of_join(
        e.select("event_id", "event_type", "ts", "value"),
        minutes,
        left_ts="ts",
        right_ts="m_ts",
        keys=["event_type"],
    )
    return out.select(
        "event_id", "event_type", "value", "matched_minute", "minute_avg"
    ).orderBy("event_id")


J2_ASOF_SQL = """
WITH minutes AS (
  SELECT event_type AS m_type, date_trunc('minute', ts) AS m_ts,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS minute_avg
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, e.value,
  m.m_ts AS matched_minute, m.minute_avg
FROM events e ASOF LEFT JOIN minutes m
  ON e.event_type = m.m_type AND e.ts >= m.m_ts
ORDER BY e.event_id
"""


def j_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, FORWARD direction with a tolerance — the other two
    axes of pandas merge_asof parity (j2 covers backward/unbounded):
    each event is enriched with the NEXT minute-level snapshot at-or-
    after its timestamp, nulled when that snapshot is more than 120 s
    ahead.  Same single-shuffle union→carry→filter plan; direction
    just flips the window sort, tolerance is a post-window predicate —
    no extra exchange.  Oracle = DuckDB ASOF LEFT JOIN with the
    inequality reversed + tolerance CASE."""
    from kp_crypto_market_analytics_spark.operators.aggregates import exact_avg
    from kp_crypto_market_analytics_spark.operators.joins import as_of_join

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    minutes = (
        e.groupBy(F.col("event_type"), F.date_trunc("minute", "ts").alias("m_ts"))
        .agg(exact_avg("value").alias("minute_avg"))
        .withColumn("matched_minute", F.col("m_ts"))
    )
    out = as_of_join(
        e.select("event_id", "event_type", "ts", "value"),
        minutes,
        left_ts="ts",
        right_ts="m_ts",
        keys=["event_type"],
        direction="forward",
        tolerance_seconds=120,
    )
    return out.select(
        "event_id", "event_type", "value", "matched_minute", "minute_avg"
    ).orderBy("event_id")


J_ASOF_TOL_SQL = """
WITH minutes AS (
  SELECT event_type AS m_type, date_trunc('minute', ts) AS m_ts,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS minute_avg
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, e.value,
  CASE WHEN epoch(m.m_ts) - epoch(e.ts) <= 120 THEN m.m_ts END AS matched_minute,
  CASE WHEN epoch(m.m_ts) - epoch(e.ts) <= 120 THEN m.minute_avg END AS minute_avg
FROM events e ASOF LEFT JOIN minutes m
  ON e.event_type = m.m_type AND e.ts <= m.m_ts
ORDER BY e.event_id
"""


def j_range_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events counted into 30 overlapping 61-hour windows
    spaced 37 hours apart, via the bucketed equi-join plan
    (operators.joins.range_join_buckets) — hash join on time bucket +
    exact containment filter, never a nested loop."""
    from kp_crypto_market_analytics_spark.operators.joins import range_join_buckets

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    base = e.agg(F.date_trunc("day", F.min("ts")).alias("base"))
    wins = base.select(
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("win_id"), "base"
    ).select(
        "win_id",
        (F.col("base") + F.expr("make_interval(0, 0, 0, 0, win_id * 37, 0, 0)")).alias("w_start"),
        (F.col("base") + F.expr("make_interval(0, 0, 0, 0, win_id * 37 + 61, 0, 0)")).alias("w_end"),
    )
    joined = range_join_buckets(
        e.select("event_id", "ts", "value"), F.broadcast(wins), "ts", "w_start", "w_end",
        bucket_seconds=61 * 3600,
    )
    return (
        joined.groupBy("win_id", "w_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("win_id")
    )


J_RANGE_SQL = """
WITH base AS (
  SELECT date_trunc('day', MIN(ts)) AS b FROM events
), wins AS (
  SELECT i AS win_id,
    b + to_hours(CAST(i * 37 AS BIGINT)) AS w_start,
    b + to_hours(CAST(i * 37 + 61 AS BIGINT)) AS w_end
  FROM base, generate_series(0, 29) AS g(i)
)
SELECT win_id, w_start, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM wins JOIN events e ON e.ts >= w_start AND e.ts < w_end
GROUP BY win_id, w_start ORDER BY win_id
"""


def p_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — THE housekeeping operator a
    100 TB lakehouse runs nightly: given a file inventory (here each
    (ship-month, partkey) lineitem group stands in for one small data
    file and its row count for the file size), pack consecutive files
    into target-size output bins with a single window pass:
    ``bin = exclusive_prefix_rows DIV target`` (next-fit packing —
    deterministic, no driver loop, no greedy iteration).  One row per
    planned output bin: file count, total rows, key envelope.

    Scale: the plan is computed PER TABLE PARTITION (ship-month), so
    the window sort is partitioned — no global sort, months plan in
    parallel, and a 1000-executor run plans each partition where its
    inventory lives.  Integer-only arithmetic end to end."""
    target = 200
    t = load_tables(spark, sf_dir, ["lineitem"])
    files = (
        t["lineitem"]
        .groupBy(
            F.date_trunc("month", "l_shipdate").alias("mon"),
            "l_partkey",
        )
        .agg(F.count(F.lit(1)).alias("f_rows"))
    )
    w = Window.partitionBy("mon").orderBy("l_partkey")
    planned = (
        files.withColumn(
            "prefix_rows",
            (F.sum("f_rows").over(w) - F.col("f_rows")).cast("long"),
        )
        .withColumn("bin", F.expr(f"prefix_rows DIV {target}"))
        .drop("prefix_rows")
    )
    return (
        planned.groupBy("mon", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("f_rows").alias("bin_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
        )
        .orderBy("mon", "bin")
    )


P_COMPACTION_SQL = """
WITH files AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS mon,
    l_partkey, COUNT(*) AS f_rows
  FROM lineitem GROUP BY 1, 2
), planned AS (
  SELECT mon, l_partkey, f_rows,
    CAST((SUM(f_rows) OVER (PARTITION BY mon ORDER BY l_partkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - f_rows)
      AS BIGINT) // 200 AS bin
  FROM files
)
SELECT mon, bin, COUNT(*) AS n_files, CAST(SUM(f_rows) AS BIGINT) AS bin_rows,
  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part
FROM planned GROUP BY mon, bin ORDER BY mon, bin
"""


def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join — concurrent-activity audit:
    which busy users were active AT THE SAME TIME?  Busy user-day
    activity windows ([min ts, max ts] per user-day with >= 6 events —
    the threshold keeps the pair set sparse; unthresholded, every
    user's daily window overlaps every other's and the output is
    quadratic in users) are self-overlap-joined via
    operators.joins.interval_overlap_join: grid-cell equi-join +
    owner-cell dedup, never a nested loop and never a distinct.
    One row per participating user: overlap partner/pair counts and
    total concurrent milliseconds (integer-exact).

    Scale: intervals live inside one day, cells are 1 day -> <= 2
    cells per interval; the quadratic risk is governed by the busy
    threshold (the lever a 100 TB run tunes), and the per-user rollup
    is a map-side-combined agg on user_id."""
    from kp_crypto_market_analytics_spark.operators.joins import interval_overlap_join

    t = load_tables(spark, sf_dir, ["events"])
    iv = (
        t["events"]
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 6)
        .select("user_id", "s", "e")
    )
    a = iv.select(
        F.col("user_id").alias("a_user"), F.col("s").alias("a_s"), F.col("e").alias("a_e")
    )
    b = iv.select(
        F.col("user_id").alias("b_user"), F.col("s").alias("b_s"), F.col("e").alias("b_e")
    )
    pairs = interval_overlap_join(
        a, b, "a_s", "a_e", "b_s", "b_e", cell_seconds=86400,
        extra_condition=F.col("a_user") < F.col("b_user"),
    ).select(
        "a_user",
        "b_user",
        (
            F.least(F.unix_millis("a_e"), F.unix_millis("b_e"))
            - F.greatest(F.unix_millis("a_s"), F.unix_millis("b_s"))
        ).alias("ov_ms"),
    )
    stacked = pairs.select(
        F.col("a_user").alias("user_id"), F.col("b_user").alias("partner"), "ov_ms"
    ).unionByName(
        pairs.select(
            F.col("b_user").alias("user_id"), F.col("a_user").alias("partner"), "ov_ms"
        )
    )
    return (
        stacked.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.countDistinct("partner").alias("n_partners"),
            F.sum("ov_ms").alias("overlap_ms"),
        )
        .orderBy("user_id")
    )


J_INTERVAL_OVERLAP_SQL = """
WITH iv AS (
  SELECT user_id, MIN(ts) AS s, MAX(ts) AS e
  FROM events GROUP BY user_id, CAST(ts AS DATE)
  HAVING COUNT(*) >= 6
), pairs AS (
  SELECT a.user_id AS a_user, b.user_id AS b_user,
    epoch_ms(LEAST(a.e, b.e)) - epoch_ms(GREATEST(a.s, b.s)) AS ov_ms
  FROM iv a JOIN iv b
    ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
), stacked AS (
  SELECT a_user AS user_id, b_user AS partner, ov_ms FROM pairs
  UNION ALL
  SELECT b_user AS user_id, a_user AS partner, ov_ms FROM pairs
)
SELECT user_id, COUNT(*) AS n_overlaps,
  COUNT(DISTINCT partner) AS n_partners,
  CAST(SUM(ov_ms) AS BIGINT) AS overlap_ms
FROM stacked GROUP BY user_id ORDER BY user_id
"""


def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) per user: lag + running
    sum in one sort pass, then per-session rollup.  Batch twin of
    Structured Streaming session_window."""
    from kp_crypto_market_analytics_spark.operators.windows import sessionize

    t = load_tables(spark, sf_dir, ["events"])
    s = sessionize(t["events"], "user_id", "ts", gap_seconds=1800, tiebreak="event_id")
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias("duration_ms"),
        )
        .orderBy("user_id", "session_id")
    )


def w_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE ``F.session_window`` operator (the exact code path
    the streaming sessionizer runs — streaming/candles.py
    sessionized_activity), oracle-gated on batch data: one row per
    merged session with Spark's window bounds (end = last event +
    gap).  The DuckDB oracle rebuilds the same sessions with the
    lag/cumsum rule (a new session only when the gap is STRICTLY
    exceeded — session_window merges touching windows) and derives
    window_end as max(ts) + gap, so the engines must agree on every
    boundary including exact-gap ties."""
    from kp_crypto_market_analytics_spark.streaming.candles import (
        sessionized_activity,
    )

    t = load_tables(spark, sf_dir, ["events"])
    return sessionized_activity(
        t["events"], key_col="user_id", ts_col="ts", gap="30 minutes"
    ).orderBy("user_id", "window_start")


W_SESSION_NATIVE_SQL = """
WITH lagged AS (
  SELECT user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), numbered AS (
  SELECT user_id, ts,
    SUM(CASE WHEN prev_ts IS NULL
          OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM lagged
)
SELECT user_id,
  MIN(ts) AS window_start,
  MAX(ts) + INTERVAL 30 MINUTE AS window_end,
  COUNT(*) AS n_events,
  MIN(ts) AS session_start,
  MAX(ts) AS session_end
FROM numbered GROUP BY user_id, sid
ORDER BY user_id, window_start
"""


W_SESSION_SQL = """
WITH lagged AS (
  SELECT user_id, ts, event_id,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts,
    CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session,
    event_id
  FROM lagged
), numbered AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
  MIN(ts) AS session_start, MAX(ts) AS session_end,
  epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS duration_ms
FROM numbered GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def w_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference §2.6 window coverage: ntile/percent_rank/
    cume_dist/dense_rank in one window pass.  All outputs are exact
    rationals (k/n) — bitwise identical across engines."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        t["events"]
        .select(
            "event_id",
            "event_type",
            "value",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.dense_rank().over(w).alias("drank"),
        )
        .orderBy("event_id")
    )


W_RANK_SQL = """
SELECT event_id, event_type, value,
  ntile(4) OVER w AS quartile,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cume,
  dense_rank() OVER w AS drank
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
ORDER BY event_id
"""


def w_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame (reference uses only row frames): per-key
    trailing 10-minute sum/count — the sliding time-window aggregate
    market data actually wants.  Frame keyed on epoch seconds so both
    engines bound the range identically."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].withColumn("epoch_s", F.unix_timestamp("ts"))
    w = Window.partitionBy("event_type").orderBy("epoch_s").rangeBetween(-600, 0)
    return (
        e.select(
            "event_id",
            "event_type",
            "epoch_s",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("sum_10m"),
            F.count("value").over(w).alias("n_10m"),
        )
        .orderBy("event_id")
    )


W_RANGE_SQL = """
SELECT event_id, event_type, epoch_s,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_10m,
  COUNT(value) OVER w AS n_10m
FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events)
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_s RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def a_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population/sample variance+stddev per group from the same
    decimal moments (beyond-reference §2.5 coverage) — one expression
    family, four aggregates, identical IEEE ops both engines."""
    t = load_tables(spark, sf_dir, ["events"])
    v = F.col("value")
    n = F.count("value")
    sx = F.sum(v.cast("decimal(18,6)")).cast("double")
    sx2 = F.sum(v.cast("decimal(18,6)") * v.cast("decimal(18,6)")).cast("double")
    var_pop = (sx2 - sx * sx / n) / n
    var_samp = F.when(n > 1, (sx2 - sx * sx / n) / (n - F.lit(1)))
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(var_pop, 6).alias("var_pop"),
            F.round(var_samp, 6).alias("var_samp"),
            F.round(F.sqrt(F.greatest(var_pop, F.lit(0.0))), 6).alias("stddev_pop"),
            F.round(F.sqrt(F.greatest(var_samp, F.lit(0.0))), 6).alias("stddev_samp"),
            n.alias("n_rows"),
        )
        .orderBy("event_type")
    )


A_MOMENTS_SQL = """
WITH m AS (
  SELECT event_type, COUNT(value) AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx2
  FROM events GROUP BY event_type
)
SELECT event_type,
  round((sx2 - sx*sx/n) / n, 6) AS var_pop,
  round(CASE WHEN n > 1 THEN (sx2 - sx*sx/n) / (n-1) END, 6) AS var_samp,
  round(sqrt(greatest((sx2 - sx*sx/n) / n, 0)), 6) AS stddev_pop,
  round(sqrt(greatest(CASE WHEN n > 1 THEN (sx2 - sx*sx/n) / (n-1) END, 0)), 6) AS stddev_samp,
  n AS n_rows
FROM m ORDER BY event_type
"""


def p_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column coverage over embeddings: element min/max, exact
    element sum (decimal over posexplode — order-independent), vector
    dimension.  The explode-aggregate form is the scale-safe way to
    reduce array columns (no interpreted higher-order folds)."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    e = ensure_parallelism(t["embeddings"]).where(F.col("vec_id") < 100)
    # Promote float32 elements to double FIRST: round() on FloatType
    # yields a float (whose repr re-exposes float32 noise), and
    # float->decimal rounding is engine-dependent; double->decimal isn't.
    exploded = e.select(
        "vec_id", F.explode("embedding").alias("xf")
    ).withColumn("x", F.col("xf").cast("double"))
    return (
        exploded.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("dim"),
            F.round(F.min("x"), 6).alias("min_x"),
            F.round(F.max("x"), 6).alias("max_x"),
            F.sum(F.col("x").cast("decimal(18,6)")).cast("double").alias("sum_x"),
        )
        .orderBy("vec_id")
    )


P_ARRAY_SQL = """
WITH exploded AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id < 100
)
SELECT vec_id, COUNT(*) AS dim,
  round(MIN(x), 6) AS min_x,
  round(MAX(x), 6) AS max_x,
  CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sum_x
FROM exploded GROUP BY vec_id ORDER BY vec_id
"""


def a_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear regression of value on time (trend extraction):
    slope/intercept/r² from explicit moments with guarded divisions —
    built-in regr_* aggregates exist on both engines but, like corr,
    Spark's are ANSI-unsafe on degenerate groups; the moment form is
    branch-guarded and bitwise reproducible."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select(
        "event_type",
        F.unix_timestamp("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    n = F.count("y").cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, sxy = F.sum(F.col("x") * F.col("x")), F.sum(F.col("x") * F.col("y"))
    syy = F.sum(F.col("y") * F.col("y"))
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when(varx > 0, cov / varx)
    intercept = F.when(varx > 0, (sy - slope * sx) / n)
    r2 = F.when((varx > 0) & (vary > 0), (cov * cov) / (varx * vary))
    return (
        e.groupBy("event_type")
        .agg(
            F.round(slope * 86400, 6).alias("slope_per_day"),
            F.round(intercept, 6).alias("intercept"),
            F.round(r2, 6).alias("r2"),
            n.cast("long").alias("n_rows"),
        )
        .orderBy("event_type")
    )


A_REGR_SQL = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS DOUBLE) AS x, value AS y FROM events
), m AS (
  SELECT event_type, CAST(COUNT(y) AS DOUBLE) AS n,
    SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy, SUM(y*y) AS syy
  FROM e GROUP BY event_type
)
SELECT event_type,
  round(CASE WHEN n*sxx - sx*sx > 0 THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END * 86400, 6) AS slope_per_day,
  round(CASE WHEN n*sxx - sx*sx > 0
        THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n END, 6) AS intercept,
  round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        THEN ((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6) AS r2,
  CAST(n AS BIGINT) AS n_rows
FROM m ORDER BY event_type
"""


_EWMA_ALPHA = 0.2
# Shared weight literals: both engines consume the SAME Python doubles
# (repr-emitted into the SQL), so the weighted sum is identical IEEE
# arithmetic — no pow() libm divergence between JVM and DuckDB.
_EWMA_W = [(1.0 - _EWMA_ALPHA) ** j for j in range(8)]


def w_ewma_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated (8-lag) exponentially weighted moving average per key:
    the closed-form, window-expressible cousin of the exact-recurrence
    ``operators.windows.ewma_grouped`` (that one is pandas-parity-tested;
    this one is SQL-oracle-gated).  ewm(adjust=True) semantics truncated
    to the trailing 8 observations: num = Σ w_j·x_{t-j}, den = Σ w_j over
    available lags — one window sort pass, whole-stage codegen, no
    Python.  Scale: single shuffle on event_type; lag chain stays in one
    frame evaluation."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    events = t["events"].withColumns(
        {f"__lag{j}": F.lag("value", j).over(w) for j in range(1, 8)}
    )
    lags = [F.col("value")] + [F.col(f"__lag{j}") for j in range(1, 8)]
    num: Column = F.lit(0.0)
    den: Column = F.lit(0.0)
    for j, lg in enumerate(lags):
        num = num + F.coalesce(lg, F.lit(0.0)) * F.lit(_EWMA_W[j])
        den = den + F.when(lg.isNotNull(), F.lit(_EWMA_W[j])).otherwise(F.lit(0.0))
    return (
        events
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(num / den, 6).alias("ewma8"),
        )
        .orderBy("event_id")
    )


def _ewma_sql() -> str:
    lag = lambda j: "value" if j == 0 else f"lag(value, {j}) OVER w"
    num = " + ".join(f"coalesce({lag(j)}, 0.0) * {w!r}" for j, w in enumerate(_EWMA_W))
    den = " + ".join(
        f"CASE WHEN {lag(j)} IS NOT NULL THEN {w!r} ELSE 0.0 END"
        for j, w in enumerate(_EWMA_W)
    )
    return f"""
SELECT event_id, event_type, value, round(({num}) / ({den}), 6) AS ewma8
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
ORDER BY event_id
"""


W_EWMA_SQL = _ewma_sql()


def a_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, weekday-key): all 4 grouping combinations
    in one pass (beyond-reference grouping sets)."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .cube(F.col("event_type"), F.dayofweek("ts").cast("int").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy(F.col("event_type").asc_nulls_first(), F.col("dow").asc_nulls_first())
    )


A_CUBE_SQL = """
SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
  COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CUBE(event_type, CAST(dayofweek(ts) + 1 AS INTEGER))
ORDER BY event_type NULLS FIRST, dow NULLS FIRST
"""


# ------------------------------------------------- engine-free extras


def a10_scalar_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — guarded scalar correlations (binance_analysis.py:627-636):
    corr(value, k) and corr(|value|, k) with the n>10 guard."""
    t = load_tables(spark, sf_dir, ["events"])
    k = F.replace(
        F.replace(F.col("props"), F.lit('{"k": '), F.lit("")), F.lit("}"), F.lit("")
    ).try_cast("long")
    e = t["events"].withColumn("k", k)
    n = F.count("k")
    return e.agg(
        n.alias("n_pairs"),
        F.when(n > 10, F.round(corr_moments("value", F.col("k")), 6)).alias("corr_value_k"),
        F.when(n > 10, F.round(corr_moments(F.abs("value"), F.col("k")), 6)).alias("corr_abs_k"),
    )


A10_SQL = """
WITH e AS (
  SELECT value, TRY_CAST(replace(replace(props, '{"k": ', ''), '}', '') AS BIGINT) AS k
  FROM events
)
SELECT COUNT(k) AS n_pairs,
  CASE WHEN COUNT(k) > 10 THEN round(corr(value, k), 6) END AS corr_value_k,
  CASE WHEN COUNT(k) > 10 THEN round(corr(abs(value), k), 6) END AS corr_abs_k
FROM e
"""


def o6_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 — seeded deterministic sample (binance_analysis.py:713): the
    engine-portable form is hash-mod sampling (md5 of the key), which
    is reproducible across engines AND stable under repartitioning —
    unlike rand(seed), whose draw depends on partition layout."""
    t = load_tables(spark, sf_dir, ["events"])
    h = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    s = t["events"].where(h < 5)
    return s.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


O6_SQL = """
SELECT COUNT(*) AS n_sampled,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events
WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 5
"""


def a_salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation over a 5-key grouping (each key
    holds ~20% of the table — exactly the hot-key shape that serializes
    a plain groupBy at scale).  The oracle is the PLAIN group-by: the
    salt must be invisible in the result."""
    from kp_crypto_market_analytics_spark.operators.aggregates import salted_agg

    t = load_tables(spark, sf_dir, ["events"])
    g1, finalize = salted_agg(t["events"], ["event_type"], "event_id", 16)
    partials = g1.agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    out = finalize(
        partials,
        [
            F.sum("s").cast("double").alias("sum_value"),
            F.sum("n").alias("n_rows"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        ],
    )
    return out.orderBy("event_type")


A_SALTED_SQL = """
SELECT event_type,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  COUNT(*) AS n_rows, MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def j_salted_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact⋈dim join on the 5-value event_type key (hot-key
    join shape), then aggregate.  Oracle = the plain join: salting must
    be row-for-row invisible."""
    from kp_crypto_market_analytics_spark.operators.joins import salted_join

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    dim = (
        e.groupBy("event_type")
        .agg((F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("value")).alias("type_avg"))
    )
    joined = salted_join(e, dim, "event_type", "event_id", 16)
    return (
        joined.where(F.col("value") > F.col("type_avg"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_above"), F.round(F.first("type_avg"), 6).alias("type_avg"))
        .orderBy("event_type")
    )


J_SALTED_SQL = """
WITH dim AS (
  SELECT event_type,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS type_avg
  FROM events GROUP BY event_type
)
SELECT e.event_type, COUNT(*) AS n_above, round(ANY_VALUE(type_avg), 6) AS type_avg
FROM events e JOIN dim USING (event_type)
WHERE e.value > type_avg
GROUP BY e.event_type ORDER BY e.event_type
"""


def a_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP(type, date) — subtotal + grand-total rows in
    one pass (beyond-reference coverage; SURVEY §2.5 notes Spark gives
    grouping sets free)."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .rollup(F.col("event_type"), F.to_date("ts").alias("date"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(F.col("event_type").asc_nulls_first(), F.col("date").asc_nulls_first())
    )


A_ROLLUP_SQL = """
SELECT event_type, CAST(ts AS DATE) AS date,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  COUNT(*) AS n_rows
FROM events GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
ORDER BY event_type NULLS FIRST, date NULLS FIRST
"""


def a_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-aggregation per group (SURVEY §2.5: engine exposes
    countDistinct beyond the reference's plain aggs).  Exact under the
    oracle gate; flips to HyperLogLog++ sketches under
    ``APPROX_DISTINCT_CONF`` — user cardinality is an estimate use
    case, and the sketch merges map-side instead of shuffling every
    distinct (type, user) pair (the 100 TB path, like the quantile
    conf)."""
    from kp_crypto_market_analytics_spark.operators.aggregates import distinct_count_expr

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    return (
        e.groupBy("event_type")
        .agg(
            distinct_count_expr(e, "user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


A_DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def t_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concat-and-chunk documents
    into fixed 2048-token packs, sharded by source.  pack_id = starting
    token offset ÷ budget via a per-source running sum — documents never
    reorder, so packing is reproducible under re-runs.

    Scale: the window runs per source shard (never one global
    single-partition sort); at 100 TB shard further by hash(doc_id)
    prefix so each cumsum partition stays bounded."""
    t = load_tables(spark, sf_dir, ["documents"])
    w = Window.partitionBy("source").orderBy("doc_id")
    packed = (
        t["documents"]
        .select("doc_id", "source", token_count("text").cast("long").alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "pack_id", F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(2048.0))
        )
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("source", "pack_id")
    )


T_PACK_SQL = """
WITH toks AS (
  SELECT doc_id, source, t,
    CASE WHEN length(t) = 0 THEN 0
         ELSE length(t) - length(replace(t, ' ', '')) + 1 END AS n_tokens
  FROM (SELECT doc_id, source, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents)
), c AS (
  SELECT source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
  FROM toks
)
SELECT source, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM c GROUP BY source, pack_id ORDER BY source, pack_id
"""


def t_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: salted md5 bucket of
    doc_id in [0,100) → 80/10/10.  Content-keyed, so membership is
    stable under repartitioning, incremental re-runs, and engine
    changes — unlike rand(seed), which reshuffles with the partitioning
    (same rationale as o6_seeded_sample)."""
    t = load_tables(spark, sf_dir, ["documents"])
    bucket = hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        t["documents"]
        .select(split.alias("split"), "lang", token_count("text").cast("long").alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("sum_tokens"))
        .orderBy("split", "lang")
    )


T_SPLIT_SQL = f"""
WITH b AS (
  SELECT {H60.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket, lang,
    CASE WHEN length(t) = 0 THEN 0
         ELSE length(t) - length(replace(t, ' ', '')) + 1 END AS n_tokens
  FROM (SELECT doc_id, lang, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents)
)
SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
  lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM b GROUP BY split, lang ORDER BY split, lang
"""


def t_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 word bigrams (collocation mining): token array zipped
    with its own 1-shift — no self-join, the explode feeds straight
    into a partial-aggregated count, so shuffle traffic is |bigram
    vocab| not |token pairs|."""
    from kp_crypto_market_analytics_spark.operators.windows import top_k

    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    d = _toks_df(spark, sf_dir).select("toks").where(F.size("toks") >= 2)
    big = d.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    agg = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    return top_k(agg, [F.col("cnt").desc(), F.col("bigram").asc()], 100).select(
        "bigram", "cnt"
    )


T_BIGRAM_SQL = f"""
WITH norm AS (
  SELECT string_split({NORM_TEXT_SQL}, ' ') AS l FROM documents
), idx AS (
  SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM norm
), b AS (
  SELECT l[i] || ' ' || l[i + 1] AS bigram FROM idx
)
SELECT bigram, COUNT(*) AS cnt FROM b
GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 100
"""


def _word_trigrams(toks: Column) -> Column:
    """Word 3-grams via double zip_with over the token array's own
    shifts — O(1) expression size, no self-join, no UDF."""
    n = F.size(toks) - 2
    s1, s2, s3 = F.slice(toks, 1, n), F.slice(toks, 2, n), F.slice(toks, 3, n)
    return F.zip_with(
        F.zip_with(s1, s2, lambda a, b: F.concat_ws(" ", a, b)),
        s3,
        lambda ab, c: F.concat_ws(" ", ab, c),
    )


def _tri_capped_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-capped (<=100) word-trigram postings (doc_id, source, g) —
    session-materialized (r11 optimization, guide §2.4):
    t_decontaminate and t_corpus_pipeline stage 3 build the IDENTICAL
    distinct trigram inverted index (same tokenization via the shared
    token table, same >=3-token filter, same df cap, same eval source)
    — one explode+distinct+df pass now serves both.  All-string/int
    columns round-trip the temp parquet exactly."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["documents"])
        src = t["documents"].select("doc_id", "source")
        # The trigram set feeds two consumers inside the build (df
        # frequency + the capped join) — checkpoint or the
        # explode+distinct re-executes per consumer.
        tri = (
            _toks_df(spark, sf_dir)
            .join(src, "doc_id")
            .where(F.size("toks") >= 3)
            .select(
                "doc_id", "source",
                F.explode(_word_trigrams(F.col("toks"))).alias("g"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        freq = tri.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        return tri.join(freq.where(F.col("df") <= 100), "g").select(
            "doc_id", "source", "g"
        )

    return session_materialized(spark, f"tri_capped:{sf_dir}:cap=100", build)


def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the eval-overlap scan every serious
    training corpus needs: flag corpus docs sharing word-3-gram shingles
    with the held-out eval slice (source 'src4' stands in for the
    benchmark set).  Per contaminated doc: distinct shared shingles and
    distinct eval docs hit.

    Scale shape: inverted-index equi-join on the shingle (never
    doc×doc), document-frequency cap (df<=100) bounds boilerplate
    blowup exactly like dedup_ngram_capped, and the eval side of the
    join is a small broadcastable slice at any corpus size."""
    # The capped trigram postings come from the shared session
    # materialization (one explode+distinct+df pass serves this query
    # AND t_corpus_pipeline stage 3); both former localCheckpoints are
    # gone — consumers re-read the tiny materialized parquet.
    capped = _tri_capped_df(spark, sf_dir)
    ev = capped.where(F.col("source") == "src4").select(
        F.col("g"), F.col("doc_id").alias("eval_doc")
    )
    corp = capped.where(F.col("source") != "src4").select("g", "doc_id")
    return (
        corp.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


T_DECON_SQL = f"""
WITH norm AS (
  SELECT doc_id, source, string_split({NORM_TEXT_SQL}, ' ') AS l FROM documents
), idx AS (
  SELECT doc_id, source, l, unnest(generate_series(1, len(l) - 2)) AS i FROM norm
), tri AS (
  SELECT DISTINCT doc_id, source, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
  FROM idx
), freq AS (
  SELECT g, COUNT(*) AS df FROM tri GROUP BY 1
), capped AS (
  SELECT tri.doc_id, tri.source, tri.g FROM tri JOIN freq USING (g) WHERE df <= 100
), ev AS (
  SELECT g, doc_id AS eval_doc FROM capped WHERE source = 'src4'
), corp AS (
  SELECT g, doc_id FROM capped WHERE source <> 'src4'
)
SELECT doc_id, COUNT(DISTINCT g) AS n_shared, COUNT(DISTINCT eval_doc) AS n_eval_docs
FROM corp JOIN ev USING (g)
GROUP BY doc_id ORDER BY doc_id
"""


def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio (the Gopher/MassiveText quality
    signal): 1 - distinct/total word bigrams per doc — high values mark
    the looping/boilerplate docs a quality filter drops.  One explode
    absorbed by a partial-aggregated (count, countDistinct) per doc;
    shuffle carries (doc_id, bigram) only."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    n = F.size("toks") - 1
    big = (
        _toks_df(spark, sf_dir)
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n),
                    F.slice("toks", 2, n),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bigram"),
        )
    )
    return (
        big.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("bigram").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_bigrams").cast("double"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


T_REPETITION_SQL = f"""
WITH norm AS (
  SELECT doc_id, string_split({NORM_TEXT_SQL}, ' ') AS l FROM documents
), idx AS (
  SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM norm
), b AS (
  SELECT doc_id, l[i] || ' ' || l[i + 1] AS bigram FROM idx
)
SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(DISTINCT bigram) AS n_distinct,
  round(1.0 - COUNT(DISTINCT bigram) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
FROM b GROUP BY doc_id ORDER BY doc_id
"""


def a_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: minute rollup →
    hour rollup → day rollup, each level re-aggregating the PREVIOUS
    level's algebraic partials (decimal sum, count, min, max) — the
    materialized-view pattern that lets day queries read 1/1440th of
    the raw rows.  The oracle aggregates the RAW table directly, so the
    gate proves the cascade is lossless (decimal partials make the
    two-step sums exactly associative)."""
    t = load_tables(spark, sf_dir, ["events"])
    dec = F.col("value").cast("decimal(18,6)")
    minute = (
        t["events"]
        .groupBy("event_type", F.date_trunc("minute", "ts").alias("m"))
        .agg(
            F.sum(dec).alias("s"), F.count("value").alias("n"),
            F.min("value").alias("mn"), F.max("value").alias("mx"),
        )
    )
    hour = (
        minute.groupBy("event_type", F.date_trunc("hour", "m").alias("h"))
        .agg(
            F.sum("s").alias("s"), F.sum("n").alias("n"),
            F.min("mn").alias("mn"), F.max("mx").alias("mx"),
        )
    )
    return (
        hour.groupBy("event_type", F.to_date("h").alias("date"))
        .agg(
            F.sum("s").cast("double").alias("sum_value"),
            F.sum("n").alias("n_rows"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
        .orderBy("event_type", "date")
    )


A_ROLLUP_CASCADE_SQL = """
SELECT event_type, CAST(ts AS DATE) AS date,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  COUNT(value) AS n_rows,
  MIN(value) AS min_value,
  MAX(value) AS max_value
FROM events GROUP BY 1, 2 ORDER BY event_type, date
"""


def a_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP quantiles (a7 is global): median/p95 of value per
    event_type.  Per-group percentile states partial-aggregate and
    combine per key — the group cardinality bounds memory, and under
    ``APPROX_QUANTILES_CONF`` each state is a fixed-size sketch (the
    100 TB path for high-cardinality keys)."""
    from kp_crypto_market_analytics_spark.operators.aggregates import percentile_expr

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    return (
        e.groupBy("event_type")
        .agg(
            F.round(percentile_expr(e, "value", 0.5), 6).alias("median_value"),
            F.round(percentile_expr(e, "value", 0.95), 6).alias("p95_value"),
            F.count("value").alias("n_rows"),
        )
        .orderBy("event_type")
    )


A_GROUPED_Q_SQL = """
SELECT event_type,
  round(quantile_cont(value, 0.5), 6) AS median_value,
  round(quantile_cont(value, 0.95), 6) AS p95_value,
  COUNT(value) AS n_rows
FROM events GROUP BY 1 ORDER BY event_type
"""


def dedup_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup census — the first stage of every
    web-scale corpus pipeline (CCNet / RefinedWeb dedup by normalized
    URL): scheme and case stripped, leading www. dropped, query
    string (tracking params) removed, trailing slash trimmed, then an
    exact groupBy on the canonical form.  The messy URLs are
    synthesized deterministically from (source, doc_id) so both
    engines canonicalize the SAME strings; the regexp chain is the
    artifact under test.  One row per canonical URL with >= 2 docs:
    crawl-duplicate count, distinct messy spellings, and the survivor
    (min doc_id).

    Scale: pure string expressions inside whole-stage codegen; one
    map-side-combined shuffle on the canonical key — document payloads
    never move."""
    t = load_tables(spark, sf_dir, ["documents"])
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM/p/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_campaign=c"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&ref=mail"),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), r"^https?://", ""),
                r"^www\.",
                "",
            ),
            r"\?.*$",
            "",
        ),
        r"/$",
        "",
    )
    return (
        t["documents"]
        .select("doc_id", url.alias("url"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_spellings"),
            F.min("doc_id").alias("survivor_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("canonical_url")
    )


DEDUP_URL_SQL = """
WITH urls AS (
  SELECT doc_id,
    'HTTPS://WWW.' || source || '.Example.COM/p/' ||
      CAST(doc_id % 50 AS VARCHAR) || '/?utm_campaign=c' ||
      CAST(doc_id % 7 AS VARCHAR) || '&ref=mail' AS url
  FROM documents
), canon AS (
  SELECT doc_id, url,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(url), '^https?://', ''),
          '^www\\.', ''),
        '\\?.*$', ''),
      '/$', '') AS canonical_url
  FROM urls
)
SELECT canonical_url, COUNT(*) AS n_docs,
  COUNT(DISTINCT url) AS n_spellings,
  MIN(doc_id) AS survivor_doc
FROM canon GROUP BY canonical_url HAVING COUNT(*) >= 2
ORDER BY canonical_url
"""


def a_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group aggregation: 10%-trimmed and winsorized means
    of event value per event_type.  Trimming is by ROW RANK with a
    deterministic tiebreak (value, event_id), never by float quantile
    thresholds, so the kept set is identical on any engine: drop the
    lowest and highest floor(n/10) rows, average the middle band;
    winsorizing clamps instead of dropping (band edges replace the
    tails).  Means run through the exact decimal path and the
    half-away micro rounding.

    Scale: one shuffle on the group key, two window functions on the
    same sort (rank + count), then a map-side-combined agg — the
    standard robust-metrics shape for outlier-resistant SLO
    reporting."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type",
        F.col("value").cast(DEC).alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    ).withColumn("cut", F.expr("n DIV 10"))
    kept = F.col("rn").between(F.col("cut") + 1, F.col("n") - F.col("cut"))
    # Winsorize: rows below the band take the band-edge value; rows
    # above take the upper edge.  Edges are the kept band's min/max.
    band = ranked.where(kept).groupBy("event_type").agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("v").alias("trim_sum"),
        F.count(F.lit(1)).alias("trim_n"),
    )
    wins = (
        ranked.join(F.broadcast(band), "event_type")
        .select(
            "event_type",
            F.when(F.col("v") < F.col("lo"), F.col("lo"))
            .when(F.col("v") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("v"))
            .alias("wv"),
        )
        .groupBy("event_type")
        .agg(F.sum("wv").alias("win_sum"), F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        band.join(wins, "event_type")
        .select(
            "event_type",
            "n_rows",
            "trim_n",
            round_mean_micro(F.col("trim_sum"), F.col("trim_n")).alias("trimmed_mean"),
            round_mean_micro(F.col("win_sum"), F.col("n_rows")).alias("winsor_mean"),
            F.round(F.col("lo").cast("double"), 6).alias("band_lo"),
            F.round(F.col("hi").cast("double"), 6).alias("band_hi"),
        )
        .orderBy("event_type")
    )


def _a_trimmed_stats_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    tm = sql_round_mean_micro("trim_sum", "trim_n")
    wm = sql_round_mean_micro("win_sum", "n_rows")
    return f"""
WITH ranked AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), cuts AS (
  SELECT *, n // 10 AS cut FROM ranked
), band AS (
  SELECT event_type, MIN(v) AS lo, MAX(v) AS hi,
    SUM(v) AS trim_sum, COUNT(*) AS trim_n
  FROM cuts WHERE rn BETWEEN cut + 1 AND n - cut GROUP BY event_type
), wins AS (
  SELECT c.event_type,
    SUM(CASE WHEN c.v < b.lo THEN b.lo WHEN c.v > b.hi THEN b.hi ELSE c.v END)
      AS win_sum,
    COUNT(*) AS n_rows
  FROM cuts c JOIN band b USING (event_type) GROUP BY c.event_type
)
SELECT event_type, n_rows, trim_n,
  {tm} AS trimmed_mean,
  {wm} AS winsor_mean,
  round(CAST(lo AS DOUBLE), 6) AS band_lo,
  round(CAST(hi AS DOUBLE), 6) AS band_hi
FROM band JOIN wins USING (event_type)
ORDER BY event_type
"""


def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified FIXED-K sampling: exactly min(k, |stratum|) docs per
    source, chosen by content-keyed hash order — the per-domain
    balanced subset a corpus-QA pass reads.  Unlike hash-MOD sampling
    (o6, rate-based), the count per stratum is exact; unlike
    rand(seed), membership is stable under repartitioning.  One
    row_number window per stratum — a single shuffle on source."""
    t = load_tables(spark, sf_dir, ["documents"])
    h = hash64(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        t["documents"]
        .select("doc_id", "source", token_count("text").cast("long").alias("n_tokens"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("source", "rn", "doc_id", "n_tokens")
        .orderBy("source", "rn")
    )


T_STRATIFIED_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
    CASE WHEN length(t) = 0 THEN 0
         ELSE length(t) - length(replace(t, ' ', '')) + 1 END AS n_tokens,
    {H60.format(x="'strat:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM (SELECT doc_id, source, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents)
), r AS (
  SELECT source, doc_id, n_tokens,
    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
  FROM d
)
SELECT source, rn, doc_id, n_tokens FROM r WHERE rn <= 10
ORDER BY source, rn
"""


def t_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus funnel — quality gate → repetition
    gate → exact dedup — reported as per-source drop-off counts, the
    composition every LLM data pipeline runs before tokenization:

      1. quality: n_tokens >= 25 AND heuristic score >= 0.4
         (t_quality_score's exact expressions),
      2. repetition: duplicate-bigram ratio <= 0.06 (t_repetition's
         signal, computed shuffle-free via array_distinct),
      3. dedup: keep the min doc_id per LEADING-CONTENT fingerprint
         (md5 of the first 8 tokens) among survivors — the templated-
         document dedup rule; whole-document md5 never collides on this
         corpus (dedup_exact shows every doc unique), the prefix
         fingerprint collides ~5%, so this stage has teeth.

    Single scan + one fingerprint window + one source agg — the funnel
    costs two shuffles at any corpus size."""
    from kp_crypto_market_analytics_spark.functions.text import quality_score

    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    toks_arr = F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
    toks_ct = token_count("text")
    score = quality_score("text")
    n = F.size(toks_arr) - 1
    bigrams = F.when(
        F.size(toks_arr) >= 2,
        F.zip_with(
            F.slice(toks_arr, 1, n), F.slice(toks_arr, 2, n),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_big = F.size(bigrams)
    dup_ratio = F.when(n_big > 0, F.lit(1.0) - F.size(F.array_distinct(bigrams)) / n_big.cast("double"))

    flagged = d.select(
        "doc_id", "source",
        toks_ct.alias("n_tokens"),
        ((toks_ct >= 25) & (score >= 0.4)).alias("pass_q"),
        dup_ratio.alias("dup_ratio"),
        F.md5(F.concat_ws(" ", F.slice(toks_arr, 1, 8))).alias("fp"),
    ).withColumn(
        "pass_r", F.col("pass_q") & F.coalesce(F.col("dup_ratio") <= 0.06, F.lit(True))
    )
    w = Window.partitionBy("fp")
    flagged = flagged.withColumn(
        "kept",
        F.col("pass_r") & (F.col("doc_id") == F.min(F.when(F.col("pass_r"), F.col("doc_id"))).over(w)),
    )

    def cnt(c):  # noqa: ANN001
        return F.sum(F.when(F.col(c), 1).otherwise(0))

    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt("pass_q").alias("n_pass_quality"),
            cnt("pass_r").alias("n_pass_repetition"),
            cnt("kept").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        )
        .orderBy("source")
    )


def _t_corpus_filter_sql() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS

    hit_terms = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
        for w in STOPWORDS
    )
    return f"""
WITH base AS (
  SELECT doc_id, source, {NORM_TEXT_SQL} AS t FROM documents
), feat AS (
  SELECT doc_id, source, t, ' ' || t || ' ' AS p,
    CASE WHEN length(t) = 0 THEN 0
         ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1 END AS n_tokens,
    string_split(t, ' ') AS l,
    md5(array_to_string(string_split(t, ' ')[1:8], ' ')) AS fp
  FROM base
), scored AS (
  SELECT doc_id, source, n_tokens, fp,
    {hit_terms} AS stopword_hits,
    CASE WHEN len(l) >= 2 THEN
      1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(l) - 1),
                                                  i -> l[i] || ' ' || l[i + 1]))) AS DOUBLE)
            / (len(l) - 1)
    END AS dup_ratio
  FROM feat
), flags AS (
  SELECT doc_id, source, n_tokens, fp, dup_ratio,
    (n_tokens >= 25 AND
     round(least(n_tokens / 100.0, 1.0) * 0.5
         + least(CASE WHEN n_tokens > 0 THEN CAST(stopword_hits AS DOUBLE) / n_tokens END * 5, 1.0) * 0.5, 6) >= 0.4
    ) AS pass_q
  FROM scored
), flags2 AS (
  SELECT *, (pass_q AND coalesce(dup_ratio <= 0.06, TRUE)) AS pass_r FROM flags
), winner AS (
  SELECT *,
    (pass_r AND doc_id = MIN(CASE WHEN pass_r THEN doc_id END) OVER (PARTITION BY fp)) AS kept
  FROM flags2
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
  CAST(SUM(CASE WHEN pass_r THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_repetition,
  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
FROM winner GROUP BY source ORDER BY source
"""


def t_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus-overlap matrix — the planning pass before
    cross-dump dedup ("how much of crawl B is already in crawl A"):
    per source pair, shared distinct char-4-gram shingles and the
    containment ratio vs the smaller side.

    Scale shape: one distinct over (source, shingle) — vocabulary-
    bounded, not corpus-bounded — then a shingle equi-join between the
    per-source sets; |sources|² output is tiny.  No doc×doc work at
    any size."""
    from kp_crypto_market_analytics_spark.functions.text import char_shingles

    t = load_tables(spark, sf_dir, ["documents"])
    sets = (
        ensure_parallelism(t["documents"])
        .select("source", F.explode(char_shingles("text", 4)).alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds totals + both join sides
    )
    totals = sets.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        sets.alias("a")
        .join(
            sets.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = totals.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a", "source_b", "n_shared", "n_a", "n_b",
            F.round(
                F.col("n_shared").cast("double") / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


T_SOURCE_OVERLAP_SQL = f"""
WITH norm AS (
  SELECT source, {NORM_TEXT_SQL} AS t FROM documents
), idx AS (
  SELECT source, t, unnest(generate_series(1, greatest(length(t) - 3, 1))) AS i
  FROM norm
), sets AS (
  SELECT DISTINCT source, substr(t, i, 4) AS sh FROM idx
), totals AS (
  SELECT source, COUNT(*) AS n_sh FROM sets GROUP BY 1
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM sets a JOIN sets b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared, ta.n_sh AS n_a, tb.n_sh AS n_b,
  round(CAST(n_shared AS DOUBLE) / least(ta.n_sh, tb.n_sh), 6) AS containment
FROM shared
JOIN totals ta ON ta.source = source_a
JOIN totals tb ON tb.source = source_b
ORDER BY source_a, source_b
"""


def p_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling (the first pass any pipeline runs on a new
    drop): per-column null rate, distinct count, min/max — long format,
    one row per column.  All columns profile in a single scan (one
    multi-aggregate), then unpivot driver-side via a tiny union of
    1-row projections; at 100 TB the scan cost dominates and stays
    single-pass."""
    t = load_tables(spark, sf_dir, ["orders"])
    o = t["orders"]
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"]

    # min/max aggregate on the NATIVE type (string-cast first would
    # order lexicographically); the string cast is render-only, and
    # doubles render via decimal(18,2) so both engines print alike.
    def s(c: Column, name: str) -> Column:
        if name == "o_totalprice":
            return c.cast("decimal(18,2)").cast("string")
        return c.cast("string")

    from kp_crypto_market_analytics_spark.operators.aggregates import distinct_count_expr

    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[distinct_count_expr(o, c).alias(f"nd_{c}") for c in cols],
        *[s(F.min(c), c).alias(f"mn_{c}") for c in cols],
        *[s(F.max(c), c).alias(f"mx_{c}") for c in cols],
    )
    rows = [
        agg.select(
            F.lit(c).alias("column_name"),
            F.col("n").alias("n_rows"),
            (F.col("n") - F.col(f"nn_{c}")).alias("n_null"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_str"),
            F.col(f"mx_{c}").alias("max_str"),
        )
        for c in cols
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("column_name")


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"]


def _profile_cast(c: str, agg: str) -> str:
    if c == "o_totalprice":
        return f"CAST(CAST({agg}({c}) AS DECIMAL(18,2)) AS VARCHAR)"
    return f"CAST({agg}({c}) AS VARCHAR)"


P_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
  COUNT(*) - COUNT({c}) AS n_null, COUNT(DISTINCT {c}) AS n_distinct,
  {_profile_cast(c, "MIN")} AS min_str, {_profile_cast(c, "MAX")} AS max_str
FROM orders"""
    for c in _PROFILE_COLS
) + "\nORDER BY column_name"


def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of lineitem quantity in 10 bins — feature
    bucketing / distribution sketching as pure integer arithmetic
    (portable: no width_bucket dependency), one scan + one tiny
    shuffle."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    lo, hi, nbins = 1.0, 51.0, 10
    step = (hi - lo) / nbins
    b = F.least(
        F.greatest(F.floor((F.col("l_quantity") - F.lit(lo)) / F.lit(step)), F.lit(0)),
        F.lit(nbins - 1),
    ).cast("int")
    return (
        t["lineitem"]
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("min_q"),
            F.max("l_quantity").alias("max_q"),
        )
        .orderBy("bin")
    )


A_HIST_SQL = """
SELECT CAST(least(greatest(floor((l_quantity - 1.0) / 5.0), 0), 9) AS INTEGER) AS bin,
  COUNT(*) AS n, MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q
FROM lineitem GROUP BY bin ORDER BY bin
"""


def t_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-redaction scan: per-document email / URL / long-digit-run
    counts and a corpus rollup flag — the detection half of a scrub
    pass (both engines run the identical RE2-safe patterns; the
    redaction itself is the same regexp_replace).

    The synthetic corpus contains no organic PII, so a deterministic
    subset (doc_id % 97 == 0) gets a contact line appended in-query on
    BOTH engines — the detector is then exercised on real text with
    known-position planted matches instead of passing vacuously."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"].withColumn(
        "text",
        F.when(
            F.col("doc_id") % 97 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com via https://ex.org/u/"),
                F.col("doc_id").cast("string"),
                F.lit(" ref 9876543210"),
            ),
        ).otherwise(F.col("text")),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
    url = r"https?://[^\s]+"
    digits = r"[0-9]{9,}"
    n_email = F.size(F.regexp_extract_all(F.col("text"), F.lit(email), 0))
    n_url = F.size(F.regexp_extract_all(F.col("text"), F.lit(url), 0))
    n_dig = F.size(F.regexp_extract_all(F.col("text"), F.lit(digits), 0))
    return (
        d.select(
            "doc_id",
            n_email.alias("n_emails"),
            n_url.alias("n_urls"),
            n_dig.alias("n_digit_runs"),
            ((n_email + n_url + n_dig) > 0).alias("has_pii"),
        )
        .where((F.col("n_emails") + F.col("n_urls") + F.col("n_digit_runs")) > 0)
        .orderBy("doc_id")
    )


T_PII_SQL = """
WITH aug AS (
  SELECT doc_id,
    CASE WHEN doc_id % 97 = 0
         THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.com via https://ex.org/u/' || CAST(doc_id AS VARCHAR)
              || ' ref 9876543210'
         ELSE text END AS text
  FROM documents
), c AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS n_emails,
    len(regexp_extract_all(text, 'https?://[^\\s]+')) AS n_urls,
    len(regexp_extract_all(text, '[0-9]{9,}')) AS n_digit_runs
  FROM aug
)
SELECT doc_id, n_emails, n_urls, n_digit_runs,
  (n_emails + n_urls + n_digit_runs) > 0 AS has_pii
FROM c WHERE n_emails + n_urls + n_digit_runs > 0 ORDER BY doc_id
"""


_MIX_RATES = {"src0": 25, "src1": 50, "src2": 80, "src3": 10, "src4": 100}


def t_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: each source kept at its own rate (pct of
    a salted md5 bucket) — the reweighting pass that turns a raw corpus
    into a training mix.  Hash-keyed like t_split_assign, so membership
    is stable under repartitioning and incremental re-runs; unknown
    sources default to 100%.  One scan, no shuffle until the audit agg."""
    t = load_tables(spark, sf_dir, ["documents"])
    bucket = hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100
    rate = F.lit(100)
    for src, r in _MIX_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    kept = t["documents"].where(bucket < rate)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(token_count("text").cast("long")).alias("kept_tokens"),
        )
        .orderBy("source")
    )


T_MIX_SQL = f"""
WITH b AS (
  SELECT source,
    {H60.format(x="'mix:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
    CASE WHEN length(t) = 0 THEN 0
         ELSE length(t) - length(replace(t, ' ', '')) + 1 END AS n_tokens
  FROM (SELECT doc_id, source, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents)
), r AS (
  SELECT *, CASE source {' '.join(f"WHEN '{s}' THEN {v}" for s, v in _MIX_RATES.items())} ELSE 100 END AS rate
  FROM b
)
SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
FROM r WHERE bucket < rate GROUP BY source ORDER BY source
"""


def _idiv(a, b):
    """Exact integral division on long columns — Spark's ``div``
    (pure 64-bit integer arithmetic, exact over the FULL long range),
    mirroring DuckDB's ``//``.  Neither ``floor(a / b)`` nor the
    ``(a - pmod) / b`` trick survives numerators beyond 2^53, where
    the long→double conversion itself rounds."""
    return F.call_function("div", a, b)


def p_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit — the data-layout operator for the two
    dominant reference predicates (time windows, value thresholds;
    binance_analysis.py:179-186 / large-events): quantize events onto a
    (minute-tile, value-half-unit) grid, interleave to a 20-bit Morton
    key (operators.layout.interleave_bits), and report each of the 64
    coarse tiles' row count and dimension envelope.  Narrow envelopes
    on BOTH axes are the proof the layout works: files written in
    z-order (operators.layout.zorder_write) expose those envelopes as
    parquet row-group min/max stats, so either predicate prunes.

    Pure integer shift/mask arithmetic inside whole-stage codegen; the
    only shuffle is the 64-group agg (map-side combined)."""
    from kp_crypto_market_analytics_spark.operators.layout import interleave_bits

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    x = F.pmod(F.floor(F.unix_timestamp("ts") / 60).cast("long"), F.lit(1024))
    y = F.least(F.lit(1023).cast("long"), F.floor(F.col("value") * 2).cast("long"))
    return (
        e.select(x.alias("x"), y.alias("y"), interleave_bits(x, y, 10).alias("zval"))
        .groupBy(F.shiftright(F.col("zval"), 14).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .orderBy("tile")
    )


def _p_zorder_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.layout import interleave_bits_sql

    return f"""
WITH b AS (
  SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) % 1024 AS x,
         least(1023, CAST(floor(value * 2) AS BIGINT)) AS y
  FROM events
), z AS (
  SELECT x, y, ({interleave_bits_sql('x', 'y', 10)}) AS zval FROM b
)
SELECT zval >> 14 AS tile, COUNT(*) AS n_rows,
  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
FROM z GROUP BY 1 ORDER BY tile
"""


# partkey probe ranges for the pruning simulation (lo, hi) — narrow
# point-lookups plus one wide sweep, meaningful at every SF.
_PRUNE_PREDS = [(0, 99), (500, 599), (1000, 1099), (1500, 1599), (0, 1999)]
_PRUNE_ROWS_PER_FILE = 1000


def p_pruning_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness simulation — the planner-style
    audit that justifies a re-clustering job BEFORE paying for it:
    group lineitem into synthetic files under two layouts (the
    ingest-order layout: one file per shipdate month; the re-clustered
    layout: 1000-row files in partkey order), collect per-file
    min/max(l_partkey) — exactly the stats parquet row groups expose —
    and replay 5 partkey probe ranges against each layout, counting
    files whose [min,max] envelope intersects.

    The point the numbers make: time-clustered files have partkey
    envelopes spanning the whole domain (nothing prunes); partkey-
    clustered files prune all but the envelope-overlapping handful.
    SCALING.md's layout section asserts this; here it is measured and
    oracle-gated.

    Determinism & scale shape: file assignment is integer arithmetic
    on exact orders (month, or global rank div rows-per-file on a
    total order — the rank via ``range_partitioned_rank``, NOT a
    single-partition row_number: range-partition, rank locally, add
    the broadcast per-range offset, so the sort scales out); stats are
    one agg per layout at FILE grain; the probe replay joins |files| ×
    5 predicate literals — no fact-table work after the stat
    collection, which is the entire point of stats-based pruning."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["lineitem"])
    li = ensure_parallelism(t["lineitem"]).select(
        "l_partkey", "l_shipdate"
    )
    by_time = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("f")
    ).agg(
        F.min("l_partkey").alias("mn"),
        F.max("l_partkey").alias("mx"),
    ).select(F.lit("ingest_time").alias("layout"), "mn", "mx")
    # r11 optimization (guide §2.3, aggregate before you shuffle):
    # the partkey-clustered file stats do NOT need the full-table
    # total-order rank the original computed (range-repartition +
    # per-range window over every lineitem row).  l_partkey is the
    # LEADING sort key and the per-file stat is min/max(l_partkey)
    # only, so the (l_orderkey, l_linenumber) tiebreakers can never
    # change which partkey VALUES cover a file: partkey pk with
    # per-key count c and exclusive cumulative count s occupies ranks
    # (s, s+c], i.e. files floor(s/R) .. floor((s+c-1)/R), and file
    # f's min/max partkey are the min/max over the pks whose span
    # touches f.  One map-side-combined groupBy (|distinct partkey|
    # rows shuffle instead of every row), the |keys|-sized cumsum via
    # the same range-partitioned operator, and a bounded explode of
    # ~(n/R + |keys|) span rows replace the full-table sort.
    cnts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    spans = range_partitioned_rank(
        cnts, ["l_partkey"], out_col="__rn", sum_col="cnt", cumsum_out="e"
    ).select(
        "l_partkey",
        F.call_function(
            "div", F.col("e") - F.col("cnt"), F.lit(_PRUNE_ROWS_PER_FILE)
        ).alias("f0"),
        F.call_function(
            "div", F.col("e") - 1, F.lit(_PRUNE_ROWS_PER_FILE)
        ).alias("f1"),
    )
    by_pk = (
        spans.select(
            "l_partkey", F.explode(F.sequence("f0", "f1")).alias("f")
        )
        .groupBy("f")
        .agg(
            F.min("l_partkey").alias("mn"),
            F.max("l_partkey").alias("mx"),
        )
        .select(F.lit("partkey_clustered").alias("layout"), "mn", "mx")
    )
    files = by_time.unionByName(by_pk)
    preds = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i + 1).alias("pred_id"),
                    F.lit(lo).cast("long").alias("lo"),
                    F.lit(hi).cast("long").alias("hi"),
                )
                for i, (lo, hi) in enumerate(_PRUNE_PREDS)
            ]
        )
    ).alias("p")
    probed = files.select("layout", "mn", "mx", preds).select(
        "layout", "mn", "mx", "p.pred_id", "p.lo", "p.hi"
    )
    agg = probed.groupBy("layout", "pred_id", "lo", "hi").agg(
        F.count(F.lit(1)).alias("files_total"),
        F.sum(
            ((F.col("mn") <= F.col("hi")) & (F.col("mx") >= F.col("lo"))).cast("int")
        ).alias("files_hit"),
    )
    pruned_ppm = F.call_function(
        "div",
        F.lit(2) * (F.col("files_total") - F.col("files_hit")) * F.lit(1_000_000)
        + F.col("files_total"),
        F.lit(2) * F.col("files_total"),
    )
    return agg.select(
        "layout",
        "pred_id",
        "lo",
        "hi",
        F.col("files_total").cast("long").alias("files_total"),
        F.col("files_hit").cast("long").alias("files_hit"),
        pruned_ppm.cast("long").alias("pruned_ppm"),
    ).orderBy("layout", "pred_id")


def _p_pruning_sim_sql() -> str:
    values = ", ".join(f"({i + 1}, {lo}, {hi})" for i, (lo, hi) in enumerate(_PRUNE_PREDS))
    return f"""
WITH by_time AS (
  SELECT 'ingest_time' AS layout, MIN(l_partkey) AS mn, MAX(l_partkey) AS mx
  FROM lineitem GROUP BY date_trunc('month', l_shipdate)
), ordered AS (
  SELECT l_partkey,
    row_number() OVER (ORDER BY l_partkey, l_orderkey, l_linenumber) AS rn
  FROM lineitem
), by_pk AS (
  SELECT 'partkey_clustered' AS layout, MIN(l_partkey) AS mn, MAX(l_partkey) AS mx
  FROM ordered GROUP BY (rn - 1) // {_PRUNE_ROWS_PER_FILE}
), files AS (
  SELECT * FROM by_time UNION ALL SELECT * FROM by_pk
), preds(pred_id, lo, hi) AS (
  VALUES {values}
), agg AS (
  SELECT layout, pred_id, lo, hi, COUNT(*) AS files_total,
    SUM(CASE WHEN mn <= hi AND mx >= lo THEN 1 ELSE 0 END) AS files_hit
  FROM files CROSS JOIN preds
  GROUP BY layout, pred_id, lo, hi
)
SELECT layout, CAST(pred_id AS INT) AS pred_id,
  CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
  CAST(files_total AS BIGINT) AS files_total,
  CAST(files_hit AS BIGINT) AS files_hit,
  CAST((2 * (files_total - files_hit) * 1000000 + files_total)
    // (2 * files_total) AS BIGINT) AS pruned_ppm
FROM agg ORDER BY layout, pred_id
"""


_UNPIVOT_METRICS = ("n_events", "total_value", "min_value", "max_value")


def p_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (melt): a per-type metrics frame (count /
    exact-decimal total / min / max as COLUMNS) melts to (type, metric,
    value) rows via the native ``DataFrame.unpivot`` — the inverse of
    a6's pivot and the reshape every metrics store ingests.  The
    DuckDB oracle stacks the same frame with UNION ALL, proving the
    operator is exactly the relational stack.

    Determinism: all four metrics are exact (integer count, decimal
    sum cast once, raw min/max) rendered to a common DOUBLE; metric
    order is the fixed column order.

    Scale shape: one map-side-combined agg to |types| rows, then a
    4× row map — unpivot is a generator projection, no shuffle."""
    t = load_tables(spark, sf_dir, ["events"])
    wide = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    return (
        wide.unpivot(
            ids=["event_type"],
            values=list(_UNPIVOT_METRICS),
            variableColumnName="metric",
            valueColumnName="value",
        )
        .orderBy("event_type", "metric")
    )


def _p_unpivot_sql() -> str:
    stacks = " UNION ALL ".join(
        f"SELECT event_type, '{m}' AS metric, {m} AS value FROM wide"
        for m in _UNPIVOT_METRICS
    )
    return f"""
WITH wide AS (
  SELECT event_type,
    CAST(COUNT(*) AS DOUBLE) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
    MIN(value) AS min_value,
    MAX(value) AS max_value
  FROM events GROUP BY event_type
)
{stacks}
ORDER BY event_type, metric
"""


def t_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling, fixed k per stratum: each doc gets
    an integer priority ``(h mod 2^30) * 2^20 DIV w`` (h = portable
    md5 hash, w = token count), and the 5 smallest priorities per
    source win — longer documents are proportionally likelier to be
    drawn, the exponential-clock scheme (priority ~ u/w) with the
    libm-free integer arithmetic both engines compute bit-identically.
    Complements t_stratified_sample (uniform, fixed-k) and
    t_mixture_sample (rate-based): this is the token-mass-biased
    variant a corpus-QA pass uses so the sample's token distribution
    tracks the corpus's.

    One row_number window per stratum — single shuffle on source, same
    cost envelope as t_stratified_sample at any corpus size."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    w = F.greatest(F.lit(1).cast("long"), token_count("text").cast("long"))
    h = hash64(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string")))
    pri = _idiv(F.pmod(h, F.lit(1 << 30)) * F.lit(1 << 20), w)
    win = Window.partitionBy("source").orderBy(F.col("pri").asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", w.alias("n_tokens"), pri.alias("pri"))
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 5)
        .select("source", "rn", "doc_id", "n_tokens", "pri")
        .orderBy("source", "rn")
    )


T_WEIGHTED_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
    greatest(1, CASE WHEN length(t) = 0 THEN 0
         ELSE length(t) - length(replace(t, ' ', '')) + 1 END) AS n_tokens,
    {H60.format(x="'wsamp:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM (SELECT doc_id, source, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents)
), p AS (
  SELECT source, doc_id, n_tokens,
    ((h % 1073741824) * 1048576) // n_tokens AS pri
  FROM d
), r AS (
  SELECT source, doc_id, n_tokens, pri,
    row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
  FROM p
)
SELECT source, rn, doc_id, n_tokens, pri FROM r WHERE rn <= 5
ORDER BY source, rn
"""


def a_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the profiling pass you run BEFORE
    choosing a 100 TB join strategy (feeds operators.aggregates.
    salted_agg's bucket count and the broadcast-vs-shuffle decision):
    per-key row counts on lineitem.l_suppkey, each key's share in ppm,
    its skew ratio vs the mean key in percent, and the salt fan-out a
    10k-rows-per-task target implies.  All ratios in exact integer
    arithmetic (share_ppm = cnt*1e6 DIV total) so the gate is
    bit-exact.

    Plan: one map-side-combined count agg (the only full shuffle), a
    1-row totals broadcast, top-10 via TakeOrderedAndProject — the
    diagnostic costs one pass regardless of key cardinality."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = ensure_parallelism(t["lineitem"])
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "l_suppkey",
            "cnt",
            _idiv(F.col("cnt") * F.lit(1000000), F.col("total")).alias("share_ppm"),
            _idiv(F.col("cnt") * F.lit(100) * F.col("n_keys"), F.col("total")).alias(
                "skew_pct"
            ),
            _idiv(F.col("cnt") + F.lit(9999), F.lit(10000)).alias("salt_buckets"),
        )
        .orderBy(F.desc("cnt"), "l_suppkey")
        .limit(10)
    )


A_SKEW_SQL = """
WITH c AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
), t AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys FROM c
)
SELECT l_suppkey, cnt,
  (cnt * 1000000) // total AS share_ppm,
  (cnt * 100 * n_keys) // total AS skew_pct,
  (cnt + 9999) // 10000 AS salt_buckets
FROM c, t
ORDER BY cnt DESC, l_suppkey
LIMIT 10
"""


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators.similarity.pq_topk):
    4 subspaces × 16 centroids trained by one exact-gated Lloyd step,
    corpus compressed to (vec_id, subspace, code) rows, queries scored
    by summed LUT partials — the IVF-PQ storage/compute trade that
    makes billion-vector ANN feasible.  Completes the ANN ladder:
    sim_bruteforce (exact) → sim_lsh / sim_ivf (candidate pruning) →
    PQ (compressed scoring).  Decimal-summed partials keep even the
    approximate scores bit-reproducible, so the full train→encode→
    search path carries an exact DuckDB oracle (_pq_sql)."""
    from kp_crypto_market_analytics_spark.operators.similarity import pq_topk

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.where(F.col("vec_id") < 10)
    return pq_topk(emb, queries, "embedding", "vec_id", k=5, m=4, ksub=16, dim=64).orderBy(
        "query_id", "rank"
    )


def _pq_sql(m: int = 4, ksub: int = 16, dim: int = 64, k: int = 5) -> str:
    # Lockstep with pq_codebooks/pq_encode/pq_topk: rounded-cosine
    # argmax with code tiebreak, DECIMAL(27,12) means, DECIMAL(18,6)
    # ADC partials (exact sums => order-independent).
    sub = dim // m
    return f"""
WITH c AS (
  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings
), subs AS (
  SELECT nid, s, cvec[s*{sub}+1 : s*{sub}+{sub}] AS sv
  FROM c, generate_series(0, {m - 1}) AS t(s)
), cb0 AS (
  SELECT nid // {ksub} AS s, nid % {ksub} AS code,
         cvec[(nid // {ksub})*{sub}+1 : (nid // {ksub})*{sub}+{sub}] AS cent
  FROM c WHERE nid < {m * ksub}
), a1 AS (
  SELECT nid, s, code FROM (
    SELECT subs.nid, subs.s, cb0.code,
      row_number() OVER (PARTITION BY subs.nid, subs.s
        ORDER BY round(list_cosine_similarity(subs.sv, cb0.cent), 6) DESC, cb0.code) AS rn
    FROM subs JOIN cb0 USING (s)) WHERE rn = 1
), m1 AS (
  SELECT s, code, i AS pos,
    round(CAST(SUM(CAST(sv[i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(sv[i]), 6) AS mval
  FROM a1 JOIN subs USING (nid, s), generate_series(1, {sub}) AS g(i)
  GROUP BY s, code, i
), cb1 AS (
  SELECT s, code, list(mval ORDER BY pos) AS cent FROM m1 GROUP BY s, code
), codes AS (
  SELECT nid, s, code FROM (
    SELECT subs.nid, subs.s, cb1.code,
      row_number() OVER (PARTITION BY subs.nid, subs.s
        ORDER BY round(list_cosine_similarity(subs.sv, cb1.cent), 6) DESC, cb1.code) AS rn
    FROM subs JOIN cb1 USING (s)) WHERE rn = 1
), lut AS (
  SELECT q.nid AS query_id, cb1.s, cb1.code,
    CAST(round(list_inner_product(q.sv, cb1.cent), 6) AS DECIMAL(18,6)) AS p
  FROM (SELECT * FROM subs WHERE nid < 10) AS q JOIN cb1 USING (s)
), adc AS (
  SELECT lut.query_id, codes.nid AS neighbor_id, CAST(SUM(p) AS DOUBLE) AS score
  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
  WHERE lut.query_id <> codes.nid
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, neighbor_id, score,
    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier PQ search (operators.similarity.pq_rerank_topk): ADC
    over normalized vectors shortlists 100 candidates per query from
    the compressed codes, exact cosine re-ranks only those — recall@5
    0.86 vs brute force on these embeddings (raw ADC alone: 0.30; the
    near-isotropic synthetic data is PQ's worst case).  The re-ranked
    cosines are bit-identical to sim_bruteforce_topk's for every hit,
    and the whole train→encode→shortlist→re-rank path is replayed
    exactly by the oracle."""
    from kp_crypto_market_analytics_spark.operators.similarity import pq_rerank_topk

    return _pq_rerank_topk5(spark, sf_dir).orderBy("query_id", "rank")


def _pq_rerank_topk5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized two-tier PQ top-5 result — the detector
    output shared by sim_pq_rerank (the headline search) and
    sim_pq_recall (its audit); same materialized-detector-output move
    as _ivf_trained_topk5."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )
    from kp_crypto_market_analytics_spark.operators.similarity import pq_rerank_topk

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["embeddings"])
        emb = t["embeddings"]
        queries = emb.where(F.col("vec_id") < 10)
        return pq_rerank_topk(
            emb, queries, "embedding", "vec_id",
            k=5, shortlist=100, m=8, ksub=16, dim=64,
        )

    return session_materialized(
        spark, f"pq_rerank_topk:{sf_dir}:k=5:sl=100:m=8:ksub=16:dim=64", build
    )


def _bf_truth_topk5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized brute-force top-5 truth set (queries =
    vec_id < 10) shared by the sim_ivf_recall and sim_pq_recall
    audits — the expensive exact side of both, computed once."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )
    from kp_crypto_market_analytics_spark.operators.similarity import brute_force_topk

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["embeddings"])
        emb = t["embeddings"]
        queries = emb.where(F.col("vec_id") < 10)
        return brute_force_topk(emb, queries, "embedding", "vec_id", k=5)

    return session_materialized(spark, f"bf_truth_topk:{sf_dir}:k=5:q<10", build)


def _pq_rerank_sql(
    m: int = 8, ksub: int = 16, dim: int = 64, shortlist: int = 100, k: int = 5
) -> str:
    # Normalized-vector PQ (inner-product ADC ~ cosine on unit vectors)
    # plus the exact-cosine re-rank of the decimal-exact shortlist.
    sub = dim // m
    return f"""
WITH raw AS (
  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS rvec FROM embeddings
), nn AS (
  SELECT nid, rvec, sqrt(list_inner_product(rvec, rvec)) AS vn FROM raw
), c AS (
  SELECT nid, list_transform(rvec, x -> x / vn) AS cvec FROM nn WHERE vn > 0
), subs AS (
  SELECT nid, s, cvec[s*{sub}+1 : s*{sub}+{sub}] AS sv
  FROM c, generate_series(0, {m - 1}) AS t(s)
), cb0 AS (
  SELECT nid // {ksub} AS s, nid % {ksub} AS code,
         cvec[(nid // {ksub})*{sub}+1 : (nid // {ksub})*{sub}+{sub}] AS cent
  FROM c WHERE nid < {m * ksub}
), a1 AS (
  SELECT nid, s, code FROM (
    SELECT subs.nid, subs.s, cb0.code,
      row_number() OVER (PARTITION BY subs.nid, subs.s
        ORDER BY round(list_cosine_similarity(subs.sv, cb0.cent), 6) DESC, cb0.code) AS rn
    FROM subs JOIN cb0 USING (s)) WHERE rn = 1
), m1 AS (
  SELECT s, code, i AS pos,
    round(CAST(SUM(CAST(sv[i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(sv[i]), 6) AS mval
  FROM a1 JOIN subs USING (nid, s), generate_series(1, {sub}) AS g(i)
  GROUP BY s, code, i
), cb1 AS (
  SELECT s, code, list(mval ORDER BY pos) AS cent FROM m1 GROUP BY s, code
), codes AS (
  SELECT nid, s, code FROM (
    SELECT subs.nid, subs.s, cb1.code,
      row_number() OVER (PARTITION BY subs.nid, subs.s
        ORDER BY round(list_cosine_similarity(subs.sv, cb1.cent), 6) DESC, cb1.code) AS rn
    FROM subs JOIN cb1 USING (s)) WHERE rn = 1
), lut AS (
  SELECT q.nid AS query_id, cb1.s, cb1.code,
    CAST(round(list_inner_product(q.sv, cb1.cent), 6) AS DECIMAL(18,6)) AS p
  FROM (SELECT * FROM subs WHERE nid < 10) AS q JOIN cb1 USING (s)
), adc AS (
  SELECT lut.query_id, codes.nid AS neighbor_id, CAST(SUM(p) AS DOUBLE) AS score
  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
  WHERE lut.query_id <> codes.nid
  GROUP BY 1, 2
), short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {shortlist}
), rr AS (
  SELECT s.query_id, s.neighbor_id,
    round(list_cosine_similarity(q.rvec, t.rvec), 6) AS cos
  FROM short s
  JOIN raw t ON t.nid = s.neighbor_id
  JOIN raw q ON q.nid = s.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM rr
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def w_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free 5-minute resample + forward fill per event_type
    (operators.windows.resample_ffill) — a11_coverage counts the holes,
    this materializes and fills them, the regular-grid precondition for
    every rolling-window analytic the reference runs on candle data
    (binance_analysis.py rolling stats assume no missing rows)."""
    from kp_crypto_market_analytics_spark.operators.windows import resample_ffill

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    return resample_ffill(e, "event_type", "ts", "value", step_seconds=300).orderBy(
        "event_type", "bucket"
    )


W_RESAMPLE_SQL = """
WITH a AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) AS BIGINT) AS b,
    COUNT(value) AS n_events,
    round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(b) AS lo, MAX(b) AS hi FROM a GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM bounds
), j AS (
  SELECT g.event_type, g.b, coalesce(a.n_events, 0) AS n_events, a.avg_value
  FROM grid g LEFT JOIN a ON g.event_type = a.event_type AND g.b = a.b
)
SELECT event_type, CAST(to_timestamp(b * 300) AS TIMESTAMP) AS bucket, n_events,
  last_value(avg_value IGNORE NULLS) OVER (
    PARTITION BY event_type ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_value,
  CASE WHEN avg_value IS NULL THEN 1 ELSE 0 END AS filled
FROM j ORDER BY event_type, bucket
"""


def a_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators.aggregates.
    partial_rollup / merge_partial_rollups): the first 20 days' daily
    rollup is treated as yesterday's materialized state, days ≥ 20 as
    the arriving increment; merging the two partial states must equal
    the full recompute EXACTLY — which is precisely what the oracle
    (a plain full-scan rollup) checks.  Decimal sums make the merge
    algebraic (exact ⇒ associative), so at 100 TB the nightly job
    touches O(|rollup| + |increment|), never the history."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        merge_partial_rollups,
        partial_rollup,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).withColumn("date", F.to_date("ts"))
    split = F.lit("2024-01-20").cast("date")
    base = partial_rollup(e.where(F.col("date") < split), ["event_type", "date"], "value")
    inc = partial_rollup(e.where(F.col("date") >= split), ["event_type", "date"], "value")
    return merge_partial_rollups(base.unionByName(inc), ["event_type", "date"]).orderBy(
        "event_type", "date"
    )


A_INCREMENTAL_SQL = """
SELECT event_type, CAST(ts AS DATE) AS date,
  COUNT(value) AS n_rows,
  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS avg_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value
FROM events GROUP BY 1, 2 ORDER BY event_type, date
"""


def w_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-bucket correlation between two aligned series (the
    'click' and 'view' hourly averages) — the windowed form of
    a9_corr_matrix / a_regression's global moments, i.e. the rolling
    beta/correlation every pairs-trading and regime-detection pass
    needs.  Frame moments (Σx, Σy, Σxy, Σx², Σy²) accumulate through
    DECIMAL casts of identical doubles, so the five sums — and hence
    the guarded corr — are bit-identical across engines.

    Plan: two map-side-combined bucket aggs, one equi-join on bucket
    (hourly grid — thousands of rows at any corpus size), ONE window
    sort serving all five frame sums.  The fact table never enters the
    window; only the aligned (bucket, x, y) series does — at 100 TB
    the rolling stage is O(buckets), not O(events).  The unpartitioned
    window IS single-partition by construction — that is safe exactly
    because the series is bucket-grained (8.8k rows/year/pair); for
    many pairs, partition the window by pair key."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    b = F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("long")

    def series(ev: str, out: str) -> DataFrame:
        return (
            e.where(F.col("event_type") == ev)
            .groupBy(b.alias("b"))
            .agg(
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                    / F.count("value"),
                    6,
                ).alias(out)
            )
        )

    pair = series("click", "x").join(series("view", "y"), "b")
    w = Window.orderBy("b").rowsBetween(-23, Window.currentRow)
    dx = F.col("x").cast("decimal(18,6)")
    dy = F.col("y").cast("decimal(18,6)")
    pair = pair.withColumns(
        {
            "__n": F.count("x").over(w).cast("double"),
            "__sx": F.sum(dx).over(w).cast("double"),
            "__sy": F.sum(dy).over(w).cast("double"),
            "__sxy": F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).over(w).cast("double"),
            "__sxx": F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).over(w).cast("double"),
            "__syy": F.sum((F.col("y") * F.col("y")).cast("decimal(28,12)")).over(w).cast("double"),
            "__rn": F.row_number().over(Window.orderBy("b")),
        }
    )
    n, sx, sy, sxy, sxx, syy, rn = (
        F.col("__n"),
        F.col("__sx"),
        F.col("__sy"),
        F.col("__sxy"),
        F.col("__sxx"),
        F.col("__syy"),
        F.col("__rn"),
    )
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    corr = F.when((varx > 0) & (vary > 0), (n * sxy - sx * sy) / F.sqrt(varx * vary))
    out = pair.select(
        F.to_timestamp(F.col("b") * 3600).alias("bucket"),
        rn.alias("rn"),
        F.round(corr, 6).alias("corr_24h"),
    )
    return out.where(F.col("rn") >= 24).select("bucket", "corr_24h").orderBy("bucket")


W_ROLLING_CORR_SQL = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b, value FROM events
), xs AS (
  SELECT b, round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS x
  FROM e WHERE event_type = 'click' GROUP BY b
), ys AS (
  SELECT b, round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS y
  FROM e WHERE event_type = 'view' GROUP BY b
), pair AS (
  SELECT xs.b, x, y FROM xs JOIN ys ON xs.b = ys.b
), m AS (
  SELECT b,
    row_number() OVER (ORDER BY b) AS rn,
    CAST(COUNT(x) OVER w AS DOUBLE) AS n,
    CAST(SUM(CAST(x AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sy,
    CAST(SUM(CAST(x*y AS DECIMAL(28,12))) OVER w AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x*x AS DECIMAL(28,12))) OVER w AS DOUBLE) AS sxx,
    CAST(SUM(CAST(y*y AS DECIMAL(28,12))) OVER w AS DOUBLE) AS syy
  FROM pair
  WINDOW w AS (ORDER BY b ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT CAST(to_timestamp(b * 3600) AS TIMESTAMP) AS bucket,
  round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        THEN (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6) AS corr_24h
FROM m WHERE rn >= 24 ORDER BY bucket
"""


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster RESOLUTION — the step after dedup_clusters that training
    pipelines actually ship: per near-dup family, keep the highest-
    quality member (t_quality_score's exact heuristic, doc_id
    tiebreak) and count what drops.  Composes the capped-Jaccard pair
    graph → connected components → quality argmax, so the gate covers
    the whole keep-decision path end to end.

    Plan: quality is a narrow per-doc projection (no shuffle); the
    argmax is one max_by agg on (cluster, q, id) triples — the
    iterative CC labels are the only multi-round cost, unchanged from
    dedup_clusters."""
    from kp_crypto_market_analytics_spark.functions.text import quality_score
    from kp_crypto_market_analytics_spark.operators.dedup import (
        cluster_labels_materialized,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"]
    labels = cluster_labels_materialized(spark, sf_dir)
    q = d.select("doc_id", F.coalesce(quality_score("text"), F.lit(-1.0)).alias("q"))
    key = F.struct(F.col("q"), (-F.col("doc_id")).alias("neg"))
    return (
        labels.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max_by("doc_id", key).alias("canonical_doc"),
            F.max_by("q", key).alias("canonical_quality"),
        )
        .withColumn("n_dupes_dropped", F.col("cluster_size") - 1)
        .orderBy("cluster_id")
    )


def _dedup_canonical_sql() -> str:
    from kp_crypto_market_analytics_spark.functions.text import STOPWORDS

    hit_terms = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
        for w in STOPWORDS
    )
    return f"""
{_CLUSTER_CTES}, qnorm AS (
  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents
), qbase AS (
  SELECT doc_id, ' ' || lower(t) || ' ' AS p,
    CASE WHEN length(t) = 0 THEN 0
         ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1 END AS n_tokens
  FROM qnorm
), qhits AS (
  SELECT doc_id, n_tokens, {hit_terms} AS stopword_hits FROM qbase
), q AS (
  SELECT doc_id, coalesce(round(least(n_tokens / 100.0, 1.0) * 0.5
    + least(CASE WHEN n_tokens > 0 THEN CAST(stopword_hits AS DOUBLE) / n_tokens END * 5,
            1.0) * 0.5, 6), -1.0) AS q
  FROM qhits
), jj AS (
  SELECT l.doc_id, l.cluster_id, q.q FROM labeled l JOIN q USING (doc_id)
), r AS (
  SELECT cluster_id, doc_id, q,
    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
    row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
  FROM jj
)
SELECT cluster_id, cluster_size, doc_id AS canonical_doc, q AS canonical_quality,
  cluster_size - 1 AS n_dupes_dropped
FROM r WHERE rn = 1 ORDER BY cluster_id
"""


def t_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (operators.graph.pagerank_weighted):
    weighted PageRank over the token-adjacency graph — bigram counts as
    edge weights, symmetrized, 3 iterations — then the top 20 keyword
    candidates (length ≥ 4) by rank.  The graph-centrality complement
    to frequency-based t_vocab_topk/t_tfidf_topk: a token ranks high
    for sitting between many strong collocations, not for raw count.

    Scale: the graph is VOCABULARY-sized (nodes = distinct tokens,
    edges = distinct bigrams), so the iterative stage is independent of
    corpus row count — the only corpus-sized work is the one bigram
    count that t_bigram_topk already prices."""
    from kp_crypto_market_analytics_spark.operators.graph import pagerank_weighted
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    d = _toks_df(spark, sf_dir).select("toks").where(F.size("toks") >= 2)
    directed = (
        d.select(
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                    lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    edges = (
        directed.unionByName(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "c")
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").alias("weight"))
    )
    pr = pagerank_weighted(edges, iters=3, damping=0.85, prec=10)
    return (
        pr.where(F.length("node") >= 4)
        .select(F.col("node").alias("token"), F.round("pr", 6).alias("rank_score"))
        .orderBy(F.desc("rank_score"), "token")
        .limit(20)
    )


def _t_textrank_sql(iters: int = 3) -> str:
    # Lockstep with pagerank_weighted: integer-exact ratios,
    # DECIMAL(28,12) contribution sums, 10dp per-iteration rounding.
    parts = [f"""
WITH norm AS (
  SELECT string_split({NORM_TEXT_SQL}, ' ') AS l FROM documents
), idx AS (
  SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM norm
), big AS (
  SELECT l[i] AS src, l[i + 1] AS dst FROM idx
), dcnt AS (
  SELECT src, dst, COUNT(*) AS c FROM big GROUP BY 1, 2
), edges AS (
  SELECT src, dst, CAST(SUM(c) AS BIGINT) AS weight FROM (
    SELECT src, dst, c FROM dcnt
    UNION ALL SELECT dst, src, c FROM dcnt
  ) GROUP BY 1, 2
), wdeg AS (
  SELECT src, CAST(SUM(weight) AS BIGINT) AS wdeg FROM edges GROUP BY 1
), er AS (
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
SELECT node AS token, round(pr, 6) AS rank_score
FROM pr{iters} WHERE length(node) >= 4
ORDER BY rank_score DESC, token LIMIT 20
""")
    return "".join(parts)


def a_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-adoption growth curves: per event type, the date each
    user FIRST performed it, rolled to daily new-user counts and a
    running cumulative — the canonical product-analytics rollup,
    computed the scale-correct way: first-seen agg on (user, type)
    (one shuffle), day-level counts, and a running sum over the tiny
    (type, day) series — the fact table never enters the window."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    first_seen = e.groupBy("user_id", "event_type").agg(
        F.min(F.to_date("ts")).alias("date")
    )
    daily = first_seen.groupBy("event_type", "date").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.select(
            "event_type",
            "date",
            "n_new_users",
            F.sum("n_new_users").over(w).alias("cum_users"),
        )
        .orderBy("event_type", "date")
    )


A_GROWTH_SQL = """
WITH fs AS (
  SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS date
  FROM events GROUP BY 1, 2
), d AS (
  SELECT event_type, date, COUNT(*) AS n_new_users FROM fs GROUP BY 1, 2
)
SELECT event_type, date, n_new_users,
  CAST(SUM(n_new_users) OVER (PARTITION BY event_type ORDER BY date
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM d ORDER BY event_type, date
"""


def a_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week, and
    for each (cohort, week-offset) cell the count of cohort members
    active that week — the retention triangle.  Both weeks are
    Monday-truncated so the day difference is an exact multiple of 7;
    all arithmetic integer-exact.

    Plan: first-seen agg (shuffle on user), distinct (user, week)
    activity (one more), then a cohort join that carries only
    (user, 2×date) — the triangle itself is tiny at any scale."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    week = F.date_trunc("week", F.col("ts")).cast("date")
    cohort = e.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = e.select("user_id", week.alias("act_week")).distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            _idiv(
                F.datediff(F.col("act_week"), F.col("cohort_week")).cast("long"),
                F.lit(7),
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


A_RETENTION_SQL = """
WITH wk AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events
), cohort AS (
  SELECT user_id, MIN(w) AS cohort_week FROM wk GROUP BY 1
), act AS (
  SELECT DISTINCT user_id, w AS act_week FROM wk
)
SELECT cohort_week,
  (act_week - cohort_week) // 7 AS week_offset,
  COUNT(*) AS n_users
FROM act JOIN cohort USING (user_id)
GROUP BY 1, 2 ORDER BY cohort_week, week_offset
"""


def a_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel view → click → purchase: a user counts at a
    step only if that event happened AFTER their qualifying time for
    the previous step (min-view < first-later-click < first-later-
    purchase).  Conversion in integer ppm of the step-1 population.

    Plan: one conditional-aggregate pass per step, each joining the
    SHRINKING qualified-user frame (broadcast once it fits) against a
    single-event-type slice with its filter pushed to the scan — at
    100 TB each step reads one predicate-pruned slice and shuffles
    only (user, ts) pairs."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])

    def slice_of(ev: str) -> DataFrame:
        return e.where(F.col("event_type") == ev).select("user_id", "ts")

    # Each qualified-user frame feeds multiple consumers (next step's
    # join + its own count, v also the conversion base): materialize
    # once or every consumer re-scans the events slice (the standing
    # multi-consumer lesson — 18 exchanges drop to 10 here).
    v = (
        slice_of("view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=True)
    )
    c = (
        slice_of("click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint(eager=True)
    )
    p = (
        slice_of("purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n")).select(F.lit("1_view").alias("step"), "n")
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n")).select(F.lit("2_click").alias("step"), "n")
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n")).select(F.lit("3_purchase").alias("step"), "n")
        )
    )
    base = v.agg(F.count(F.lit(1)).alias("n_base"))
    return (
        counts.crossJoin(F.broadcast(base))
        .select(
            "step",
            F.col("n").alias("n_users"),
            _idiv(F.col("n") * F.lit(1000000), F.col("n_base")).alias("conversion_ppm"),
        )
        .orderBy("step")
    )


A_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
), counts AS (
  SELECT '1_view' AS step, COUNT(*) AS n_users FROM v
  UNION ALL SELECT '2_click', COUNT(*) FROM c
  UNION ALL SELECT '3_purchase', COUNT(*) FROM p
), base AS (
  SELECT COUNT(*) AS n_base FROM v
)
SELECT step, n_users, (n_users * 1000000) // n_base AS conversion_ppm
FROM counts, base ORDER BY step
"""


def _unigram_logprob_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized per-doc unigram LM score (doc_id, n_tokens,
    avg_logprob) — the detector output shared by t_unigram_logprob (the
    headline score table) and t_perplexity_buckets (its banded census);
    previously both ran the full explode+vocab-join pass (r11
    optimization, the _ivf_trained_topk5 materialized-detector-output
    move).  n_tokens is integer; avg_logprob a 6-dp-rounded IEEE double
    — both round-trip the temp parquet bit-exactly."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    def build() -> DataFrame:
        toks = _toks_df(spark, sf_dir).select(
            "doc_id", F.explode("toks").alias("tok")
        )
        total = toks.groupBy().agg(F.count(F.lit(1)).alias("total"))
        vocab = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("cf"))
            .crossJoin(F.broadcast(total))
            .select(
                "tok",
                F.round(F.log(F.col("cf") / F.col("total")), 6).alias("logp"),
            )
        )
        return (
            toks.join(F.broadcast(vocab), "tok")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.round(
                    F.sum(F.col("logp").cast(DEC)).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("avg_logprob"),
            )
        )

    return session_materialized(spark, f"unigram_logprob:{sf_dir}", build)


def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: train p(w) = cf(w)/total
    on the corpus itself, score each doc by mean log-probability of its
    tokens — the classic LM-perplexity filter of training-data
    pipelines (docs far below the corpus mode are boilerplate/noise
    candidates).  Two aggregations over ONE token explode: the vocab
    (|V| rows) broadcasts back onto the token stream, so the big side
    shuffles once for the per-doc reduce and never carries text.
    log p is rounded to 6dp then decimal-summed per doc (order-free)."""
    return _unigram_logprob_df(spark, sf_dir).orderBy("doc_id")


T_UNIGRAM_SQL = f"""
WITH {TOKENS_CTE}, total AS (
  SELECT COUNT(*) AS total FROM toks
), vocab AS (
  SELECT tok, round(ln(COUNT(*) / (SELECT total FROM total)), 6) AS logp
  FROM toks GROUP BY tok
)
SELECT doc_id, COUNT(*) AS n_tokens,
  round(CAST(SUM(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
FROM toks JOIN vocab USING (tok)
GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------- ANN recall gates

# Exact brute-force top-5 pairs — the truth set both audits measure
# against (same arithmetic as queries.SIM_BRUTE_SQL; inlined here
# because the registry aggregator imports this module, not vice versa).
_BF_TRUTH_CTE = """
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round(list_cosine_similarity(q.qvec, CAST(c.embedding AS DOUBLE[])), 6) DESC,
                 c.vec_id) AS rank
    FROM (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
          FROM embeddings WHERE vec_id < 10) AS q, embeddings c
    WHERE c.vec_id <> q.query_id
  ) WHERE rank <= 5
)"""

# SLO floors (percent).  The boolean column documents the floor in the
# gated output; tests/test_ext_operators.py asserts the floor so a
# recall regression fails CI (the oracle alone recomputes recall
# identically on both engines and so cannot catch a drop).  Measured on
# the near-isotropic synthetic embeddings — IVF/PQ's worst case, as the
# sim_pq_rerank docstring notes: trained-IVF nprobe=2 recall@5 is
# 0.32-0.46 across sf0.001-0.1, PQ shortlist-100 rerank 0.66-0.90; the
# floors sit below those minima so the gate trips on regressions of the
# SEARCH PATH (banding, LUT, shortlist arithmetic), not data noise.
IVF_RECALL_FLOOR_PCT = 25
PQ_RECALL_FLOOR_PCT = 60


def _ann_recall(truth: DataFrame, ann: DataFrame, floor_pct: int) -> DataFrame:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        round_mean_micro,
    )

    truth = truth.select("query_id", "neighbor_id")
    ann = ann.select("query_id", "neighbor_id")
    hits = truth.join(ann, ["query_id", "neighbor_id"], "left_semi")
    n_true = truth.groupBy().agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = hits.groupBy().agg(F.count(F.lit(1)).alias("n_hits"))
    return n_true.crossJoin(n_hit).select(
        "n_true",
        "n_hits",
        round_mean_micro(F.col("n_hits").cast(DEC), F.col("n_true")).alias("recall"),
        (F.col("n_hits") * 100 >= F.lit(floor_pct) * F.col("n_true")).alias(
            "meets_floor"
        ),
    )


def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated recall@5 audit for the TRAINED-IVF ANN path (VERDICT r2
    next-step #7): the k-means-refined nprobe=2 cell search of
    sim_ivf_trained, measured against the exact brute-force top-5 truth
    set — same number a FAISS deployment reports as nprobe recall, but
    computed in-engine and oracle-gated like dedup_lsh_recall.  One
    row: truth pairs, hits, exact-int64 recall, and the SLO floor
    boolean (regression tripwire asserted in tests).

    Truth and detector sides are the session-materialized shared
    results (_bf_truth_topk5 / _ivf_trained_topk5): the audit reads
    the same detector output sim_ivf_trained serves."""
    truth = _bf_truth_topk5(spark, sf_dir)
    ann = _ivf_trained_topk5(spark, sf_dir)
    return _ann_recall(truth, ann, IVF_RECALL_FLOOR_PCT)


def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated recall@5 audit for the PQ+ADC rerank path: shortlist-100
    two-tier search of sim_pq_rerank vs the brute-force truth set
    (measured 0.86 in round 2 — now a gated number instead of a
    COVERAGE.md footnote).

    Truth and detector sides are the session-materialized shared
    results (_bf_truth_topk5 / _pq_rerank_topk5): the audit reads the
    same detector output sim_pq_rerank serves."""
    truth = _bf_truth_topk5(spark, sf_dir)
    ann = _pq_rerank_topk5(spark, sf_dir)
    return _ann_recall(truth, ann, PQ_RECALL_FLOOR_PCT)


def _ann_recall_sql(ann_sql: str, floor_pct: int) -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    return f"""
WITH {_BF_TRUTH_CTE},
ann AS (
  SELECT query_id, neighbor_id FROM ({ann_sql})
), counts AS (
  SELECT
    (SELECT COUNT(*) FROM truth) AS n_true,
    (SELECT COUNT(*) FROM truth t WHERE EXISTS (
       SELECT 1 FROM ann a
       WHERE a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)) AS n_hits
)
SELECT n_true, n_hits,
  {sql_round_mean_micro("CAST(n_hits AS DECIMAL(18,6))", "n_true")} AS recall,
  n_hits * 100 >= {floor_pct} * n_true AS meets_floor
FROM counts
"""


# ---------------------------------------------- skew-hardened window


def w_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened running total (VERDICT r2 next-step #5): per-type
    cumulative value over the event stream, computed by the
    split-and-merge plan (operators.windows.skew_split_cumsum) instead
    of the naive ``SUM() OVER (PARTITION BY event_type ORDER BY ts)``.

    event_type has 5 values — at 100 TB the naive window sorts ~20% of
    the table in ONE task; the split plan's widest window partitions by
    (event_type, day), so the hot key spreads across the full executor
    fleet.  The oracle IS the naive plan: exact decimal addition makes
    the two bit-identical, which is the whole point of the gate."""
    from kp_crypto_market_analytics_spark.operators.windows import skew_split_cumsum

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    res = skew_split_cumsum(
        e, "event_type", "ts", "event_id", "value", bucket_seconds=86400
    )
    return res.select(
        "event_id",
        "event_type",
        F.round(F.col("cum_value").cast("double"), 6).alias("cum_value"),
    ).orderBy("event_type", "event_id")


W_SKEW_SPLIT_SQL = """
SELECT event_id, event_type,
  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
    PARTITION BY event_type ORDER BY ts, event_id) AS DOUBLE), 6) AS cum_value
FROM events
ORDER BY event_type, event_id
"""


# ------------------------------------------------------ a_hll_distinct

_HLL_P = 10                      # 2^10 = 1024 registers
_HLL_M = 1 << _HLL_P
_HLL_MAXRANK = 60 - _HLL_P + 1   # hash64 is 60-bit; w has 50 bits
_HLL_SCALE = 1 << (_HLL_MAXRANK)  # 2^51: integer-exact register weights
# alpha_m for m=1024 — identical literal arithmetic on both engines.
_HLL_ALPHA_SQL = f"(0.7213 / (1 + 1.079 / {_HLL_M}))"


def _hll_day_regs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, idx, m) HLL register silver table over
    user_id — session-materialized (r11 optimization, guide §2.4):
    a_hll_distinct / a_hll_merge / a_hll_overlap / a_hll_stream_parity
    each re-ran the md5 register pass over the full event stream; the
    register MAX-MERGE law those queries gate means registers at the
    finest (event_type, day) grain max-merge to any coarser grouping
    BIT-EQUALLY (max is associative+commutative on integer ranks), so
    one hash pass serves all four.  All-integer columns round-trip the
    temp parquet exactly; every consumer's exact-count twin still
    scans raw events — only the sketch side is shared."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, ["events"])
        e = ensure_parallelism(t["events"]).select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.col("user_id").cast("string").alias("u"),
        )
        return _hll_registers(e, ["event_type", "day"])

    return session_materialized(spark, f"hll_day_regs:{sf_dir}", build)


def _hll_registers(e: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group..., idx, m) HLL register frame over column ``u``."""
    h = hash64(F.concat(F.col("u"), F.lit("#hll")))
    w = F.shiftright(h, _HLL_P)
    rank = F.when(w == 0, F.lit(_HLL_MAXRANK)).otherwise(
        F.lit(_HLL_MAXRANK) - F.length(F.conv(w, 10, 2))
    )
    return (
        e.select(*group_cols, F.pmod(h, F.lit(_HLL_M)).alias("idx"), rank.alias("r"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("r").alias("m"))
    )


def _hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group..., hll_est) from a register frame, integer-exact sum."""
    per = regs.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_MAXRANK} - m)")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    zeros = F.lit(_HLL_M) - F.col("n_present")
    s_total = F.col("s_present") + zeros * F.lit(_HLL_SCALE)
    raw = (
        F.expr(_HLL_ALPHA_SQL)
        * F.lit(float(_HLL_M))
        * F.lit(float(_HLL_M))
        * F.lit(float(_HLL_SCALE))
        / s_total
    )
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (zeros > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros),
    ).otherwise(raw)
    return per.select(*group_cols, F.round(est, 4).alias("hll_est"))


def a_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch per event type, bias-audited
    against the exact count (Flajolet et al. 2007; the same sketch
    behind approx_count_distinct, rebuilt from first principles so the
    DuckDB oracle reproduces it register-for-register via the portable
    md5 hash).

    Register index = low 10 hash bits; rank = leading-zero count of the
    remaining 50 bits + 1 (computed portably as 51 - bitlength, via the
    base-2 string conv — no float log2 whose ulp could differ between
    engines).  The register sum Σ2^(−M_j) is rescaled by 2^51 so it is
    an exact BIGINT on both engines — float summation order can never
    flip the estimate.  Linear-counting correction applies below 2.5m
    when empty registers remain.

    Scale shape: the sketch is a ≤1024-row-per-group aggregate with
    map-side combine — distinct-user cardinality at 100 TB without a
    per-user shuffle; the exact countDistinct twin exists here only to
    audit the sketch's error."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    # Sketch side from the shared register silver table (max-merge over
    # days is bit-equal to hashing the raw stream); the exact twin
    # still scans raw events — it is the audit, never shared.
    regs = _hll_day_regs_df(spark, sf_dir).groupBy("event_type", "idx").agg(
        F.max("m").alias("m")
    )
    exact = (
        e.groupBy("event_type")
        .agg(F.count_distinct("u").alias("exact_users"))
    )
    return (
        _hll_estimate(regs, ["event_type"])
        .join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            "hll_est",
            F.round((F.col("hll_est") - F.col("exact_users")) / F.col("exact_users"), 6).alias(
                "rel_err"
            ),
        )
        .orderBy("event_type")
    )


def _hll_sql() -> str:
    h = H60.format(x="u || '#hll'")
    return f"""
WITH e AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events
), hashed AS (
  SELECT event_type, u, {h} AS h FROM e
), parts AS (
  SELECT event_type, h % {_HLL_M} AS idx, h >> {_HLL_P} AS w FROM hashed
), regs AS (
  SELECT event_type, idx,
    MAX(CASE WHEN w = 0 THEN {_HLL_MAXRANK}
             ELSE {_HLL_MAXRANK} - length(bin(w)) END) AS m
  FROM parts GROUP BY 1, 2
), per_type AS (
  SELECT event_type,
    SUM(1::BIGINT << ({_HLL_MAXRANK} - m)) AS s_present,
    COUNT(*) AS n_present
  FROM regs GROUP BY 1
), est AS (
  SELECT event_type,
    ({_HLL_M} - n_present) AS zeros,
    {_HLL_ALPHA_SQL} * {_HLL_M}.0 * {_HLL_M}.0 * {_HLL_SCALE}.0
      / (s_present + ({_HLL_M} - n_present) * {_HLL_SCALE}::BIGINT) AS raw
  FROM per_type
), final AS (
  SELECT event_type,
    round(CASE WHEN raw <= 2.5 * {_HLL_M} AND zeros > 0
               THEN {_HLL_M}.0 * ln({_HLL_M}.0 / zeros)
               ELSE raw END, 4) AS hll_est
  FROM est
), exact AS (
  SELECT event_type, COUNT(DISTINCT u) AS exact_users FROM e GROUP BY 1
)
SELECT f.event_type, exact_users, hll_est,
  round((hll_est - exact_users) / exact_users, 6) AS rel_err
FROM final f JOIN exact USING (event_type)
ORDER BY event_type
"""


def a_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch MERGEABILITY, gated: merge the per-event-type register
    sketches (register merge = element-wise max) and prove the merged
    estimate equals the sketch built directly over the union stream.

    Mergeability is the property that makes sketches work at 100 TB —
    per-partition / per-day / per-source sketches combine with a
    1024-row max-aggregate instead of re-scanning the union, the same
    algebraic-partial-state law a_incremental_rollup gates for decimal
    sums.  merged_eq_direct is TRUE by the max-of-max identity; the
    gate (plus the pytest tripwire) pins that the IMPLEMENTATION
    preserves it."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    # Both register frames derive from the shared silver table: the
    # per-type regs max-merge over days, the direct regs over
    # (type, day) — bit-equal to hashing the raw stream either way
    # (the max-of-max identity this very query gates).
    day_regs = _hll_day_regs_df(spark, sf_dir)
    per_type = day_regs.groupBy("event_type", "idx").agg(F.max("m").alias("m"))
    merged = per_type.groupBy("idx").agg(F.max("m").alias("m"))
    direct = day_regs.groupBy("idx").agg(F.max("m").alias("m"))
    m_est = _hll_estimate(merged.select(F.lit(1).alias("g"), "idx", "m"), ["g"]).select(
        F.col("hll_est").alias("merged_est")
    )
    d_est = _hll_estimate(direct.select(F.lit(1).alias("g"), "idx", "m"), ["g"]).select(
        F.col("hll_est").alias("direct_est")
    )
    exact = e.agg(F.count_distinct("u").alias("exact_users"))
    return (
        m_est.crossJoin(d_est)
        .crossJoin(exact)
        .select(
            "exact_users",
            "merged_est",
            "direct_est",
            (F.col("merged_est") == F.col("direct_est")).alias("merged_eq_direct"),
            F.round(
                (F.col("merged_est") - F.col("exact_users")) / F.col("exact_users"), 6
            ).alias("rel_err"),
        )
    )


def _hll_merge_sql() -> str:
    h = H60.format(x="u || '#hll'")
    reg = (
        f"SELECT {{grp}} idx, MAX(CASE WHEN w = 0 THEN {_HLL_MAXRANK} "
        f"ELSE {_HLL_MAXRANK} - length(bin(w)) END) AS m FROM parts GROUP BY {{gby}}"
    )
    est = (
        f"SELECT round(CASE WHEN raw <= 2.5 * {_HLL_M} AND zeros > 0 "
        f"THEN {_HLL_M}.0 * ln({_HLL_M}.0 / zeros) ELSE raw END, 4) AS est FROM ("
        f"SELECT ({_HLL_M} - COUNT(*)) AS zeros, "
        f"{_HLL_ALPHA_SQL} * {_HLL_M}.0 * {_HLL_M}.0 * {_HLL_SCALE}.0 "
        f"/ (SUM(1::BIGINT << ({_HLL_MAXRANK} - m)) "
        f"+ ({_HLL_M} - COUNT(*)) * {_HLL_SCALE}::BIGINT) AS raw FROM {{src}})"
    )
    return f"""
WITH e AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events
), parts AS (
  SELECT event_type, {h} % {_HLL_M} AS idx, {h} >> {_HLL_P} AS w FROM e
), per_type AS (
  {reg.format(grp="event_type,", gby="1, 2")}
), merged AS (
  SELECT idx, MAX(m) AS m FROM per_type GROUP BY 1
), direct AS (
  {reg.format(grp="", gby="1")}
), m_est AS ({est.format(src="merged")}), d_est AS ({est.format(src="direct")}),
exact AS (SELECT COUNT(DISTINCT u) AS exact_users FROM e)
SELECT exact_users,
  m_est.est AS merged_est,
  d_est.est AS direct_est,
  m_est.est = d_est.est AS merged_eq_direct,
  round((m_est.est - exact_users) / exact_users, 6) AS rel_err
FROM m_est, d_est, exact
"""


def a_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types, estimated from
    the HLL sketches by inclusion-exclusion: |A∩B| ≈ est(A) + est(B) −
    est(A∪B), where est(A∪B) merges the two register sets (element-wise
    max — the same mergeability a_hll_merge gates).

    This is the sketch-algebra answer to "how many users do both X and
    Y" across all pairs WITHOUT a per-user self-join: at 100 TB the
    register sketches are built in one pass and every pairwise overlap
    is a 1024-row max-merge, vs a |users|-scale shuffle per pair for
    the exact twin (computed here only to audit the estimate)."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    # Per-type registers max-merge from the shared silver table; the
    # old localCheckpoint is gone because every consumer now re-derives
    # from the materialized parquet (a ~|types|·|days|·1024-row scan),
    # not from a repeated raw-event hash pass.
    regs = _hll_day_regs_df(spark, sf_dir).groupBy("event_type", "idx").agg(
        F.max("m").alias("m")
    )
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .crossJoin(types.select(F.col("event_type").alias("tb")))
        .where(F.col("ta") < F.col("tb"))
    )
    pair_regs = (
        F.broadcast(pairs)
        .join(
            regs,
            (F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "idx")
        .agg(F.max("m").alias("m"))
    )
    union_est = _hll_estimate(pair_regs, ["ta", "tb"]).withColumnRenamed(
        "hll_est", "est_union"
    )
    singles = _hll_estimate(regs, ["event_type"])
    exact = (
        e.distinct()
        .alias("x")
        .join(e.distinct().alias("y"), "u")
        .where(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("ta"), F.col("y.event_type").alias("tb")
        )
        .agg(F.count_distinct("u").alias("exact_overlap"))
    )
    return (
        union_est.join(
            singles.select(F.col("event_type").alias("ta"), F.col("hll_est").alias("est_a")),
            "ta",
        )
        .join(
            singles.select(F.col("event_type").alias("tb"), F.col("hll_est").alias("est_b")),
            "tb",
        )
        .join(exact, ["ta", "tb"])
        .select(
            "ta",
            "tb",
            "exact_overlap",
            "est_a",
            "est_b",
            "est_union",
            F.round((F.col("est_a") + F.col("est_b")) - F.col("est_union"), 4).alias(
                "est_overlap"
            ),
        )
        .orderBy("ta", "tb")
    )


def _hll_overlap_sql() -> str:
    h = H60.format(x="u || '#hll'")
    est = (
        f"SELECT {{grp}}, round(CASE WHEN raw <= 2.5 * {_HLL_M} AND zeros > 0 "
        f"THEN {_HLL_M}.0 * ln({_HLL_M}.0 / zeros) ELSE raw END, 4) AS est FROM ("
        f"SELECT {{grp}}, ({_HLL_M} - COUNT(*)) AS zeros, "
        f"{_HLL_ALPHA_SQL} * {_HLL_M}.0 * {_HLL_M}.0 * {_HLL_SCALE}.0 "
        f"/ (SUM(1::BIGINT << ({_HLL_MAXRANK} - m)) "
        f"+ ({_HLL_M} - COUNT(*)) * {_HLL_SCALE}::BIGINT) AS raw FROM {{src}} "
        f"GROUP BY {{grp}})"
    )
    return f"""
WITH e AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events
), parts AS (
  SELECT event_type, {h} % {_HLL_M} AS idx, {h} >> {_HLL_P} AS w FROM e
), regs AS (
  SELECT event_type, idx,
    MAX(CASE WHEN w = 0 THEN {_HLL_MAXRANK}
             ELSE {_HLL_MAXRANK} - length(bin(w)) END) AS m
  FROM parts GROUP BY 1, 2
), types AS (SELECT DISTINCT event_type FROM regs
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM types a, types b WHERE a.event_type < b.event_type
), pair_regs AS (
  SELECT p.ta, p.tb, r.idx, MAX(r.m) AS m
  FROM pairs p JOIN regs r
    ON r.event_type = p.ta OR r.event_type = p.tb
  GROUP BY 1, 2, 3
), union_est AS ({est.format(grp="ta, tb", src="pair_regs")}
), singles AS ({est.format(grp="event_type", src="regs")}
), du AS (SELECT DISTINCT event_type, u FROM e
), exact AS (
  SELECT x.event_type AS ta, y.event_type AS tb, COUNT(DISTINCT x.u) AS exact_overlap
  FROM du x JOIN du y ON x.u = y.u AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT ta, tb, exact_overlap,
  sa.est AS est_a, sb.est AS est_b, ue.est AS est_union,
  round((sa.est + sb.est) - ue.est, 4) AS est_overlap
FROM union_est ue
  JOIN singles sa ON sa.event_type = ta
  JOIN singles sb ON sb.event_type = tb
  JOIN exact USING (ta, tb)
ORDER BY ta, tb
"""


# ------------------------------------------------- a_hll_stream_parity

_HLL_STREAM_BATCHES = 3


def a_hll_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability as STREAMING state, gated: accumulate the
    register array SEQUENTIALLY over arrival-ordered micro-batches
    (state_k = max-merge(state_{k-1}, batch_k)) — the exact fold
    ``streaming.hll.distinct_users_stream`` performs across real
    micro-batches — and prove each running emission (registers AND
    estimate) equals the sketch built directly over the stream prefix.

    ``a_hll_merge`` gates one-shot mergeability; this gates the
    *incremental* form that matters for streaming state: the fold is
    left-deep and order-dependent in shape, and the gate pins that the
    implementation's sequential accumulation is lossless (true by
    max-associativity; the gate catches the implementation breaking
    it).  Micro-batches = the first 3 event days in arrival order
    (day-batched ingest, the production streaming shape); one row per
    batch mirrors the stream's per-batch emission (n_events_seen,
    running estimate).  The DuckDB oracle recomputes each PREFIX
    directly — a broken fold diverges from it.

    Scale: state is ≤1024 rows per key regardless of events seen; each
    fold round is a register-width union + max-agg, and the day-rank
    window runs over the ~tens-of-rows distinct-day frame, never the
    event stream."""
    t = load_tables(spark, sf_dir, ["events"])
    # Global window over the DISTINCT-DAY frame only (tiny by design).
    # Register side from the shared silver table (r11: the md5 pass
    # runs once per session, not once per HLL query); day set and
    # per-day register maxima derive from it bit-equally (max
    # associativity).  Only the per-bid EVENT COUNTS still touch raw
    # events — a plain count agg, no hashing.
    day_regs = _hll_day_regs_df(spark, sf_dir)
    days = day_regs.select("day").distinct()
    bids = days.select(
        "day", F.row_number().over(Window.orderBy("day")).alias("bid")
    ).where(F.col("bid") <= _HLL_STREAM_BATCHES)
    # ONE pass over the event stream (r9 bench trim): per-bid register
    # maxima and per-bid row counts are computed once; every fold
    # round then runs on the ≤(4×1024 + 4)-row partial frames.  The
    # prefix registers derived as max-of-per-bid-maxima are BIT-EQUAL
    # to registers over the raw prefix (max associativity), and the
    # DuckDB oracle still recomputes every prefix from raw rows — the
    # cross-engine gate is unweakened.
    pbr = (
        day_regs.join(F.broadcast(bids), "day")
        .groupBy("bid", "idx")
        .agg(F.max("m").alias("m"))
        .localCheckpoint(eager=True)
    )
    pbn = (
        t["events"]
        .select(F.to_date("ts").alias("day"))
        .join(F.broadcast(bids), "day")
        .groupBy("bid")
        .agg(F.count(F.lit(1)).alias("bn"))
        .localCheckpoint(eager=True)
    )

    state: DataFrame | None = None
    out: DataFrame | None = None
    for k in range(1, _HLL_STREAM_BATCHES + 1):
        batch = pbr.where(F.col("bid") == k).select("idx", "m")
        state = (
            batch
            if state is None
            else state.unionByName(batch).groupBy("idx").agg(F.max("m").alias("m"))
        )
        direct = (
            pbr.where(F.col("bid") <= k)
            .groupBy("idx")
            .agg(F.max("m").alias("m"))
        )
        s_est = _hll_estimate(
            state.select(F.lit(1).alias("g"), "idx", "m"), ["g"]
        ).select(F.col("hll_est").alias("stream_est"))
        d_est = _hll_estimate(
            direct.select(F.lit(1).alias("g"), "idx", "m"), ["g"]
        ).select(F.col("hll_est").alias("direct_est"))
        reg_cmp = (
            state.alias("s")
            .join(direct.alias("d"), "idx", "full_outer")
            .agg(
                # coalesce: SUM over a zero-row join is NULL, which
                # would NULL the regs_equal flag on a degenerate empty
                # prefix instead of reading TRUE (vacuously no
                # mismatches) — same pattern as the g_kcore empty-peel.
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("s.m").isNotNull()
                            & (F.col("s.m") == F.col("d.m")),
                            0,
                        ).otherwise(1)
                    ),
                    F.lit(0),
                ).alias("reg_mismatch")
            )
        )
        n_seen = pbn.where(F.col("bid") <= k).agg(
            F.coalesce(F.sum("bn"), F.lit(0).cast("long")).alias(
                "n_events_seen"
            )
        )
        row = (
            n_seen.crossJoin(reg_cmp)
            .crossJoin(s_est)
            .crossJoin(d_est)
            .select(
                F.lit(k).alias("batch_idx"),
                "n_events_seen",
                (F.col("reg_mismatch") == 0).alias("regs_equal"),
                "stream_est",
                "direct_est",
                (F.col("stream_est") == F.col("direct_est")).alias("est_equal"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("batch_idx")


def _hll_stream_parity_sql() -> str:
    """Oracle: each prefix computed DIRECTLY (no fold) — the engine's
    sequential accumulation must land on the same registers/estimate,
    so regs_equal/est_equal are literal TRUE here: if the engine's fold
    ever diverges, its own comparison flags flip false and the hash
    breaks."""
    h = H60.format(x="u || '#hll'")
    est = (
        f"SELECT round(CASE WHEN raw <= 2.5 * {_HLL_M} AND zeros > 0 "
        f"THEN {_HLL_M}.0 * ln({_HLL_M}.0 / zeros) ELSE raw END, 4) AS est FROM ("
        f"SELECT ({_HLL_M} - COUNT(*)) AS zeros, "
        f"{_HLL_ALPHA_SQL} * {_HLL_M}.0 * {_HLL_M}.0 * {_HLL_SCALE}.0 "
        f"/ (SUM(1::BIGINT << ({_HLL_MAXRANK} - m)) "
        f"+ ({_HLL_M} - COUNT(*)) * {_HLL_SCALE}::BIGINT) AS raw FROM {{src}})"
    )
    rows = " UNION ALL ".join(
        f"""SELECT {k} AS batch_idx,
  (SELECT COUNT(*) FROM eb WHERE bid <= {k}) AS n_events_seen,
  TRUE AS regs_equal,
  ({est.format(src=f'(SELECT idx, MAX(rank) AS m FROM parts WHERE bid <= {k} GROUP BY idx)')}) AS stream_est,
  ({est.format(src=f'(SELECT idx, MAX(rank) AS m FROM parts WHERE bid <= {k} GROUP BY idx)')}) AS direct_est,
  TRUE AS est_equal"""
        for k in range(1, _HLL_STREAM_BATCHES + 1)
    )
    return f"""
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS u FROM events
), days AS (
  SELECT day, row_number() OVER (ORDER BY day) AS bid
  FROM (SELECT DISTINCT day FROM e)
), eb AS (
  SELECT bid, u FROM e JOIN days USING (day) WHERE bid <= {_HLL_STREAM_BATCHES}
), parts AS (
  SELECT bid, h % {_HLL_M} AS idx,
    CASE WHEN (h >> {_HLL_P}) = 0 THEN {_HLL_MAXRANK}
         ELSE {_HLL_MAXRANK} - length(bin(h >> {_HLL_P})) END AS rank
  FROM (SELECT bid, {h} AS h FROM eb)
)
{rows}
ORDER BY batch_idx
"""


# ------------------------------------------------------- j_bloom_prune

_BF_BITS = 8192
_BF_HASHES = 3


def j_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join pruning, audited: build a 8192-bit /
    3-hash Bloom filter over the part keys that survive a dimension
    predicate (p_size = 1), broadcast it as a constant-size packed-long
    bitmap, pre-filter lineitem by membership, and report how many big-
    side rows the filter passed vs how many truly join — i.e. the
    false-positive cost of skipping the shuffle for non-matching rows.

    This is the manual form of what Spark's runtime row-group filtering
    (spark.sql.optimizer.runtime.bloomFilter.enabled) injects
    automatically: at 100 TB the bitmap (1 KiB here, ~MBs in prod)
    rides the broadcast to every task and prunes the fact scan BEFORE
    the join exchange, so only pass rows shuffle.  Bloom membership has
    no false negatives, so the pruned join is exactly the plain join —
    the audit row quantifies the false-positive overhead instead of
    assuming it.

    The oracle recomputes the identical filter as bucket-set membership
    (a bit array IS the set of occupied positions) from the same
    portable md5 bucket hashes."""
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    dim = t["part"].where(F.col("p_size") == 1).select(
        F.col("p_partkey"), F.col("p_partkey").cast("string").alias("k")
    )

    def buckets(col: Column) -> list[Column]:
        return [
            F.pmod(hash64(F.concat(col, F.lit(f"#bf{j}"))), F.lit(_BF_BITS))
            for j in range(_BF_HASHES)
        ]

    cells = dim.select(
        F.explode(F.array(*[b.alias("b") for b in buckets(F.col("k"))])).alias("b")
    )
    bloom = (
        cells.groupBy((F.col("b") / 64).cast("int").alias("w"))
        .agg(F.bit_or(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(b % 64 AS INT))")).alias("mask"))
        .groupBy()
        .agg(F.map_from_entries(F.collect_list(F.struct("w", "mask"))).alias("mm"))
    )
    big = ensure_parallelism(t["lineitem"]).select(
        "l_partkey", F.col("l_partkey").cast("string").alias("k")
    )
    bs = buckets(F.col("k"))
    # Membership: all three bucket bits set in the packed bitmap.
    hit_exprs = [
        F.expr(
            f"((coalesce(mm[CAST(b{j} / 64 AS INT)], CAST(0 AS BIGINT)) "
            f">> CAST(b{j} % 64 AS INT)) & 1) = 1"
        )
        for j in range(_BF_HASHES)
    ]
    probed = (
        big.crossJoin(F.broadcast(bloom))
        .select("l_partkey", "mm", *[b.alias(f"b{j}") for j, b in enumerate(bs)])
        .select(
            "l_partkey",
            (hit_exprs[0] & hit_exprs[1] & hit_exprs[2]).alias("bloom_pass"),
        )
    )
    truth = probed.join(
        F.broadcast(dim.select(F.col("p_partkey").alias("l_partkey"), F.lit(True).alias("hit"))),
        "l_partkey",
        "left",
    ).select("bloom_pass", F.coalesce(F.col("hit"), F.lit(False)).alias("hit"))
    return truth.agg(
        F.count(F.lit(1)).alias("n_big"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_true_match"),
        F.sum(F.when(F.col("bloom_pass") & ~F.col("hit"), 1).otherwise(0)).alias("n_false_pos"),
        F.round(
            F.sum(F.when(F.col("bloom_pass") & ~F.col("hit"), 1).otherwise(0))
            / F.sum(F.when(~F.col("hit"), 1).otherwise(0)),
            6,
        ).alias("fp_rate"),
    )


def _bloom_sql() -> str:
    def b(j: int, key: str = "k") -> str:
        salted = f"{key} || '#bf{j}'"
        return f"({H60.format(x=salted)} % {_BF_BITS})"

    probes = " AND ".join(
        f"{b(j)} IN (SELECT bkt FROM occ)" for j in range(_BF_HASHES)
    )
    cells = " UNION ALL ".join(
        f"SELECT {b(j)} AS bkt FROM dim" for j in range(_BF_HASHES)
    )
    return f"""
WITH dim AS (
  SELECT p_partkey, CAST(p_partkey AS VARCHAR) AS k FROM part WHERE p_size = 1
), occ AS (
  SELECT DISTINCT bkt FROM ({cells})
), big AS (
  SELECT l_partkey, CAST(l_partkey AS VARCHAR) AS k FROM lineitem
), flags AS (
  SELECT l_partkey,
    ({probes}) AS bloom_pass,
    l_partkey IN (SELECT p_partkey FROM dim) AS hit
  FROM big
)
SELECT COUNT(*) AS n_big,
  CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
  CAST(SUM(CASE WHEN bloom_pass AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
  round(SUM(CASE WHEN bloom_pass AND NOT hit THEN 1 ELSE 0 END)
    / SUM(CASE WHEN NOT hit THEN 1 ELSE 0 END), 6) AS fp_rate
FROM flags
"""


REGISTRY = (
    (t_unigram_logprob, T_UNIGRAM_SQL),
    (dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL),
    (dedup_lsh_bucket_cap, DEDUP_LSH_BUCKET_CAP_SQL),
    (dedup_semantic, _semantic_dedup_sql()),
    (dedup_clusters, DEDUP_CLUSTERS_SQL),
    (dedup_ngram_capped, DEDUP_NGRAM_CAPPED_SQL),
    (dedup_containment, _dedup_containment_sql()),
    (dedup_simhash, DEDUP_SIMHASH_SQL),
    (dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL),
    (t_fingerprint_winnow, T_WINNOW_SQL),
    (sim_lsh_topk, _lsh_sql()),
    (sim_ivf_topk, SIM_IVF_SQL),
    (sim_ivf_trained, _ivf_trained_sql()),
    (e_quantize_int8, E_QUANTIZE_SQL),
    (sim_neardup_lsh, _neardup_lsh_sql()),
    (stream_candles_5m, STREAM_CANDLES_5M_SQL),
    (mm_binary_meta, MM_BINARY_SQL),
    (mm_decode_stats, _mm_decode_sql()),
    (mm_phash_neardup, MM_PHASH_SQL),
    (mm_frame_sample, _mm_frames_sql()),
    (mm_resize_geometry, _mm_resize_sql()),
    (t_vocab_topk, T_VOCAB_SQL),
    (t_bpe_tokens, T_BPE_SQL),
    (t_tfidf_topk, T_TFIDF_SQL),
    (t_bm25_topk, _t_bm25_sql()),
    (t_rrf_fusion, _t_rrf_fusion_sql()),
    (t_ndcg_eval, _t_ndcg_eval_sql()),
    (p_pruning_sim, _p_pruning_sim_sql()),
    (p_unpivot_metrics, _p_unpivot_sql()),
    (w3_multi_horizon, W3_MULTI_SQL),
    (e3_anomaly_pipeline, E3_ANOMALY_SQL),
    (e4_large_trade_impact, E4_LARGE_SQL),
    (j2_asof_enrich, J2_ASOF_SQL),
    (j_asof_tolerance, J_ASOF_TOL_SQL),
    (j_range_windows, J_RANGE_SQL),
    (j_interval_overlap, J_INTERVAL_OVERLAP_SQL),
    (w_sessionize, W_SESSION_SQL),
    (w_session_native, W_SESSION_NATIVE_SQL),
    (a10_scalar_corr, A10_SQL),
    (o6_seeded_sample, O6_SQL),
    (a_rollup_daily, A_ROLLUP_SQL),
    (a_distinct_users, A_DISTINCT_SQL),
    (a_salted_type_stats, A_SALTED_SQL),
    (j_salted_dim, J_SALTED_SQL),
    (w_rank_family, W_RANK_SQL),
    (w_range_frame, W_RANGE_SQL),
    (a_cube_counts, A_CUBE_SQL),
    (dedup_edit_distance, DEDUP_EDIT_SQL),
    (a_moments, A_MOMENTS_SQL),
    (p_array_stats, P_ARRAY_SQL),
    (a_regression, A_REGR_SQL),
    (w_ewma_trunc, W_EWMA_SQL),
    (t_pack_sequences, T_PACK_SQL),
    (t_split_assign, T_SPLIT_SQL),
    (t_bigram_topk, T_BIGRAM_SQL),
    (t_decontaminate, T_DECON_SQL),
    (t_repetition, T_REPETITION_SQL),
    (t_source_overlap, T_SOURCE_OVERLAP_SQL),
    (t_corpus_filter, _t_corpus_filter_sql()),
    (a_grouped_quantiles, A_GROUPED_Q_SQL),
    (a_rollup_cascade, A_ROLLUP_CASCADE_SQL),
    (t_stratified_sample, T_STRATIFIED_SQL),
    (p_profile_columns, P_PROFILE_SQL),
    (a_histogram, A_HIST_SQL),
    (t_pii_scan, T_PII_SQL),
    (t_mixture_sample, T_MIX_SQL),
    (p_zorder_stats, _p_zorder_sql()),
    (p_compaction_plan, P_COMPACTION_SQL),
    (a_trimmed_stats, _a_trimmed_stats_sql()),
    (dedup_url_canon, DEDUP_URL_SQL),
    (t_weighted_sample, T_WEIGHTED_SQL),
    (a_skew_profile, A_SKEW_SQL),
    (sim_pq_topk, _pq_sql()),
    (sim_pq_rerank, _pq_rerank_sql()),
    (w_resample_ffill, W_RESAMPLE_SQL),
    (a_incremental_rollup, A_INCREMENTAL_SQL),
    (w_rolling_corr, W_ROLLING_CORR_SQL),
    (dedup_canonical, _dedup_canonical_sql()),
    (t_textrank, _t_textrank_sql()),
    (a_user_growth, A_GROWTH_SQL),
    (a_retention_cohorts, A_RETENTION_SQL),
    (a_funnel_steps, A_FUNNEL_SQL),
    (sim_ivf_recall, _ann_recall_sql(_ivf_trained_sql(), IVF_RECALL_FLOOR_PCT)),
    (sim_pq_recall, _ann_recall_sql(_pq_rerank_sql(), PQ_RECALL_FLOOR_PCT)),
    (w_skew_split, W_SKEW_SPLIT_SQL),
    (a_hll_distinct, _hll_sql()),
    (a_hll_merge, _hll_merge_sql()),
    (a_hll_overlap, _hll_overlap_sql()),
    (a_hll_stream_parity, _hll_stream_parity_sql()),
    (j_bloom_prune, _bloom_sql()),
)
