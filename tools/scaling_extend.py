"""Extend the scaling curve one step past the largest driver fixture.

The committed curve (tools/scaling_curve.py) stops at sf0.1 — the
largest on-disk testdata — so its 0.01→0.1 decade is the only measured
growth step.  This tool synthesizes a 4× corpus FROM sf0.1 (the driver
fixtures stay untouched) and re-times the worst-ratio queries on it,
catching any superlinear term the measured decade hides.

Synthesis preserves the statistical structure that drives each
query's cost, without inflating cross-copy duplicate density:

- documents ×4: each extra copy shifts doc_id and applies a
  copy-specific letter rotation to the text (every shingle/word
  changes ⇒ no cross-copy near-dups; each copy reproduces the
  corpus's INTERNAL dup/boilerplate structure exactly).
- embeddings ×4: each extra copy shifts vec_id and flips the sign of
  a copy-specific subset of dimensions — an isometry, so intra-copy
  cosine structure is bit-identical to the original corpus while
  cross-copy cosines scatter to ~0 (no phantom near-dup pairs).
- events ×4: each extra copy shifts event_id/user_id and advances ts
  by the span of the original window (per-day density and per-user
  cardinality shapes are preserved; the time range and user universe
  grow with the corpus, as they would in production).

Queries that consume only these tables can be timed honestly; TPC-H
queries are excluded (their FK-consistent synthesis belongs to the
driver's generator, not this tool).

Usage:
  python tools/scaling_extend.py synth [out_dir]      # build sf0.4 corpus
  python tools/scaling_extend.py run [out_dir] [json] # time worst queries
  python tools/scaling_extend.py stress [out_dir] [json]
      # r10 (VERDICT r9 ask #4): 10x corpus, near-flag queries only —
      # separates fixed-cost amortization from genuine superlinearity
      # (at 4x a 2s query with 1s fixed cost reads as 1.75x/"flag-
      # adjacent"; at 10x the same query reads as ~3.25x vs the 10x
      # data ratio, unambiguously sublinear)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_DIR = "/root/repo/testdata_synth/sf0.4"
DEFAULT_OUT = "/root/repo/SCALING_CURVE_EXT_r10.json"
SRC = "/root/testdata/sf0.1"
COPIES = 4
STRESS_COPIES = 10
STRESS_DIR = "/root/repo/testdata_synth/sf1.0"
STRESS_OUT = "/root/repo/SCALING_STRESS_r10.json"

# r9 near-flag entries (SCALING_CURVE_EXT_r09: 1.80x / 1.59x / 1.49x
# per 4x data) re-measured at 10x to adjudicate amortization vs
# superlinearity.
STRESS_QUERIES = [
    "dedup_clusters",
    "dedup_minhash_sig",
    "dedup_semantic",
]
DATA_RATIO = float(COPIES)
MIN_HI_SEC = 2.0
FLAG_FACTOR = 1.5

# Round 10: the CURRENT slowest benched queries (round-10 min-of-2
# sweep) restricted to the synthesizable tables, plus the round-10
# structural additions whose growth law must be measured (the
# streaming-LSH fold, the per-row sorted-array Hampel window, the
# 4th-moment sums, the CDC position explode).  Excluded with reasons:
# a_bootstrap_ci / p_pruning_sim (orders/lineitem — FK-consistent
# TPC-H synthesis belongs to the driver's generator, not this tool).
WORST_QUERIES = [
    "t_corpus_pipeline",            # 5.9s, documents (8 stages, r10 +stage 8)
    "dedup_lsh_stream_parity",      # 4.9s, documents (r10 streaming LSH fold)
    "dedup_ngram_jaccard_sampled",  # 4.7s, documents (eval-tier tracker)
    "dedup_clusters",               # 4.0s, documents
    "sim_pq_rerank",                # 3.7s, embeddings
    "t_naive_bayes",                # 3.6s, documents
    "dedup_minhash_sig",            # 3.3s, documents
    "dedup_semantic",               # 3.3s, embeddings
    "t_ndcg_eval",                  # 3.1s, documents + embeddings
    "a_hll_stream_parity",          # 3.1s, events
    "a_hurst_exponent",             # 3.1s, events
    # r10 structural additions whose growth law must be measured:
    "w_hampel_filter",              # events: per-row sorted 25-array
    "w_rolling_skewkurt",           # events: 4th-moment window sums
    "t_cdc_chunking",               # documents: per-position hash explode
]

# Round-11 third wave: the structurally new queries on synthesizable
# tables (documents/embeddings/events — g_wcc/g_katz/g_harmonic read
# lineitem, which this tool does not synthesize).  Growth laws to
# check: cumulative-series fits, per-hour CDF walks, rank-prefix
# jackknife, brute-force probe slices, bigram explode.
WAVE3_QUERIES = [
    "t_heaps_law",          # documents: 2x range-partitioned cumsum
    "t_collocation_pmi",    # documents: adjacent-bigram explode
    "t_burstiness",         # documents: (tok, doc) agg
    "a_pr_auc",             # documents: global rank + cum fold
    "e_lid",                # embeddings: bounded probe x corpus
    "e_triplet_violations", # embeddings: bounded anchors x corpus
    "a_fdr_bh",             # events: 24 hour-partitioned CDF walks
    "a_jackknife_gini",     # events: rank prefix-sum replicates
    "a_wasserstein_1d",     # events: merged-support walk
    "ti_tsi",               # events: four EMA lag chains
]
WAVE3_OUT = "/root/repo/SCALING_CURVE_EXT_r11.json"

ID_STRIDE = 100_000_000


def synth(out_dir: str, copies: int = COPIES) -> None:
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    def copies_sql(per_copy_select: str) -> str:
        return " UNION ALL ".join(
            per_copy_select.format(c=c) for c in range(copies)
        )

    # documents: letter rotation per copy c (c=0 is the original).
    # translate() source/target alphabets rotated by 7*c keep
    # case/digits/punct/whitespace untouched — token boundaries,
    # lengths, and repetition structure survive verbatim.
    alpha = "abcdefghijklmnopqrstuvwxyz"
    doc_selects = []
    for c in range(copies):
        if c == 0:
            t = "text"
        else:
            rot = alpha[7 * c % 26:] + alpha[: 7 * c % 26]
            t = (
                f"translate(text, '{alpha}{alpha.upper()}', "
                f"'{rot}{rot.upper()}')"
            )
        doc_selects.append(
            f"SELECT doc_id + {c * ID_STRIDE} AS doc_id, {t} AS text, "
            f"lang, source, n_chars FROM src"
        )
    con.execute(
        f"""COPY (WITH src AS (SELECT * FROM '{SRC}/documents.parquet')
        {' UNION ALL '.join(doc_selects)})
        TO '{out_dir}/documents.parquet' (FORMAT PARQUET)"""
    )

    # embeddings: per-copy sign flip of dimensions where
    # (dim + copy) % 4 == 0 — an isometry (norms and intra-copy
    # angles preserved exactly); copy 0 is the original.
    emb_selects = []
    for c in range(copies):
        if c == 0:
            e = "embedding"
        else:
            e = (
                "list_transform(embedding, (x, i) -> "
                f"CASE WHEN (i + {c}) % 4 = 0 THEN -x ELSE x END)"
            )
        emb_selects.append(
            f"SELECT vec_id + {c * ID_STRIDE} AS vec_id, "
            f"CAST({e} AS FLOAT[]) AS embedding, label FROM src"
        )
    con.execute(
        f"""COPY (WITH src AS (SELECT * FROM '{SRC}/embeddings.parquet')
        {' UNION ALL '.join(emb_selects)})
        TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)"""
    )

    # events: shift ids and advance ts by c * (span + 1 day).
    con.execute(
        f"""COPY (WITH src AS (SELECT * FROM '{SRC}/events.parquet'),
        span AS (SELECT CAST(date_diff('day', MIN(ts), MAX(ts)) + 1 AS BIGINT) AS d FROM src)
        {copies_sql(
            "SELECT event_id + {c} * " + str(ID_STRIDE) + " AS event_id, "
            "ts + INTERVAL ({c} * (SELECT d FROM span)) DAY AS ts, "
            "user_id + {c} * " + str(ID_STRIDE) + " AS user_id, "
            "event_type, value, props FROM src"
        )})
        TO '{out_dir}/events.parquet' (FORMAT PARQUET)"""
    )
    for t in ("documents", "embeddings", "events"):
        n = con.execute(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
        print(f"# synth {t}: {n} rows")


def run(
    sf_dir: str,
    out_json: str,
    queries: list[str] | None = None,
    data_ratio: float = DATA_RATIO,
    hi_tag: str = "0.4synth",
) -> None:
    import gc

    from bench import _bench_session, _time_query

    queries = WORST_QUERIES if queries is None else queries
    times: dict[str, dict[str, float]] = {}
    for tag, d in (("0.1", SRC), (hi_tag, sf_dir)):
        spark = _bench_session()
        for name in queries:
            sec = _time_query(spark, name, d)
            times.setdefault(name, {})[tag] = sec
            print(f"# sf{tag} {name}: {sec:.3f}s", file=sys.stderr)
            spark.catalog.clearCache()
            gc.collect()
        spark.stop()

    report, flagged = {}, []
    for name, t in times.items():
        ratio = round(t[hi_tag] / t["0.1"], 2) if t.get("0.1") else None
        superlinear = (
            ratio is not None
            and t[hi_tag] >= MIN_HI_SEC
            and ratio > FLAG_FACTOR * data_ratio
        )
        report[name] = {**{k: round(v, 3) for k, v in t.items()},
                        f"ratio_{hi_tag}_over_0.1": ratio,
                        "superlinear": superlinear}
        if superlinear:
            flagged.append(name)
    out = {
        "metric": "scaling_curve_extension",
        "data_ratio": data_ratio,
        "flag_rule": f"ratio > {FLAG_FACTOR} * data_ratio and t_hi >= {MIN_HI_SEC}s",
        "synth": f"{int(data_ratio)}x sf0.1 documents/embeddings/events (tools/scaling_extend.py)",
        "queries": report,
        "flagged": flagged,
    }
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"flagged": flagged, "written": out_json}))


INGEST_OUT = "/root/repo/SCALING_INGEST_r11.json"


def ingest_stress(sf_dir: str, out_json: str) -> None:
    """r11 (VERDICT r10 ask #6): measure the streaming-LSH ingest
    core's per-trigger scale claim (streaming/dedup_lsh.py —
    O(batch × bucket-mates), linear in batch size, NOT in store size)
    instead of arguing it.  Two axes over the 10x synth corpus's
    production 64-hash signature table:

    - batch axis: a 1x batch vs a 10x batch, both probing the SAME
      full-corpus store — per-trigger cost should grow ~linearly with
      batch size (ratio vs data_ratio=10, same flag rule as run()).
    - store axis: the SAME 1x batch probing a 1x store vs the 10x
      store — cost should grow far SLOWER than store size (only the
      batch's bucket-mates grow), the claim that makes continuous
      ingest viable at 100 TB.

    Batches/stores are deterministic doc_id slices: 'batch' = every
    3rd doc (the dedup_lsh_stream_parity convention), '1x' = copy 0 of
    the synth corpus (doc_id < ID_STRIDE).
    """
    import gc

    from pyspark.sql import functions as F

    from bench import _bench_session
    from kp_crypto_market_analytics_spark.queries_ext import (
        _LSH_BANDS,
        _LSH_BUCKET_CAP,
        _LSH_NUM_HASHES,
        _minhash_sigs,
    )
    from kp_crypto_market_analytics_spark.streaming.dedup_lsh import (
        lsh_ingest_pairs,
    )

    spark = _bench_session()
    sigs = _minhash_sigs(spark, sf_dir).localCheckpoint(eager=True)
    is_batch = F.col("doc_id") % 3 == 0
    is_copy0 = F.col("doc_id") < ID_STRIDE

    cases = {
        # (new side, old side)
        "batch_1x_store_10x": (is_batch & is_copy0, ~(is_batch & is_copy0)),
        "batch_10x_store_10x": (is_batch, ~is_batch),
        "batch_1x_store_1x": (is_batch & is_copy0, ~is_batch & is_copy0),
    }
    timings: dict[str, dict] = {}
    # warm the plan once on the smallest case so per-case times measure
    # the probe, not first-call codegen
    warm_new, warm_old = cases["batch_1x_store_1x"]
    lsh_ingest_pairs(
        sigs.where(warm_new), sigs.where(warm_old),
        num_hashes=_LSH_NUM_HASHES, bands=_LSH_BANDS,
        max_bucket_size=_LSH_BUCKET_CAP,
    ).count()
    spark.catalog.clearCache()
    for name, (new_pred, old_pred) in cases.items():
        new_sigs = sigs.where(new_pred)
        old_sigs = sigs.where(old_pred)
        secs = []
        for _ in range(3):  # min-of-3: single warm passes drift ±40%
            t0 = time.time()
            n_pairs = lsh_ingest_pairs(
                new_sigs,
                old_sigs,
                num_hashes=_LSH_NUM_HASHES,
                bands=_LSH_BANDS,
                max_bucket_size=_LSH_BUCKET_CAP,
            ).count()
            secs.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            gc.collect()
        timings[name] = {
            "sec": min(secs),
            "runs": secs,
            "pairs": n_pairs,
            "batch_rows": new_sigs.count(),
            "store_rows": old_sigs.count(),
        }
        print(
            f"# ingest {name}: min {min(secs):.3f}s of {secs} "
            f"({n_pairs} pairs)",
            file=sys.stderr,
        )

    ratio = FLAG_FACTOR
    batch_ratio = round(
        timings["batch_10x_store_10x"]["sec"]
        / timings["batch_1x_store_10x"]["sec"],
        2,
    )
    store_ratio = round(
        timings["batch_1x_store_10x"]["sec"]
        / timings["batch_1x_store_1x"]["sec"],
        2,
    )
    out = {
        "metric": "lsh_ingest_scaling",
        "synth": f"{STRESS_COPIES}x sf0.1 documents (tools/scaling_extend.py), production 64x16 star-capped detector",
        "cases": timings,
        "batch_axis": {
            "data_ratio": 10.0,
            "ratio": batch_ratio,
            "flag_rule": f"ratio > {ratio} * 10",
            "superlinear": batch_ratio > ratio * 10.0,
            "claim": "per-trigger cost linear in batch size at fixed store",
        },
        "store_axis": {
            "data_ratio": 10.0,
            "ratio": store_ratio,
            "flag_rule": f"ratio > {ratio} * 10 would mean cost tracks store size — the claim is it must NOT",
            "superlinear": store_ratio > ratio * 10.0,
            "claim": "per-trigger cost grows only with the batch's bucket-mates, far sublinear in store size",
        },
    }
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({
        "batch_ratio": batch_ratio, "store_ratio": store_ratio,
        "written": out_json,
    }))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    d = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_DIR
    if mode == "synth":
        synth(d)
    elif mode == "run":
        run(d, sys.argv[3] if len(sys.argv) > 3 else DEFAULT_OUT)
    elif mode == "stress":
        d = sys.argv[2] if len(sys.argv) > 2 else STRESS_DIR
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            synth(d, copies=STRESS_COPIES)
        run(
            d,
            sys.argv[3] if len(sys.argv) > 3 else STRESS_OUT,
            queries=STRESS_QUERIES,
            data_ratio=float(STRESS_COPIES),
            hi_tag="1.0synth",
        )
    elif mode == "wave3":
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            synth(d)
        run(
            d,
            sys.argv[3] if len(sys.argv) > 3 else WAVE3_OUT,
            queries=WAVE3_QUERIES,
        )
    elif mode == "ingest-stress":
        d = sys.argv[2] if len(sys.argv) > 2 else STRESS_DIR
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            synth(d, copies=STRESS_COPIES)
        ingest_stress(d, sys.argv[3] if len(sys.argv) > 3 else INGEST_OUT)
    else:
        raise SystemExit(f"unknown mode {mode}")
