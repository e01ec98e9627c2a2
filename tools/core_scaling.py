"""Strong-scaling evidence at meaningful volume (r12, VERDICT r11 ask #8).

The 8c/32c ratios at sf0.1 are job-dispatch latency-bound and say
nothing about whether the plans can use cores.  This tool times the
top-10 most expensive synthesizable-table queries on the 4x synth
corpus (tools/scaling_extend.py synth) under the CURRENT
$SPARK_GRAFT_CPUS, so two invocations (8 and 32) yield a per-query
core-ratio table: a compute-bound plan should approach the 4x core
ratio, a latency-bound one sits near 1x and is identified as such.

Usage:
  python tools/core_scaling.py paired [synth_dir] [out.json]
      # one process, sessions alternate 32c/8c/32c/8c so both core
      # counts sample the same sandbox-throughput window (this box
      # drifts 2-7x between sessions — unpaired runs measured one
      # query at 0.64x "speedup" from 4x cores on pure window skew)
  SPARK_GRAFT_CPUS=N python tools/core_scaling.py [synth_dir] [out.json]
      # single-config record (appends/replaces that cpus entry)

Each record is {"cpus": N, "times": {...}}, min-of-2 per query with
the shared materializations cleared between passes so every pass
prices its own builds (same honesty rule as bench.py --repeat).
"""

from __future__ import annotations

import gc
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_DIR = "/root/repo/testdata_synth/sf0.4"
DEFAULT_OUT = "/root/repo/CORE_SCALING_r12.json"

# Top-10 most expensive benched queries restricted to the synthesizable
# tables (documents/embeddings/events) per the r12 baseline sweep;
# TPC-H readers (p_pruning_sim, g_wcc, q_abc_pareto...) are excluded —
# FK-consistent synthesis belongs to the driver's generator.
QUERIES = [
    "dedup_minhash_sig",
    "dedup_semantic",
    "dedup_ngram_jaccard_sampled",
    "sim_pq_rerank",
    "sim_pq_topk",
    "t_corpus_pipeline",
    "t_mg_stream_parity",
    "t_naive_bayes",
    "dedup_lsh_recall",
    "dedup_lsh_bucket_cap",
]


def _one_pass(sf_dir: str, cpus: int, rep: int, times: dict) -> None:
    from bench import _bench_session, _time_query
    from kp_crypto_market_analytics_spark.operators.materialize import (
        clear_session_materializations,
    )

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    spark = _bench_session()
    clear_session_materializations(spark)
    spark.catalog.clearCache()
    for name in QUERIES:
        sec = _time_query(spark, name, sf_dir)
        t = times.setdefault(cpus, {})
        t[name] = min(t.get(name, float("inf")), sec)
        print(f"# cpus={cpus} rep={rep} {name}: {sec:.3f}s", file=sys.stderr)
        spark.catalog.clearCache()
        gc.collect()
    clear_session_materializations(spark)
    spark.stop()


def _write(out_json: str, sf_dir: str, times: dict, method: str) -> None:
    records = []
    if os.path.exists(out_json):
        with open(out_json) as f:
            records = json.load(f)
    for cpus, t in times.items():
        records = [r for r in records if r.get("cpus") != cpus]
        records.append(
            {
                "metric": "core_scaling_4x_synth",
                "cpus": cpus,
                "sf_dir": sf_dir,
                "method": method,
                "times": {k: round(v, 3) for k, v in t.items()},
            }
        )
    with open(out_json, "w") as f:
        json.dump(records, f, indent=1)
    print(json.dumps({"cpus": sorted(times), "written": out_json}))


def main() -> None:
    args = sys.argv[1:]
    paired = bool(args) and args[0] == "paired"
    if paired:
        args = args[1:]
    sf_dir = args[0] if len(args) > 0 else DEFAULT_DIR
    out_json = args[1] if len(args) > 1 else DEFAULT_OUT

    times: dict[int, dict[str, float]] = {}
    if paired:
        # Sessions alternate core counts so both sample the same
        # throughput window; fresh JVM per (cpus, rep) so neither
        # config inherits the other's warmed code paths.
        for rep in range(2):
            for cpus in (32, 8):
                _one_pass(sf_dir, cpus, rep, times)
        method = (
            "paired min-of-2 (sessions alternate 32c/8c), "
            "materializations cleared between passes"
        )
    else:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        for rep in range(2):
            _one_pass(sf_dir, cpus, rep, times)
        method = "min-of-2, materializations cleared between passes"
    _write(out_json, sf_dir, times, method)


if __name__ == "__main__":
    main()
