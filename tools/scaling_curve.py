"""Empirical scaling curve: time every bench query at several scale
factors in one warm session each, and flag superlinear growth.

SCALING.md argues each family's plan scales; this tool MEASURES it.
The signal is the ratio t(sf_hi) / t(sf_lo) against the data ratio:
a linear operator's ratio is <= the data ratio (usually far below it,
because fixed per-query overhead dominates small SFs); a quadratic
one's ratio exceeds it.  Small-SF times are overhead-dominated
(~0.1-0.5 s floor), so the flag only fires when the high-SF time is
also large enough to matter (>= MIN_HI_SEC) — a 0.2 s -> 3 s jump is
overhead noise, a 2 s -> 40 s jump is a scaling bug.

Usage: python tools/scaling_curve.py [out.json]
Writes one JSON object: per-query times at each SF, the growth ratio
over the top decade, and the flagged list (empty == every benched
query scales at-worst-linearly over the measured range).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
]
DATA_RATIO = 10.0   # between consecutive SFs
MIN_HI_SEC = 2.0    # ignore ratios whose high-SF time is overhead-scale
FLAG_FACTOR = 1.5   # superlinear = ratio > FLAG_FACTOR * DATA_RATIO


def main() -> None:
    import gc

    from bench import BENCH_QUERIES, _bench_session, _time_query

    times: dict[str, dict[str, float]] = {name: {} for name in BENCH_QUERIES}
    for sf, sf_dir in SF_DIRS:
        spark = _bench_session()
        for name in BENCH_QUERIES:
            sec = _time_query(spark, name, sf_dir)
            times[name][sf] = sec
            print(f"# sf{sf} {name}: {sec:.3f}s", file=sys.stderr)
            spark.catalog.clearCache()
            gc.collect()
        spark.stop()

    report = {}
    flagged = []
    lo, hi = SF_DIRS[-2][0], SF_DIRS[-1][0]
    for name, t in times.items():
        ratio = round(t[hi] / t[lo], 2) if t.get(lo) else None
        superlinear = (
            ratio is not None
            and t[hi] >= MIN_HI_SEC
            and ratio > FLAG_FACTOR * DATA_RATIO
        )
        if superlinear:
            flagged.append(name)
        report[name] = {**t, f"ratio_{hi}_over_{lo}": ratio, "superlinear": superlinear}

    out = {
        "metric": "scaling_curve",
        "data_ratio_per_step": DATA_RATIO,
        "flag_rule": f"t({hi}) >= {MIN_HI_SEC}s and ratio > {FLAG_FACTOR} * data_ratio",
        "flagged": flagged,
        "queries": report,
    }
    path = sys.argv[1] if len(sys.argv) > 1 else "SCALING_CURVE.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {path}; flagged: {flagged or 'none'}")


if __name__ == "__main__":
    main()
