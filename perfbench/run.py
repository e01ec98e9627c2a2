"""Benchmark command: one workload, one seed, one process.

    python3 perfbench/run.py --workload registry_small --seed 1 --seconds 28 --trace 0

Generates the workload's inputs from the seed in a temp directory inside
the checkout and computes the oracle answers.  Then it starts Spark
(local[4], the engine's default exact configuration) and runs an untimed
prime pass that executes every operation once in the cold JVM and
checks its outputs; it is the run's warm-up.  ``setup_s`` is the
process's one set-up: launching the JVM, starting the session and the
prime pass.  Timed passes over the workload follow in the same session
while the next one should end within ``--seconds``; ``wall_s`` is the
time of a typical pass, the sum over operations of each one's median
latency.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` traces one
pass and prints the per-layer metrics: each layer's self time and
counts, plus ``trace.overhead_s``, the time the pass spent only because
it was traced.  ``catalyst.plan_s`` is a separate probe that plans each
query on its DataFrame's own query execution; the timed write plans it
again, so ``exec.action_s`` holds that planning too.  Comparing its
``wall_s`` (in the detail file) with that of an untraced run with the
same seed shows the overhead end to end; the traced pass is the first
timed pass, which runs somewhat slower than a typical one.

Stdout ends with one short summary row and one JSON line; per-operation
and per-layer detail goes to ``perfbench/_run/<workload>-s<seed>-t<trace>.json``.
An operation fails if its output is wrong or it raises, in the prime
pass or in any timed pass.  Every file the run creates outside that
directory is removed, and every process it starts has ended before it
prints.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(HERE, "_run")
CPUS = "4"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "retained_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "operators.python_bytes_sent": "B",
    "operators.python_bytes_received": "B",
    "operators.python_run_s": "s",
    "materialize.builds": "count",
    "sources.read_s": "s",
    "sources.rows_in": "count",
    "sources.rows_dropped": "count",
    "upsert.merge_s": "s",
    "upsert.bytes_written": "B",
    "upsert.files_written": "count",
    "upsert.write_amp": "ratio",
    "analytics.features_s": "s",
    "analytics.fanout_s": "s",
    "artifacts.write_s": "s",
    "figures.write_s": "s",
    "trace.overhead_s": "s",
}


def _isolate(tmp: str) -> None:
    """Point every temp, spill and metastore path of this process, the
    JVM and the Python workers into ``tmp``."""
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=CPUS,
        TZ="UTC",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    time.tzset()
    tempfile.tempdir = tmp
    os.chdir(tmp)


def _start(app: str):
    from kp_crypto_market_analytics_spark.session import get_spark

    spark = get_spark(app, extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    out = subprocess.run(["ps", "-e", "-o", "pid=,ppid="], capture_output=True, text=True).stdout
    children: dict[int, list[int]] = {}
    for line in out.split("\n"):
        if line.strip():
            p, pp = map(int, line.split())
            children.setdefault(pp, []).append(p)
    found, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ", 1)[1][0] != "Z"
    except (FileNotFoundError, IndexError):
        return False


def _shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    others = _descendants(proc.pid) if proc else []
    others += [p for p in _descendants(os.getpid()) if proc is None or p != proc.pid]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in others:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def failures(passes, prime_errors: dict[str, str | None]) -> dict[str, str]:
    """The first error of every operation that failed in the prime pass
    or in any timed pass, by operation name."""
    out = {name: e for name, e in prime_errors.items() if e}
    for p in passes:
        for o in p.ops:
            if o.error:
                out.setdefault(o.name, o.error)
    return out


def run(workload_name: str, seed: int, seconds: float, trace: bool, tmp: str) -> tuple[dict, dict]:
    from perfbench import stats, workloads
    from perfbench.trace import Tracer, jvm_live_heap_mb, proc_status_mb

    wl = workloads.make(workload_name)
    t = time.perf_counter()
    wl.prepare(tmp, seed)
    prepare_s = time.perf_counter() - t

    # Set-up: launch the JVM and start the session, then the prime pass,
    # which runs every operation once in the cold JVM and checks its
    # outputs.  The timed passes follow in the same session.
    t0 = time.perf_counter()
    spark = _start(f"perfbench-{workload_name}")
    t1 = time.perf_counter()
    prime_errors = wl.prime(spark)
    setup = {"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    tracer = Tracer(enabled=trace)
    passes = []
    measured = 0.0
    # Another pass starts only if it should end within ``seconds``, so a
    # slow host shortens the run by a pass instead of lengthening it.
    while not passes or (not trace and measured + passes[-1].wall_s <= seconds):
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()  # start every pass from a collected heap
        passes.append(wl.run_pass(spark, tracer))
        wl.check(passes[-1])
        wl.finish(spark, tracer)
        measured += passes[-1].wall_s
    retained = proc_status_mb("self", "VmRSS") + jvm_live_heap_mb(spark)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss = proc_status_mb("self", "VmHWM") + proc_status_mb(jvm_pid, "VmHWM")
    _shutdown(spark)

    failed = failures(passes, prime_errors)
    attempted = len({o.name for p in passes for o in p.ops} | set(prime_errors))
    latencies = [
        o.latency_s for p in passes for o in p.ops if o.sampled and o.latency_s is not None and not o.error
    ]
    tail = stats.tail_percentile(len(latencies))
    end_to_end = {
        "setup_s": setup["start_s"] + setup["warmup_s"],
        "wall_s": stats.typical_pass_s([[o.latency_s for o in p.ops] for p in passes]),
        "retained_mb": retained,
    }
    layers = {k: 0.0 for k in PER_LAYER}
    layers["session.start_s"] = setup["start_s"]
    layers["session.warmup_s"] = setup["warmup_s"]
    layers.update(tracer.layer_self_times())
    layers.update(tracer.counts)

    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": (
            {k: _metric(layers[k], u) for k, u in PER_LAYER.items()}
            if trace
            else {k: _metric(end_to_end[k], u) for k, u in END_TO_END.items()}
        ),
    }
    detail = {
        "workload": workload_name,
        "seed": seed,
        "trace": trace,
        "sizes": wl.sizes(),
        "prepare_s": prepare_s,
        "peak_rss_mb": peak_rss,
        "setup": setup,
        "failed": failed,
        "end_to_end": end_to_end,
        "per_layer": layers,
        "samples": len(latencies),
        "op_p50_s": statistics.median(latencies) if latencies else None,
        "tail_percentile": tail,
        "tail_s": stats.percentile(latencies, tail) if tail else None,
        "passes": [
            {"wall_s": p.wall_s, **p.extra,
             "ops": [{"name": o.name, "latency_s": o.latency_s, "error": o.error, **o.detail} for o in p.ops]}
            for p in passes
        ],
        "spans": tracer.dump(),
    }
    return result, detail


def _num(value: float | None, digits: int = 3) -> str:
    return "nan" if value is None else f"{value:.{digits}f}"


def summary_row(result: dict, detail: dict, detail_path: str) -> str:
    e = detail["end_to_end"]
    p0 = detail["passes"][0]
    extra = ""
    if "report_s" in p0:
        extra = f" report_s={_num(p0['report_s'])} ingest_rows_per_s={_num(p0['ingest_rows_per_s'], 0)}"
    tail = (
        f" p{detail['tail_percentile']:.0f}={detail['tail_s']:.3f}s"
        if detail["tail_percentile"] and detail["tail_percentile"] > 50
        else ""
    )
    row = (
        f"{detail['workload']} seed={detail['seed']} trace={int(detail['trace'])}: "
        f"{result['attempted'] - result['failed']}/{result['attempted']} ok "
        f"failed_frac={result['failed'] / result['attempted']:.3f} "
        f"wall_s={e['wall_s']:.3f} op_p50_s={_num(detail['op_p50_s'])} (n={detail['samples']}){tail} "
        f"setup_s={e['setup_s']:.3f} retained_mb={e['retained_mb']:.0f} "
        f"peak_rss_mb={detail['peak_rss_mb']:.0f}{extra}"
    )
    if detail["trace"]:
        row += f" trace.overhead_s={detail['per_layer']['trace.overhead_s']:.3f}"
    if detail["failed"]:
        row += " FAILED: " + "; ".join(f"{n}: {e[:80]}" for n, e in list(detail["failed"].items())[:3])
    return row[:1000] + f"\ndetail: {os.path.relpath(detail_path, ROOT)}"


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import kp_crypto_market_analytics_spark.queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        return 2

    # A terminated run still removes its temp directory and stops Spark.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(RUN_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=RUN_DIR)
    cwd = os.getcwd()
    real_stdout = sys.stdout
    sys.stdout = sys.stderr  # only the summary and the result go to stdout
    try:
        _isolate(tmp)
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    finally:
        sys.stdout = real_stdout
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
    path = os.path.join(RUN_DIR, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(summary_row(result, detail, path))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
