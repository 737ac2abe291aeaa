"""Tick benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` is a separate run that reports the per-layer
metrics and its own tracing overhead. ``--corrupt N`` damages every N-th
reply before it is checked, to show that wrong results count as failed.
The metric names and units are those of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _start_spark():
    """A Spark session whose scratch files stay under the work directory."""
    from opentick_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no JVM perf-data files under /tmp, from the launcher JVM or Spark's own
    no_perf = "-XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} {no_perf}"
    cpus = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} {no_perf}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            # the per-op Spark counters need every job of the run kept
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    # close py4j's side first, so the JVM's exit resets no open connection
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_to_end(recs, cpu_s, setup_s, env) -> dict[str, float]:
    from perfbench import probes
    from perfbench.model import ROW_BYTES

    # per op type, never pooled; every type has at least 20 ops
    p50 = {
        kind: statistics.median(r["ms"] for r in recs if r["kind"] == kind)
        for kind in dict.fromkeys(r["kind"] for r in recs)
    }
    op_s = sum(r["ms"] for r in recs) / 1e3
    return {
        "setup_s": setup_s,
        "ops_per_s": len(recs) / op_s,
        "p50_ms": statistics.fmean(p50.values()),
        "slowest_p50_ms": max(p50.values()),
        "cpu_ms_per_op": cpu_s * 1e3 / len(recs),
        "peak_rss_mb": probes.tree_peak_rss_mb(),
        "write_amp": env.ledger.written / (ROW_BYTES * env.rows_ingested),
        "space_amp": env.ledger.on_disk() / (ROW_BYTES * env.live_rows),
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, default=0, metavar="N")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "opentick_spark")) or not os.path.isfile(spec_path):
        _fail("run from the repository root (opentick_spark/ and BENCHMARK.json not found)")
    sys.path.insert(0, ROOT)
    from perfbench import layers, probes
    from perfbench.workloads import WORKLOADS, build, run_loop

    wl = WORKLOADS.get(args.workload) or _fail(f"unknown workload {args.workload!r}")
    with open(spec_path) as f:
        spec = json.load(f)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")

    rounds = wl.n_rounds(args.seconds)
    ops = wl.ops(args.seed, rounds)
    model = wl.model(args.seed, rounds)
    spark = _start_spark()
    try:
        spark_ready_s = probes.process_age_s()
        wh = os.path.join(WORK, "warehouse")
        if args.trace:
            spans = os.path.join(WORK, f"spans-{wl.name}-{args.seed}.jsonl")
            metrics, recs = layers.traced(
                spark, wl, args.seed, ops, model, wh, args.corrupt, spans,
                SETUP_REPS,
            )
            declared = spec["per_layer"]
        else:
            env, setups = build(spark, wl, model, wh, args.seed, SETUP_REPS)
            print(f"perfbench: spark ready {spark_ready_s:.2f} s, set-ups "
                  + ", ".join(f"{t:.2f}" for t in setups) + " s", file=sys.stderr)
            recs, cpu_s = run_loop(env, ops, corrupt_every=args.corrupt)
            metrics = end_to_end(recs, cpu_s, spark_ready_s + statistics.median(setups), env)
            env.close()
            declared = spec["end_to_end"]
    finally:
        _stop_spark(spark)
    names = {m["name"]: m["unit"] for m in declared}
    if set(names) != set(metrics):
        _fail(f"metrics {sorted(set(metrics) ^ set(names))} differ from BENCHMARK.json")
    failed = sum(not r["ok"] for r in recs)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": names[k]} for k in names},
    }))


if __name__ == "__main__":
    main()
