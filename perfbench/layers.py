"""The traced run: per-layer metrics and the tracing overhead.

One process runs the op sequence three times, each on a freshly built
warehouse: untraced, which gives the Spark status-store counters, the bytes
written and the baseline op time; traced, with every layer boundary
wrapped (see ``trace.py``), which gives the span times; and untraced again,
for the overhead. Time metrics are in ms per op of the type named by the
suffix; a type the workload does not run reads 0, as does a layer its ops
do not call.
"""

from __future__ import annotations

import bisect
import time
from collections import defaultdict

KINDS = ("range", "tail", "adj", "scan", "insert")
READS = ("range", "tail", "adj", "scan")

# span name -> metric name, for span times summed per op
_SPAN_MS = {
    "client.request": "client.request_ms",
    "client.decode": "client.decode_ms",
    "wire_bson.dumps": "wire_bson.dumps_ms",
    "wire_bson.loads": "wire_bson.loads_ms",
    "wire_packed.pack": "wire_packed.pack_ms",
    "wire_packed.unpack": "wire_packed.unpack_ms",
    "dialect.resolve": "dialect.resolve_ms",
    "engine.execute": "engine.execute_ms",
}
_READ_SPAN_MS = {"table.read_plan": "table.read_plan_ms", "spark.collect": "spark.collect_ms"}
_SPARK = {
    "jobs": "spark.jobs_per_op",
    "stages": "spark.stages_per_op",
    "tasks": "spark.tasks_per_op",
    "executorRunTime": "spark.executor_run_ms_per_op",
    "executorCpuTime": "spark.executor_cpu_ms_per_op",
    "inputBytes": "spark.input_bytes_per_op",
    "shuffleBytes": "spark.shuffle_bytes_per_op",
}


def _jobs_by_op(jobs: list[dict], recs: list[dict], end_s: float) -> dict[int, list[dict]]:
    """Give each Spark job to the op that was running when it was
    submitted: ops run one at a time, so that op submitted it."""
    starts = [int(r["start"] * 1e3) for r in recs]
    out = defaultdict(list)
    for j in jobs:
        if j["submitted_ms"] < starts[0] or j["submitted_ms"] > end_s * 1e3:
            continue
        out[bisect.bisect_right(starts, j["submitted_ms"]) - 1].append(j)
    return out


def spark_metrics(recs, jobs, end_s, gc_ms) -> dict[str, float]:
    by_op = _jobs_by_op(jobs, recs, end_s)
    out = {}
    for kind in READS:
        idx = [i for i, r in enumerate(recs) if r["kind"] == kind]
        n = len(idx) or 1
        tot = defaultdict(float)
        for i in idx:
            for j in by_op.get(i, ()):
                tot["jobs"] += 1
                tot["stages"] += j["stages"]
                tot["tasks"] += j["tasks"]
                tot["executorRunTime"] += j["executorRunTime"]
                tot["executorCpuTime"] += j["executorCpuTime"] / 1e6  # ns -> ms
                tot["inputBytes"] += j["inputBytes"]
                tot["inputRecords"] += j["inputRecords"]
                tot["shuffleBytes"] += j["shuffleReadBytes"] + j["shuffleWriteBytes"]
        for key, name in _SPARK.items():
            out[f"{name}.{kind}"] = tot[key] / n
        returned = sum(recs[i]["rows"] for i in idx)
        out[f"spark.rows_read_per_row_returned.{kind}"] = (
            tot["inputRecords"] / returned if returned else 0.0
        )
    out["spark.gc_ms_per_op"] = gc_ms / len(recs)
    return out


def span_metrics(tracer, recs) -> dict[str, float]:
    self_ms = tracer.self_ms()
    by_op = tracer.op_spans()
    ms = defaultdict(float)
    n_kind = defaultdict(int)
    parse_calls = parse_ms = 0.0
    log_commits, reads = 0, 0
    for i, r in enumerate(recs):
        kind = r["kind"]
        n_kind[kind] += 1
        handle_t0 = dispatch_t0 = None
        for s in by_op.get(i, ()):
            name, t0, t1, _, _, count = s
            dur = (t1 - t0) * 1e3
            if name in _SPAN_MS:
                ms[f"{_SPAN_MS[name]}.{kind}"] += dur
            if name in _READ_SPAN_MS and kind in READS:
                ms[f"{_READ_SPAN_MS[name]}.{kind}"] += dur
            if name == "engine.execute":
                ms[f"engine.self_ms.{kind}"] += self_ms[id(s)]
            elif name == "server.handle":
                ms[f"server.handle_self_ms.{kind}"] += self_ms[id(s)]
                handle_t0 = t0
            elif name == "server.dispatch":
                dispatch_t0 = t0
            elif name == "wire.send":
                ms[f"wire.bytes_per_op.{kind}"] += count
            elif name == "table.append":
                ms["table.append_ms.insert"] += dur
            elif name == "adj.plan":
                ms["adj.plan_ms.adj"] += dur
            elif name == "dialect.parse":
                parse_calls += 1
                parse_ms += dur
            elif name == "table.read_plan":
                log_commits += count
                reads += 1
        if handle_t0 is not None and dispatch_t0 is not None:
            ms[f"server.queue_wait_ms.{kind}"] += (handle_t0 - dispatch_t0) * 1e3
    names = [f"{m}.{k}" for m in (*_SPAN_MS.values(), "engine.self_ms",
                                  "server.handle_self_ms", "server.queue_wait_ms",
                                  "wire.bytes_per_op") for k in KINDS]
    names += [f"{m}.{k}" for m in _READ_SPAN_MS.values() for k in READS]
    names += ["table.append_ms.insert", "adj.plan_ms.adj"]
    out = {n: ms[n] / (n_kind[n.rsplit(".", 1)[1]] or 1) for n in names}
    out["dialect.parse_calls_per_op"] = parse_calls / len(recs)
    out["dialect.parse_ms"] = parse_ms / len(recs)
    out["table.log_commits_per_read"] = log_commits / (reads or 1)
    out["table.compact_ms"] = sum(
        (s[2] - s[1]) * 1e3 for s in tracer.spans if s[0] == "table.compact"
    )
    return out


def traced(spark, wl, seed, ops, model, warehouse, corrupt_every, spans_path, builds):
    """Run the op sequence untraced, traced, then untraced again, each on a
    fresh build; returns (metrics, records). The first untraced loop runs
    on the last of ``builds`` builds, as in the end-to-end run, and gives
    the Spark counters. A later loop in a process runs on a warmer JVM, so
    the overhead compares the traced loop with the mean of the two
    untraced loops around it."""
    from perfbench import probes, trace
    from perfbench.workloads import build, run_loop

    env, _ = build(spark, wl, model, warehouse, seed, builds)
    written0 = env.ledger.written
    gc0 = probes.jvm_gc_ms(spark)
    recs, _ = run_loop(env, ops, corrupt_every=corrupt_every)
    end_s = time.time()
    gc_ms = probes.jvm_gc_ms(spark) - gc0
    written = env.ledger.written - written0
    env.close()
    metrics = spark_metrics(recs, probes.spark_jobs(spark), end_s, gc_ms)
    metrics["table.bytes_written"] = float(written)

    tracer = trace.Tracer()
    trace.install(tracer, spark)
    env, _ = build(spark, wl, model, warehouse, seed, 1)
    t_recs, _ = run_loop(env, ops, tracer=tracer, corrupt_every=corrupt_every)
    env.close()
    tracer.uninstall()
    tracer.dump(spans_path)
    metrics.update(span_metrics(tracer, t_recs))

    env, _ = build(spark, wl, model, warehouse, seed, 1)
    after, _ = run_loop(env, ops, corrupt_every=corrupt_every)
    env.close()
    untraced = (sum(r["ms"] for r in recs) + sum(r["ms"] for r in after)) / 2
    metrics["trace.overhead_pct"] = (sum(r["ms"] for r in t_recs) / untraced - 1) * 100
    return metrics, recs + t_recs + after
