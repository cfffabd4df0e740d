"""One benchmark run in a fresh process: start the session, warm up, run the
timed window, check every result, and write the run's result to ``--out``.

Started by ``run.py`` with the inputs already generated and the environment
it needs; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import (  # noqa: E402
    MB,
    PeakMemory,
    Tracer,
    host_cpu_times,
    jvm_counters,
    jvm_delta,
    jvm_pid,
    median,
    quartile_spread,
    steal_share,
    tree_cpu,
    wall,
)
from workloads import WORKLOADS  # noqa: E402

# Layer metrics every traced run reports, whatever the workload; the
# workloads add their own (``Workload.LAYERS``).
GENERIC_LAYERS = (
    "sources.loads", "sources.load_s", "sources.schema_jobs", "construct.s", "construct.jobs",
    "catalyst.plan_ms", "codegen.compiles", "codegen.compile_ms", "jvm.jit_ms", "jvm.gc_ms",
    "exec.jobs", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.shuffle_write_mb", "exec.input_mb",
    "exec.task_skew", "pyworker.cpu_s", "driver.collects", "driver.collect_rows", "cache.peak_mb",
    "host.steal_share",
)
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "op_p50_s": "s", "build_s": "s", "peak_rss_mb": "MB",
    "quality": "ratio",
}


def task_threads() -> int:
    """Spark's task threads: two, and never more than the host's cores.
    Two of four leave cores for the JIT and GC threads, the Python
    workers and the driver process, which run beside the tasks."""
    return max(1, min(2, os.cpu_count() or 1))


def build_session(traced: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{task_threads()}]")
        .appName("perfbench")
        # file placement: everything inside the run's directory
        .config("spark.local.dir", os.path.abspath("spark-local"))
        .config("spark.sql.warehouse.dir", os.path.abspath("spark-warehouse"))
        # as the package's own session builder (session.get_spark) sets it:
        # one shuffle partition per task thread. With Spark's default of 200,
        # a warm corpus_dedup pass over a 2 000-document shard measured
        # 27-40 s instead of 13 s
        .config("spark.sql.shuffle.partitions", str(task_threads()))
        # no web UI: a run opens no port (the status store this benchmark
        # reads is kept either way), and no progress bar on stderr
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if traced:
        # keep every job, stage and task of the run for the reads after
        # the window (the defaults drop the oldest past 1 000 stages)
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
            b = b.config(k, "100000")
        b = b.config("spark.ui.retainedTasks", "1000000")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def layer_metrics(tracer: Tracer, w, ctx: dict, res: dict, n_ops: int, pyworker_s: float, jvm: dict, steal: float) -> dict:
    spans = tracer.spans
    self_s = tracer.self_seconds()
    construct = [s for s in spans if s["phase"] == "construct"]
    loads = tracer.named("sources.load")
    every = tracer.stats(spans)
    k = max(n_ops, 1)
    out = {
        "sources.loads": len(loads) / k,
        "sources.load_s": wall(loads) / k,
        "sources.schema_jobs": tracer.stats(loads)["jobs"] / k,
        "construct.s": sum(self_s[s["group"]] for s in construct) / k,
        "construct.jobs": tracer.stats(construct)["jobs"] / k,
        "catalyst.plan_ms": tracer.plan_ms / k,
        "codegen.compiles": jvm["codegen_compiles"] / k,
        "codegen.compile_ms": jvm["codegen_ms"] / k,
        "jvm.jit_ms": jvm["jit_ms"] / k,
        "jvm.gc_ms": jvm["gc_ms"] / k,
        "exec.jobs": every["jobs"] / k,
        "exec.tasks": every["tasks"] / k,
        "exec.run_s": every["run_s"] / k,
        "exec.cpu_s": every["cpu_s"] / k,
        "exec.shuffle_write_mb": every["shuffle_write_b"] / MB / k,
        "exec.input_mb": every["input_b"] / MB / k,
        "exec.task_skew": median(every["skew"]),
        "pyworker.cpu_s": pyworker_s / k,
        "driver.collects": len(tracer.collects) / k,
        "driver.collect_rows": sum(tracer.collects) / k,
        "cache.peak_mb": tracer.cache_peak / MB,
        "host.steal_share": steal,
    }
    # a layer this workload does not run reads 0
    out.update({n: 0.0 for other in WORKLOADS.values() for n in other.LAYERS})
    out.update(w.layers(tracer, ctx, res))
    assert set(out) == set(GENERIC_LAYERS) | {n for other in WORKLOADS.values() for n in other.LAYERS}
    return out


def warm_verdict(ops: list[float]) -> dict:
    """Is the window past warm-up? The median of the first third of the
    ops must lie within the run's own op spread (quartile distance) of the
    median of the last third. Fewer than three ops cannot show it: the
    verdict is then None, and the warm-up rests on the probe's curve."""
    if len(ops) < 3:
        return {"past_warmup": None}
    third = len(ops) // 3
    first, last = median(ops[:third]), median(ops[-third:])
    spread = quartile_spread(ops)
    return {"first_third_s": first, "last_third_s": last, "op_spread_s": spread, "past_warmup": abs(first - last) <= spread}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--ctx", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--launched", type=float, required=True, help="CLOCK_MONOTONIC when run.py started this process")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    # progress on stderr, one line per op, warm-up included
    w.on_op = lambda rec: print(json.dumps({"op_done": rec, "t": time.monotonic() - a.launched}), file=sys.stderr, flush=True)
    traced = bool(a.trace)
    with open(a.ctx) as f:
        ctx = json.load(f)

    host0 = host_cpu_times()
    spark = build_session(traced)
    session_s = time.monotonic() - a.launched
    tracer = Tracer(spark, traced)
    w.install(tracer)
    tracer.wrap_loads()
    tracer.wrap_collects()
    jvm = jvm_pid(spark)
    jvm0 = jvm_counters(spark)
    w.warm(spark, ctx, tracer)
    setup_s = time.monotonic() - a.launched

    # the window: only its own spans, collects and plan times count
    tracer.reset()
    host1, jvm1 = host_cpu_times(), jvm_counters(spark)
    cpu0, py0 = tree_cpu(jvm)
    with PeakMemory(jvm) as mem:
        with tracer.span("window", "exec") as win:
            res = w.window(spark, ctx, tracer)
    cpu1, py1 = tree_cpu(jvm)
    host2, jvm2 = host_cpu_times(), jvm_counters(spark)

    failed, errors, quality = w.check(res, ctx)
    ops = res["ops"]
    window_jvm = jvm_delta(jvm1, jvm2)
    steal = steal_share(host1, host2)
    layers = layer_metrics(tracer, w, ctx, res, len(ops), py1 - py0, window_jvm, steal) if traced else {}
    spans = tracer.dump() if traced else []
    tracer.uninstall()
    spark.stop()

    e2e = {
        "setup_s": setup_s,
        "wall_s": win["end"] - win["start"],
        "cpu_s": cpu1 - cpu0,
        "op_p50_s": median(ops),
        "build_s": res["build_s"],
        "peak_rss_mb": mem.peak / MB,
        "quality": quality,
    }
    assert set(e2e) == set(END_TO_END)
    result = {
        "correct": not any(failed),
        "attempted": len(failed),
        "failed": sum(failed),
        "end_to_end": e2e,
        "per_layer": layers,
        "details": {
            "workload": a.workload,
            "traced": traced,
            "task_threads": task_threads(),
            "session_s": session_s,
            "ops": len(ops),
            "op_s": ops,
            "build_s": res["builds"],
            **warm_verdict(ops),
            "host": {"setup_steal_share": steal_share(host0, host1), "window_steal_share": steal},
            "jvm_warmup": jvm_delta(jvm0, jvm1),
            "jvm_window": window_jvm,
            "pyworker_cpu_s": py1 - py0,
            # traced runs: the tracer's own work inside the window
            "trace_overhead_s": tracer.overhead_s,
            "trace_overhead_share": tracer.overhead_s / (win["end"] - win["start"]),
            "errors": errors[:20],
        },
        "spans": spans,
    }
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
