"""Warm-up probe: a workload's per-op curve in one fresh JVM.

    python3 perfbench/warmup_probe.py --workload NAME [--ops 20] [--seed 1]

Runs the workload's ops back to back from a cold session, with no warm-up,
and prints one JSON line per op: its wall time, and over the op the CPU of
the JVM and its Python workers, Spark's generated-class compiles, the JVM's
JIT ms and the host's steal share. For ``kselect_sweep`` the ops are the
``index_suite`` calls of repeated sweeps over the window's K range (each
line also carries the K and its fit time); for ``corpus_dedup`` they are
passes over fresh shards. The knee of this curve sets each workload's
warm-up (README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import Tracer, host_cpu_times, jvm_counters, jvm_pid, steal_share, tree_cpu  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def child(a) -> int:
    from worker import build_session

    w = WORKLOADS[a.workload]
    with open(a.ctx) as f:
        ctx = json.load(f)
    spark = build_session(False)
    tracer = Tracer(spark, False)
    w.install(tracer)
    jvm = jvm_pid(spark)
    last = {"t": time.monotonic(), "cpu": tree_cpu(jvm)[0], "jvm": jvm_counters(spark), "host": host_cpu_times(), "n": 0}

    def on_op(rec: dict) -> None:
        now, cpu, cnt, host = time.monotonic(), tree_cpu(jvm)[0], jvm_counters(spark), host_cpu_times()
        last["n"] += 1
        print(json.dumps({
            "op": last["n"], **{k: round(v, 3) for k, v in rec.items()},
            "since_last_op_s": round(now - last["t"], 3),
            "cpu_s": round(cpu - last["cpu"], 3),
            "codegen_compiles": cnt["codegen_compiles"] - last["jvm"]["codegen_compiles"],
            "jit_ms": round(cnt["jit_ms"] - last["jvm"]["jit_ms"]),
            "steal_share": round(steal_share(last["host"], host), 3),
        }), flush=True)
        last.update(t=now, cpu=cpu, jvm=cnt, host=host)

    w.on_op = on_op
    if a.workload == "kselect_sweep":
        while last["n"] < a.ops:
            w.window(spark, ctx, tracer)
    else:
        w.window(spark, ctx, tracer)
    tracer.uninstall()
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--ops", type=int, default=20)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ctx", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.ctx:
        return child(a)

    from run import ROOT, run_child

    w = WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"probe-{a.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        # corpus_dedup: one fresh shard per op; kselect_sweep: the window's sweep
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            run_seconds = json.load(f)["run_seconds"]
        seconds = a.ops * w.nominal_op_s if a.workload == "corpus_dedup" else run_seconds
        ctx = w.prepare(os.path.join(work, "inputs"), a.seed, seconds)
        with open(os.path.join(work, "ctx.json"), "w") as f:
            json.dump(ctx, f)
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", a.workload, "--ops", str(a.ops),
               "--ctx", os.path.join(work, "ctx.json")]
        rc = run_child(cmd, work, timeout_s=1800)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
