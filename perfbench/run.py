"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed`` with
NumPy in this process, before any timing. The run itself happens in a fresh
worker process (``worker.py``), and so in a fresh JVM, inside a new
directory under ``.perfbench_work/``. That process gets ``PYTHONPATH`` at
the checkout, so Spark's Python workers can import ``clusterindices_spark``
for the ``mapInArrow`` and ``applyInPandas`` kernels, and
``OMP_NUM_THREADS`` / ``OPENBLAS_NUM_THREADS`` pinned to 1. When it ends,
every process left in its session is killed by pid and reaped, and the
directory is removed.

The last line of standard output is the result: ``correct``,
``attempted``, ``failed`` and ``metrics``, the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0`` and its ``per_layer`` metrics with
``--trace 1``. The run's details (per-op times, warm-up verdict, host
steal, JIT, GC and codegen counters) go to standard error as one JSON
line, and to ``.perfbench_out/<workload>-seed<N>-trace<T>.json`` with the
spans of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKER_TIMEOUT_S = 165
THREAD_ENV = {"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1"}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id (field 6 of ``/proc/<pid>/stat``) is
    ``sid``. Spark's Python daemon moves to a process group of its own, but
    it stays in the session."""
    from measure import proc_stat

    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = proc_stat(int(name))
            # st[0] is the state (Z: ended, not yet reaped), st[3] the session
            if st is not None and int(st[3]) == sid and st[0] != "Z":
                pids.append(int(name))
    return pids


def end_session(sid: int, grace_s: float) -> None:
    """Let the session's processes exit on their own for ``grace_s``, then
    kill each by pid, until none is left."""
    deadline = time.monotonic() + grace_s
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    while pids := session_pids(sid):
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        return fail(f"unknown workload {a.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "clusterindices_spark", "__init__.py")):
        return fail("clusterindices_spark is not in this checkout; nothing to measure")

    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        ctx = WORKLOADS[a.workload].prepare(os.path.join(work, "inputs"), a.seed, a.seconds)
        with open(os.path.join(work, "ctx.json"), "w") as f:
            json.dump(ctx, f)
        return measure_run(a, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def child_env(work: str) -> dict:
    """The environment of a process that starts Spark for this benchmark."""
    env = dict(os.environ, **THREAD_ENV)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher too: temp files in the run's
    # directory, and no hsperfdata file under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def run_child(cmd: list[str], work: str, timeout_s: float, stdout=None) -> int | None:
    """Run ``cmd`` in a session of its own inside ``work``, then end every
    process of that session. Returns its exit code, None on a timeout."""
    proc = subprocess.Popen(cmd, cwd=work, env=child_env(work), stdout=stdout, start_new_session=True)

    def stop(signum, _frame):
        # stopped from outside: take the child's whole session with us
        end_session(proc.pid, grace_s=0)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        rc = None
    end_session(proc.pid, grace_s=0 if rc is None else 15)
    proc.wait()
    return rc


def measure_run(a, spec: dict, work: str) -> int:
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
        "--ctx", os.path.join(work, "ctx.json"), "--trace", str(a.trace),
        "--launched", repr(time.monotonic()), "--out", out,
    ]
    # the worker's chatter goes to our stderr: our stdout ends with the result
    rc = run_child(cmd, work, WORKER_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.isfile(out):
        return fail(f"worker ended with {'a timeout' if rc is None else f'code {rc}'}")
    with open(out) as f:
        res = json.load(f)

    details = dict(res["details"], seed=a.seed, end_to_end=res["end_to_end"], per_layer=res["per_layer"])
    print(json.dumps(details), file=sys.stderr)
    dump_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(dump_dir, exist_ok=True)
    with open(os.path.join(dump_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(dict(details, spans=res["spans"]), f, indent=1)

    if a.trace:
        chosen, values = spec["per_layer"], res["per_layer"]
    else:
        chosen, values = spec["end_to_end"], res["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
