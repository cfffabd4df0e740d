"""Tracing overhead: traced minus untraced ``wall_s`` and ``cpu_s``, per
workload.

    python3 perfbench/overhead.py [--seeds 1 2 3]

For every workload and seed, runs ``run.py`` untraced and then traced on
the same inputs, and prints one JSON line per workload: the median of each
mode, their difference, and the median of the traced runs' own bookkeeping
time (``trace_overhead_s`` in the run details).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (w["name"] for w in spec["workloads"]):
        # alternate the modes seed by seed, so host drift hits both alike
        pairs = [(_run(w, s, spec["run_seconds"], 0), _run(w, s, spec["run_seconds"], 1)) for s in a.seeds]
        out = {"workload": w, "seeds": a.seeds}
        for m in ("wall_s", "cpu_s"):
            plain = statistics.median(p["end_to_end"][m] for p, _ in pairs)
            traced = statistics.median(t["end_to_end"][m] for _, t in pairs)
            out[m] = {"untraced": plain, "traced": traced, "overhead_share": (traced - plain) / plain}
        out["bookkeeping_s"] = statistics.median(t["trace_overhead_s"] for _, t in pairs)
        out["steal"] = [[p["host"]["window_steal_share"], t["host"]["window_steal_share"]] for p, t in pairs]
        print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
