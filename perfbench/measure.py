"""Measurement from outside the program: ``/proc`` counters, the JVM's
management beans and Spark's ``CodegenMetrics``, Spark's status store, and a
tracer that wraps public calls.

Nothing here changes what the program computes. The tracer replaces module
attributes with timing wrappers (``Tracer.uninstall`` restores them). Traced,
it also gives every wrapped call its own Spark job group and reads the jobs
and stages of each group back from the status store after the timed
window, so those reads cost nothing inside it.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 2**20


# ---------------------------------------------------------------------------
# /proc: CPU and memory of the JVM and every process below it; host steal
# ---------------------------------------------------------------------------


def proc_stat(pid: int) -> list[str] | None:
    """Fields 3.. of ``/proc/<pid>/stat`` (state first), or None once the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens; the fields after the last ')' are fixed
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (Spark's Python daemon is forked by
    the JVM and forks the workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = proc_stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids) -> float:
    """user + system CPU of ``pids`` plus that of their reaped children: a
    Python worker that exited is charged to the daemon that reaped it."""
    total = 0
    for pid in pids:
        st = proc_stat(pid)
        if st is not None:
            # fields 14-17 of proc(5): utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def tree_cpu(jvm: int) -> tuple[float, float]:
    """(CPU of the whole tree, CPU of the processes below the JVM)."""
    tree = process_tree(jvm)
    below = cpu_seconds(tree[1:])
    return cpu_seconds(tree[:1]) + below, below


def memory_bytes(root: int) -> int:
    """Resident memory of ``root`` plus the proportional share (PSS) of each
    process below it: Spark's Python workers are forked from one daemon and
    share its pages, so summing their RSS would count those pages once per
    worker."""
    total = 0
    for pid in process_tree(root):
        try:
            if pid == root:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
        except OSError:  # ended between the listing and the read
            pass
    return total


class PeakMemory:
    """Background sampler of ``memory_bytes(root)`` that keeps the peak."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, memory_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, memory_bytes(self.root))


def host_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal (guest is inside user)
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


# ---------------------------------------------------------------------------
# JVM state: JIT, GC and Spark's code generation
# ---------------------------------------------------------------------------

# CodegenMetrics keeps compile times in a reservoir of this many samples;
# below it the reservoir holds every compile, so its sum is exact
_RESERVOIR = 1028


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_counters(spark) -> dict:
    """Cumulative JIT ms (``CompilationMXBean``: compiler threads exit, and
    their CPU leaves ``/proc`` with them), GC ms over every collector, and
    the count and summed ms of Spark's generated-class compiles."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(int(b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    snap = hist.getSnapshot()
    return {
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "gc_ms": float(gc_ms),
        "codegen_compiles": int(hist.getCount()),
        "codegen_ms_sum": float(jvm.java.util.Arrays.stream(snap.getValues()).sum()),
        "codegen_kept": int(snap.size()),
    }


def jvm_delta(before: dict, after: dict) -> dict:
    """Counters over an interval. The codegen ms are exact while the
    reservoir still holds every compile; past that, the interval's count
    times the reservoir's mean."""
    n = after["codegen_compiles"] - before["codegen_compiles"]
    if after["codegen_compiles"] <= _RESERVOIR:
        cg_ms, exact = after["codegen_ms_sum"] - before["codegen_ms_sum"], True
    else:
        cg_ms, exact = n * after["codegen_ms_sum"] / max(after["codegen_kept"], 1), False
    return {
        "jit_ms": after["jit_ms"] - before["jit_ms"],
        "gc_ms": after["gc_ms"] - before["gc_ms"],
        "codegen_compiles": n,
        "codegen_ms": cg_ms,
        "codegen_ms_exact": exact,
    }


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _empty_stats() -> dict:
    return dict(jobs=0, tasks=0, run_s=0.0, cpu_s=0.0, shuffle_write_b=0, input_b=0, skew=[])


def group_stats(spark, group: str) -> dict:
    """Jobs of a job group with their stages' executor counters summed, and
    each stage's task skew (slowest over mean task run time: with two tasks
    a stage's median task is its slowest)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = _empty_stats()
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if st.numCompleteTasks() == 0:
                continue
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1000.0
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_b"] += st.shuffleWriteBytes()
            out["input_b"] += st.inputBytes()
            slowest = _slowest_task_ms(spark, store, sid, st.attemptId()) if st.numCompleteTasks() >= 2 else 0.0
            if slowest > 0:
                out["skew"].append(slowest * st.numCompleteTasks() / st.executorRunTime())
    return out


def _slowest_task_ms(spark, store, sid: int, attempt: int) -> float:
    gw = spark.sparkContext._gateway
    qs = gw.new_array(gw.jvm.double, 1)
    qs[0] = 1.0
    summary = store.taskSummary(sid, attempt, qs)
    return summary.get().executorRunTime().apply(0) if summary.isDefined() else 0.0


def storage_bytes(spark) -> int:
    """Memory plus disk held by persisted RDDs and cached frames."""
    return sum(int(i.memSize()) + int(i.diskSize()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def plan_ms(df) -> float:
    """Catalyst's analysis, optimization and planning ms of an executed
    frame (``QueryPlanningTracker`` phases)."""
    it = df._jdf.queryExecution().tracker().phases().valuesIterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next().durationMs())
    return total


# ---------------------------------------------------------------------------
# Tracer
# ---------------------------------------------------------------------------

# A span's phase: ``construct`` for work a call does before its result
# frame is returned, ``exec`` for executing a result frame. Spans of any
# other kind take the phase of the span around them.
PHASE_OF_KIND = {"construct": "construct", "exec": "exec"}


class Tracer:
    """Spans around public calls.

    Untraced, a span only records its start and end: the end-to-end
    metrics need the op boundaries. Traced, each span also runs its jobs
    under a job group of its own, and span boundaries sample the persisted
    storage and the program's driver collects."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object, bool]] = []
        self._seq = 0
        self.t0 = time.monotonic()
        self.cache_peak = 0
        self.collects: list[int] = []
        self.plan_ms = 0.0
        # seconds the traced bookkeeping itself took inside the window
        self.overhead_s = 0.0
        self._stats: dict[str, dict] = {}

    def reset(self) -> None:
        """Forget what was recorded so far (the warm-up's spans)."""
        assert not self._stack, "reset inside a span"
        self.spans.clear()
        self.collects.clear()
        self.plan_ms = 0.0
        self.overhead_s = 0.0
        self.cache_peak = 0
        self._stats.clear()

    # -- spans --------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    def open(self, name: str, kind: str = "call") -> dict:
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        span = dict(
            name=name, kind=kind, group=f"pb{self._seq}:{name}",
            parent=parent["group"] if parent else None,
            phase=PHASE_OF_KIND.get(kind, parent["phase"] if parent else "exec"),
            start=time.monotonic() - self.t0, end=None,
        )
        self.spans.append(span)
        self._stack.append(span)
        if self.traced:
            t = time.monotonic()
            self._set_group(span)
            self.cache_peak = max(self.cache_peak, storage_bytes(self.spark))
            self.overhead_s += time.monotonic() - t
        return span

    def close(self, span: dict) -> dict:
        assert self._stack and self._stack[-1] is span, f"span {span['name']} closed out of order"
        self._stack.pop()
        span["end"] = time.monotonic() - self.t0
        if self.traced:
            t = time.monotonic()
            self.cache_peak = max(self.cache_peak, storage_bytes(self.spark))
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.monotonic() - t
        return span

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call"):
        s = self.open(name, kind)
        try:
            yield s
        finally:
            self.close(s)

    def execute(self, name: str, df) -> list:
        """Collect a result frame under an ``exec`` span."""
        with self.span(name, "exec"):
            rows = df.collect()
        self.add_plan(df)
        return rows

    def add_plan(self, df) -> None:
        """Count an executed result frame's Catalyst time (traced only)."""
        if self.traced:
            t = time.monotonic()
            self.plan_ms += plan_ms(df)
            self.overhead_s += time.monotonic() - t

    # -- wrapping public calls ---------------------------------------------

    def patch(self, owner, attr: str, new) -> None:
        had = attr in vars(owner)
        self._patches.append((owner, attr, getattr(owner, attr), had))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Traced only: replace ``owner.attr`` with a wrapper that runs it
        inside a span."""
        if not self.traced:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        self.patch(owner, attr, wrapper)

    def wrap_loads(self) -> None:
        """Fixture scans (each with its parquet schema-inference job). Every
        operator module imports ``load_table`` by name, so each alias is
        patched."""
        if not self.traced:
            return
        import sys

        from clusterindices_spark.sources import fixtures

        orig = fixtures.load_table
        self.wrap(fixtures, "load_table", "sources.load")
        wrapper = fixtures.load_table
        for modname, mod in list(sys.modules.items()):
            if modname.startswith("clusterindices_spark.") and mod is not fixtures and vars(mod).get("load_table") is orig:
                self.patch(mod, "load_table", wrapper)

    def wrap_collects(self) -> None:
        """Count the collects the program makes while building a result
        (probe cells, hot cells, centroids), with their rows."""
        if not self.traced:
            return
        from pyspark.sql.classic.dataframe import DataFrame

        orig = DataFrame.collect
        tracer = self

        def collect(df_self):
            rows = orig(df_self)
            if tracer._stack and tracer._stack[-1]["phase"] == "construct":
                tracer.collects.append(len(rows))
            return rows

        self.patch(DataFrame, "collect", collect)

    def uninstall(self) -> None:
        for owner, attr, orig, had in reversed(self._patches):
            if had:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()
        if self.traced:
            self._set_group(None)

    # -- after the timed window --------------------------------------------

    def stats(self, spans) -> dict:
        """Status-store figures summed over the job groups of ``spans``."""
        tot = _empty_stats()
        for s in spans:
            if s["group"] not in self._stats:
                self._stats[s["group"]] = group_stats(self.spark, s["group"])
            for k, v in self._stats[s["group"]].items():
                tot[k] = tot[k] + v
        return tot

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_seconds(self) -> dict[str, float]:
        """group -> the span's duration minus the part its child spans
        cover."""
        child: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["group"]: s["end"] - s["start"] - child.get(s["group"], 0.0) for s in self.spans}

    def dump(self) -> list[dict]:
        self_s = self.self_seconds()
        keep = ("name", "kind", "phase", "group", "parent", "start", "end")
        return [{**{k: s[k] for k in keep}, "self_s": self_s[s["group"]]} for s in self.spans]


def wall(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quartile_spread(xs) -> float:
    """Distance between the first and third quartiles."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]
