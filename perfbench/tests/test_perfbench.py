"""Tests of the benchmark itself: seeded generators, result checks, the
agreement between what the benchmark prints and ``BENCHMARK.json``, and
process hygiene.

Spark-free and fast:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _digest(d) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest() for f in sorted(os.listdir(d))}


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

GENERATORS = {
    "blobs": lambda d, s: gen.gen_blobs(d, s, 400, 8, 4),
    "shard": lambda d, s: gen.gen_shard(d, s, 0, 300, 200, 128),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_is_deterministic(tmp_path, name):
    g = GENERATORS[name]
    t1, t2, t3 = g(str(tmp_path / "a"), 7), g(str(tmp_path / "b"), 7), g(str(tmp_path / "c"), 8)
    assert t1 == t2
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_shards_differ_by_number(tmp_path):
    gen.gen_shard(str(tmp_path / "a"), 7, 0, 300, 200, 128)
    gen.gen_shard(str(tmp_path / "b"), 7, 1, 300, 200, 128)
    assert _digest(tmp_path / "a") != _digest(tmp_path / "b")


def test_shard_plants_what_its_truth_says(tmp_path):
    truth = gen.gen_shard(str(tmp_path), 3, 0, 500, 400, 128)
    text = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert len(text) == truth["n_docs"] == 500
    for a, b in truth["exact_groups"]:
        assert text[a] == text[b]
    for a, b in truth["near_pairs"]:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) == 1
    # nothing else collides by chance
    assert len(set(text)) == len(text) - len(truth["exact_groups"])

    x = gen.read_vectors(str(tmp_path / "embeddings.parquet")).astype(np.float64)
    assert x.shape == (truth["n_vecs"], 128)
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    for a, b in truth["semantic_pairs"]:
        assert unit[a] @ unit[b] > 0.9
    # the exact cosine graph is the planted twins and nothing else
    assert sorted(map(tuple, truth["exact_edges"])) == sorted((min(a, b), max(a, b)) for a, b in truth["semantic_pairs"])


def test_blobs_are_separated(tmp_path):
    gen.gen_blobs(str(tmp_path), 5, 800, 8, 4)
    lab = np.array(pq.read_table(tmp_path / "embeddings.parquet").column("label").to_pylist())
    x = gen.read_vectors(str(tmp_path / "embeddings.parquet"))
    cents = np.array([x[lab == k].mean(0) for k in range(4)])
    spread = max(np.linalg.norm(x[lab == k] - cents[k], axis=1).max() for k in range(4))
    gap = min(np.linalg.norm(cents[i] - cents[j]) for i in range(4) for j in range(i + 1, 4))
    assert gap > 2 * spread


# ---------------------------------------------------------------------------
# checks accept the right answer and reject corrupted ones
# ---------------------------------------------------------------------------

SWEEP = [(2, 900.0), (3, 400.0), (4, 100.0), (5, 95.0)]
PICKS = {"bd_silhouette": 4, "bd_dunn": 4, "davies_bouldin": 4, "wssse_elbow": 4}
ROW = {"k": 4, "bd_silhouette": 0.8, "bd_dunn": 1.5, "davies_bouldin": 0.3, "wssse": 100.0}


def test_kselect_checks():
    ks = [2, 3, 4, 5]
    assert checks.check_kselect(SWEEP, PICKS, 4, ks) == []
    assert checks.kselect_quality(PICKS, 4) == 1.0
    for idx in checks.KSELECT_GATED_INDICES:
        assert checks.check_kselect(SWEEP, {**PICKS, idx: 3}, 4, ks)  # wrong K
        assert checks.kselect_quality({**PICKS, idx: 3}, 4) == pytest.approx(2 / 3)
    assert checks.check_kselect(SWEEP, {**PICKS, "wssse_elbow": None}, 4, ks)
    assert checks.check_kselect([(2, 900.0), (3, 400.0), (4, 420.0), (5, 95.0)], PICKS, 4, ks)  # WSSSE rose
    assert checks.check_kselect(SWEEP[:-1], PICKS, 4, ks)  # a K missing

    assert checks.check_suite_row(4, ROW) == []
    assert checks.check_suite_row(5, ROW)  # scored another K
    assert checks.check_suite_row(4, {**ROW, "wssse": None})
    assert checks.check_suite_row(4, {**ROW, "davies_bouldin": float("nan")})
    assert checks.check_suite_row(4, {**ROW, "bd_silhouette": 1.5})


TRUTH = {
    "n_docs": 8, "exact_groups": [[0, 6]], "near_pairs": [[1, 7], [2, 5]],
    "n_vecs": 6, "semantic_pairs": [[0, 4], [1, 5]], "exact_edges": [[0, 4], [1, 5]],
}
COPIES = [2, 1, 1, 1, 1, 1, 1]
PAIRS = [(0, 6), (7, 1), (2, 5)]
DOC_COMPS = {0: 0, 6: 0, 1: 1, 7: 1, 2: 2, 5: 2, 3: 3, 4: 4}
VEC_COMPS = {0: 0, 4: 0, 1: 1, 5: 1, 2: 2, 3: 3}


def test_dedup_checks():
    assert checks.check_dedup_exact(COPIES, TRUTH) == []
    assert checks.check_dedup_exact([1] * 8, TRUTH)  # missed group
    assert checks.check_dedup_exact([3, 1, 1, 1, 1, 1], TRUTH)  # over-merged
    assert checks.check_dedup_exact([2, 1, 1, 1, 1, 1], TRUTH)  # lost a doc

    assert checks.check_dedup_near(PAIRS, TRUTH) == []
    assert checks.check_dedup_near(PAIRS[:2], TRUTH)  # dropped a planted pair
    assert checks.check_dedup_near(PAIRS + [(3, 4)], TRUTH)  # unplanted pair

    assert checks.check_dedup_components(DOC_COMPS, TRUTH) == []
    assert checks.check_dedup_components({**DOC_COMPS, 5: 5}, TRUTH)  # split a pair
    assert checks.check_dedup_components({**DOC_COMPS, 3: 4}, TRUTH)  # joined strangers
    assert checks.check_dedup_components({k: v for k, v in DOC_COMPS.items() if k != 4}, TRUTH)  # lost a doc

    assert checks.check_semantic(VEC_COMPS, TRUTH) == []
    assert checks.check_semantic({**VEC_COMPS, 4: 4, 5: 5}, TRUTH)  # recall below floor
    assert checks.check_semantic({**VEC_COMPS, 2: 0}, TRUTH)  # joined strangers
    assert checks.check_semantic({**VEC_COMPS, 6: 6}, TRUTH)  # id outside the input


def test_dedup_quality():
    found = dict(exact_copies=COPIES, near_pairs=PAIRS, doc_components=DOC_COMPS, vec_components=VEC_COMPS)
    assert checks.dedup_quality(found, TRUTH) == 1.0
    # 1 exact group + 2 near + 3 doc pairs + 2 semantic = 8 planted; lose one semantic pair
    assert checks.dedup_quality({**found, "vec_components": {**VEC_COMPS, 5: 5}}, TRUTH) == pytest.approx(7 / 8)


# ---------------------------------------------------------------------------
# what the benchmark prints is what BENCHMARK.json declares
# ---------------------------------------------------------------------------


def test_workload_names_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_end_to_end_names_and_units_match():
    assert worker.END_TO_END == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_layer_names_match():
    declared = [m["name"] for m in SPEC["per_layer"]]
    produced = list(worker.GENERIC_LAYERS) + [n for w in WORKLOADS.values() for n in w.LAYERS]
    assert sorted(declared) == sorted(produced)
    assert len(produced) == len(set(produced))


def test_spec_is_well_formed():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"] and SPEC["paths"] == ["perfbench"]
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    # 4 + 22 runs per workload must fit in 3 420 s: about 71 s a run with two workloads
    assert 2 <= len(SPEC["workloads"]) <= 8
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_warm_verdict():
    assert worker.warm_verdict([1.0, 1.1, 0.9, 1.0, 1.05, 0.95])["past_warmup"]
    assert not worker.warm_verdict([3.0, 2.5, 1.0, 1.0, 1.0, 1.0])["past_warmup"]
    assert worker.warm_verdict([1.0, 1.0])["past_warmup"] is None  # too few ops to tell


# ---------------------------------------------------------------------------
# process hygiene
# ---------------------------------------------------------------------------

# A child that leaves its process group, as Spark's Python daemon does, and
# sleeps: killing the session's process group alone would miss it.
_ESCAPER = """
import os, sys, time
if os.fork() == 0:
    os.setpgid(0, 0)
    time.sleep(120)
    sys.exit(0)
print("ready", flush=True)
time.sleep(120)
"""


def test_no_process_outlives_a_session():
    proc = subprocess.Popen([sys.executable, "-c", _ESCAPER], stdout=subprocess.PIPE, text=True, start_new_session=True)
    assert proc.stdout.readline().strip() == "ready"
    deadline = time.monotonic() + 10
    while len(run.session_pids(proc.pid)) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    pids = run.session_pids(proc.pid)
    assert len(pids) == 2
    assert len({os.getpgid(p) for p in pids}) == 2  # two process groups, one session
    run.end_session(proc.pid, grace_s=0)
    proc.wait()
    assert run.session_pids(proc.pid) == []


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
