"""The benchmark workloads.

A workload generates its inputs (``prepare``, NumPy only, before any Spark
starts), hooks the public calls whose boundaries its metrics need
(``install``), warms a fresh session at full size (``warm``), and runs its
timed window (``window``): a fixed, deterministic sequence of homogeneous
ops. The window returns raw results; ``check`` verifies them afterwards and
``layers`` turns the tracer's spans into the per-layer metrics.

Each finished op is also passed to ``on_op`` (a no-op unless
``warmup_probe.py`` sets it), so the probe sees the per-op curve of the
same code the window runs.
"""

from __future__ import annotations

import os

import checks
import gen
from measure import Tracer, median, wall

CORPUS_KEYS = ("dedup_exact", "dedup_near_minhash", "dedup_components", "dedup_semantic_clusters_ann")


class Workload:
    name = ""
    # workload-specific per-layer metrics (``layers`` returns exactly these)
    LAYERS: tuple[str, ...] = ()

    def __init__(self):
        self.on_op = lambda record: None

    def window_ops(self, seconds: float) -> int:
        """Ops in the timed window: ``seconds`` worth at the calm per-op
        time, at least ``min_ops``."""
        return max(self.min_ops, round(seconds / self.nominal_op_s))


# ---------------------------------------------------------------------------
# kselect_sweep — the paper's workload
# ---------------------------------------------------------------------------


class KSelectSweep(Workload):
    """``kmeans_sweep`` over K = 2 .. 1 + window ops on planted blobs with
    K* = 4, then ``best_k``. An op is one ``index_suite`` call scoring one
    fit, from the call until its row is collected: one scan plus K-row
    aggregates, so ops are alike across K while the fits grow with K.
    ``build_s`` is the mean ``KMeans.fit`` of the sweep. Warm-up is one
    full-size sweep over K = 2 .. ``warm_k_max`` on other blobs."""

    name = "kselect_sweep"
    n, dim, k_true, k_min, max_iter = 5_000, 32, 4, 2, 10
    nominal_op_s, min_ops = 4.0, 4
    warm_k_max = 3
    LAYERS = ("sweep.fit_s", "sweep.fit_jobs", "indices.suite_s", "indices.suite_jobs")

    def prepare(self, in_dir: str, seed: int, seconds: float) -> dict:
        main, warm = os.path.join(in_dir, "main"), os.path.join(in_dir, "warm")
        gen.gen_blobs(main, seed, self.n, self.dim, self.k_true)
        # warm-up reads other files of the same shape, so nothing the
        # session may keep per path serves the window
        gen.gen_blobs(warm, seed + 7919, self.n, self.dim, self.k_true)
        return dict(main=main, warm=warm, k_max=self.k_min + self.window_ops(seconds) - 1)

    def install(self, tracer: Tracer) -> None:
        from pyspark.ml.clustering import KMeans

        from clusterindices_spark.operators import sweep

        self.fits: list[dict] = []
        self.suites: list[dict] = []
        orig_fit, orig_suite = KMeans.fit, sweep.index_suite
        wl = self

        def fit(est, dataset, params=None):
            with tracer.span("sweep.fit") as s:
                model = orig_fit(est, dataset, params)
            s["k"] = est.getK()
            wl.fits.append(s)
            return model

        def index_suite(pts, cents):
            # the op runs from this call until kmeans_sweep has collected
            # the suite's one row
            s = tracer.open("indices.suite", "exec")
            df = orig_suite(pts, cents)
            collect = df.collect

            def timed_collect():
                rows = collect()
                tracer.close(s)
                tracer.add_plan(df)
                s["row"] = rows[0].asDict() if rows else {}
                s["k"] = wl.fits[-1]["k"]
                wl.suites.append(s)
                wl.on_op({"k": s["k"], "op_s": s["end"] - s["start"], "fit_s": wl.fits[-1]["end"] - wl.fits[-1]["start"]})
                return rows

            df.collect = timed_collect
            return df

        tracer.patch(KMeans, "fit", fit)
        tracer.patch(sweep, "index_suite", index_suite)

    def _sweep(self, spark, tracer: Tracer, path: str, k_max: int) -> dict:
        from clusterindices_spark.operators.sweep import best_k, kmeans_sweep

        self.fits.clear()
        self.suites.clear()
        with tracer.span("sweep.kmeans_sweep", "construct"):
            sweep_df = kmeans_sweep(spark, path, self.k_min, k_max, max_iter=self.max_iter)
        rows = tracer.execute("exec.sweep", sweep_df)
        picks = tracer.execute("exec.best_k", best_k(sweep_df))
        return dict(
            sweep=[(r["k"], r["wssse"]) for r in rows],
            picks={r["index"]: r["chosen_k"] for r in picks},
            ops=[s["end"] - s["start"] for s in self.suites],
            suites=[(s["k"], s["row"]) for s in self.suites],
            builds=[f["end"] - f["start"] for f in self.fits],
        )

    def window(self, spark, ctx: dict, tracer: Tracer) -> dict:
        res = self._sweep(spark, tracer, ctx["main"], ctx["k_max"])
        # the mean fit: fits grow with K, so a median over a few unlike
        # fits jumps between Ks from run to run (IQR/median 0.12 against
        # 0.035 over the same nine runs)
        res["build_s"] = sum(res["builds"]) / len(res["builds"])
        return res

    def warm(self, spark, ctx: dict, tracer: Tracer) -> None:
        self._sweep(spark, tracer, ctx["warm"], self.warm_k_max)

    def check(self, res: dict, ctx: dict) -> tuple[list[bool], list[str], float]:
        """(failed per op, failure messages, quality). The ops are the
        suite calls plus the sweep's whole result."""
        truth = gen.read_truth(ctx["main"])
        op_errs = [checks.check_suite_row(k, row) for k, row in res["suites"]]
        sweep_errs = checks.check_kselect(res["sweep"], res["picks"], truth["k_true"], list(range(self.k_min, ctx["k_max"] + 1)))
        errs = [e for es in op_errs for e in es] + sweep_errs
        return [bool(e) for e in op_errs] + [bool(sweep_errs)], errs, checks.kselect_quality(res["picks"], truth["k_true"])

    def layers(self, tracer: Tracer, ctx: dict, res: dict) -> dict:
        fits, suites = tracer.named("sweep.fit"), tracer.named("indices.suite")
        nf, ns = max(len(fits), 1), max(len(suites), 1)
        return {
            "sweep.fit_s": wall(fits) / nf,
            "sweep.fit_jobs": tracer.stats(fits)["jobs"] / nf,
            "indices.suite_s": wall(suites) / ns,
            "indices.suite_jobs": tracer.stats(suites)["jobs"] / ns,
        }


# ---------------------------------------------------------------------------
# corpus_dedup — the LLM-data pass
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """One op is one pass over a fresh shard of its own (1 000 documents
    with planted exact and one-token-edit duplicates, 1 800 128-d
    embeddings with planted semantic twins): the registry keys
    ``dedup_exact``, ``dedup_near_minhash``, ``dedup_components`` and
    ``dedup_semantic_clusters_ann``, each from its call until its result is
    collected. ``build_s`` is the part of a pass spent from each call until
    its DataFrame returns. Warm-up is one pass over another shard of the
    same size."""

    name = "corpus_dedup"
    n_docs, n_vecs, dim = 1000, 1800, 128
    nominal_op_s, min_ops = 14.0, 1
    LAYERS = (
        "dedup.exact_s", "dedup.minhash_s", "dedup.components_s", "similarity.semantic_s",
        "similarity.ivf_build_s", "dedup.near_recall", "similarity.semantic_recall",
    )

    def prepare(self, in_dir: str, seed: int, seconds: float) -> dict:
        def shards(kind: str, n: int, first: int) -> list[str]:
            out = []
            for i in range(n):
                d = os.path.join(in_dir, f"{kind}{i}")
                gen.gen_shard(d, seed, first + i, self.n_docs, self.n_vecs, self.dim)
                out.append(d)
            return out

        # warm shards come from other shard numbers than the window's
        return dict(warm=shards("warm", 1, 1000), main=shards("shard", self.window_ops(seconds), 0))

    def install(self, tracer: Tracer) -> None:
        from clusterindices_spark.operators import similarity
        from clusterindices_spark.registry import all_queries

        self.q = {k: all_queries()[k] for k in CORPUS_KEYS}
        tracer.wrap(similarity, "ivf_build", "similarity.ivf_build")

    def _pass(self, spark, tracer: Tracer, shard: str) -> dict:
        out, build = {}, 0.0
        with tracer.span("corpus.pass") as p:
            for key, fn in self.q.items():
                with tracer.span(f"key.{key}"):
                    with tracer.span(f"construct.{key}", "construct") as c:
                        df = fn(spark, shard)
                    build += c["end"] - c["start"]
                    out[key] = tracer.execute(f"exec.{key}", df)
        op_s = p["end"] - p["start"]
        self.on_op({"op_s": op_s, "build_s": build})
        return dict(op_s=op_s, build_s=build, rows=out)

    def warm(self, spark, ctx: dict, tracer: Tracer) -> None:
        for shard in ctx["warm"]:
            self._pass(spark, tracer, shard)

    def window(self, spark, ctx: dict, tracer: Tracer) -> dict:
        passes = [self._pass(spark, tracer, shard) for shard in ctx["main"]]
        builds = [p["build_s"] for p in passes]
        return dict(ops=[p["op_s"] for p in passes], builds=builds, build_s=median(builds), passes=passes)

    @staticmethod
    def found(rows: dict) -> dict:
        return dict(
            exact_copies=[r["n_copies"] for r in rows["dedup_exact"]],
            near_pairs=[(r["doc_a"], r["doc_b"]) for r in rows["dedup_near_minhash"]],
            doc_components={r["doc_id"]: r["component_id"] for r in rows["dedup_components"]},
            vec_components={r["vec_id"]: r["component_id"] for r in rows["dedup_semantic_clusters_ann"]},
        )

    def check(self, res: dict, ctx: dict) -> tuple[list[bool], list[str], float]:
        failed, errs, quality = [], [], []
        self.recalls = []
        for shard, p in zip(ctx["main"], res["passes"]):
            truth = gen.read_truth(shard)
            f = self.found(p["rows"])
            e = (
                checks.check_dedup_exact(f["exact_copies"], truth)
                + checks.check_dedup_near(f["near_pairs"], truth)
                + checks.check_dedup_components(f["doc_components"], truth)
                + checks.check_semantic(f["vec_components"], truth)
            )
            failed.append(bool(e))
            errs += [f"{os.path.basename(shard)}: {m}" for m in e]
            quality.append(checks.dedup_quality(f, truth))
            self.recalls.append((
                checks.pair_recall(f["near_pairs"], truth["near_pairs"]),
                checks.component_recall(f["vec_components"], truth["semantic_pairs"]),
            ))
        return failed, errs, median(quality)

    def layers(self, tracer: Tracer, ctx: dict, res: dict) -> dict:
        n = max(len(res["passes"]), 1)

        def per_pass(name: str) -> float:
            return wall(tracer.named(name)) / n

        return {
            "dedup.exact_s": per_pass("key.dedup_exact"),
            "dedup.minhash_s": per_pass("key.dedup_near_minhash"),
            "dedup.components_s": per_pass("key.dedup_components"),
            "similarity.semantic_s": per_pass("key.dedup_semantic_clusters_ann"),
            "similarity.ivf_build_s": per_pass("similarity.ivf_build"),
            "dedup.near_recall": median([r for r, _ in self.recalls]),
            "similarity.semantic_recall": median([r for _, r in self.recalls]),
        }


WORKLOADS = {w.name: w for w in (KSelectSweep(), CorpusDedup())}
