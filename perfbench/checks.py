"""Result checks for the benchmark workloads.

Pure functions over plain Python values, so the benchmark's own tests can
feed them corrupted results without Spark. Each ``check_*`` returns a list
of failure messages; an empty list means the result is correct.
"""

from __future__ import annotations

# Planted near duplicates differ by one token in 40-80, so their shingle
# Jaccard is at least 0.85; banded MinHash (8 bands x 2 rows) finds such a
# pair with probability > 0.999. The floor leaves room for unlucky bands.
NEAR_DUP_RECALL_FLOOR = 0.95
# The IVF candidate tier's standing floor against the exact tier.
SEMANTIC_RECALL_FLOOR = 0.9
# best_k must pick the planted K on these indices (bd_dunn is reported but
# not gated: on equal-sized Gaussian blobs its min/max ratio need not peak
# at K*).
KSELECT_GATED_INDICES = ("bd_silhouette", "davies_bouldin", "wssse_elbow")


# ---------------------------------------------------------------------------
# kselect_sweep
# ---------------------------------------------------------------------------


def check_suite_row(k: int, row: dict) -> list[str]:
    """One ``index_suite`` result: the K it scored and four finite indices
    in range."""
    errs = []
    if row.get("k") != k:
        errs.append(f"index_suite scored k={row.get('k')} for a K={k} fit")
    vals = {n: row.get(n) for n in ("bd_silhouette", "bd_dunn", "davies_bouldin", "wssse")}
    if any(v is None or v != v for v in vals.values()):
        errs.append(f"index_suite K={k} returned a missing index: {vals}")
    elif not (-1.0 <= vals["bd_silhouette"] <= 1.0 and vals["bd_dunn"] >= 0 and vals["davies_bouldin"] >= 0 and vals["wssse"] >= 0):
        errs.append(f"index_suite K={k} returned an index out of range: {vals}")
    return errs


def check_kselect(sweep: list[tuple[int, float]], picks: dict[str, int | None], k_true: int, ks: list[int]) -> list[str]:
    """``sweep``: (k, wssse) per K step; ``picks``: index name -> chosen K;
    ``ks``: the K range the sweep was asked for."""
    errs = []
    if sorted(k for k, _ in sweep) != list(ks):
        errs.append(f"sweep returned K {sorted(k for k, _ in sweep)}, asked for {list(ks)}")
    for name in KSELECT_GATED_INDICES:
        if picks.get(name) != k_true:
            errs.append(f"best_k[{name}] = {picks.get(name)}, planted K* = {k_true}")
    ordered = sorted(sweep)
    for (k0, w0), (k1, w1) in zip(ordered, ordered[1:]):
        # 1e-9 relative slack: equal WSSSE at a converged over-split is fine
        if w1 > w0 * (1 + 1e-9):
            errs.append(f"WSSSE rose from K={k0} ({w0}) to K={k1} ({w1})")
    return errs


def kselect_quality(picks: dict[str, int | None], k_true: int) -> float:
    """Share of the gated indices that pick the planted K."""
    return sum(picks.get(n) == k_true for n in KSELECT_GATED_INDICES) / len(KSELECT_GATED_INDICES)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def _norm(pairs) -> set[tuple[int, int]]:
    return {(min(a, b), max(a, b)) for a, b in pairs}


def pair_recall(found_pairs, planted_pairs) -> float:
    planted = _norm(planted_pairs)
    return len(_norm(found_pairs) & planted) / len(planted) if planted else 1.0


def component_recall(components: dict[int, int], planted_pairs) -> float:
    """Share of planted pairs whose two members share a component."""
    if not planted_pairs:
        return 1.0
    hit = sum(1 for a, b in planted_pairs if components.get(a) is not None and components.get(a) == components.get(b))
    return hit / len(planted_pairs)


def check_dedup_exact(copies: list[int], truth: dict) -> list[str]:
    """``copies``: n_copies per content hash from ``dedup_exact``."""
    errs = []
    if sum(copies) != truth["n_docs"]:
        errs.append(f"dedup_exact counted {sum(copies)} docs, shard has {truth['n_docs']}")
    groups = sum(1 for c in copies if c > 1)
    extra = sum(c - 1 for c in copies if c > 1)
    want = len(truth["exact_groups"])
    want_extra = sum(len(g) - 1 for g in truth["exact_groups"])
    if groups != want:
        errs.append(f"dedup_exact found {groups} duplicate groups, planted {want}")
    if extra != want_extra:
        errs.append(f"dedup_exact found {extra} redundant copies, planted {want_extra}")
    return errs


def check_dedup_near(pairs, truth: dict, floor: float = NEAR_DUP_RECALL_FLOOR) -> list[str]:
    """MinHash pairs: no pair outside the planted near and exact
    duplicates (random documents never share a fifth of their shingles),
    and the planted near pairs recalled above the floor."""
    errs = []
    allowed = _norm(truth["near_pairs"]) | _norm(g[:2] for g in truth["exact_groups"])
    stray = _norm(pairs) - allowed
    if stray:
        errs.append(f"dedup_near_minhash reported {len(stray)} unplanted pairs, e.g. {sorted(stray)[:3]}")
    r = pair_recall(pairs, truth["near_pairs"])
    if r < floor:
        errs.append(f"near-dup pair recall {r:.4f} < floor {floor}")
    return errs


def _refines(components: dict[int, int], edges, n: int) -> bool:
    """Every component lies inside one connected component of ``edges``."""
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in edges:
        parent[find(a)] = find(b)
    root_of: dict[int, int] = {}
    for node, comp in components.items():
        if not 0 <= node < n or root_of.setdefault(comp, find(node)) != find(node):
            return False
    return True


def check_components(components: dict[int, int], n: int, edges, planted, what: str, floor: float) -> list[str]:
    """A node -> component map over ids 0..n-1: covers every node, joins
    nothing the true similarity graph ``edges`` leaves apart, and keeps
    the ``planted`` pairs together above ``floor``."""
    errs = []
    if sorted(components) != list(range(n)):
        errs.append(f"{what} covers {len(components)} ids, input has {n}")
    if not _refines(components, edges, n):
        errs.append(f"{what} joins items the true similarity graph leaves apart")
    r = component_recall(components, planted)
    if r < floor:
        errs.append(f"{what} recall of planted pairs {r:.4f} < floor {floor}")
    return errs


def check_dedup_components(components: dict[int, int], truth: dict) -> list[str]:
    planted = truth["near_pairs"] + [g[:2] for g in truth["exact_groups"]]
    return check_components(components, truth["n_docs"], planted, planted, "dedup_components", NEAR_DUP_RECALL_FLOOR)


def check_semantic(components: dict[int, int], truth: dict) -> list[str]:
    return check_components(
        components, truth["n_vecs"], truth["exact_edges"], truth["semantic_pairs"],
        "dedup_semantic_clusters_ann", SEMANTIC_RECALL_FLOOR,
    )


def dedup_quality(found: dict, truth: dict) -> float:
    """Recall of every planted pair by the key meant to find it: exact
    copies by ``dedup_exact`` groups (whole groups), near pairs by
    ``dedup_near_minhash``, near and exact pairs by ``dedup_components``,
    semantic twins by ``dedup_semantic_clusters_ann``."""
    exact_hit = min(sum(1 for c in found["exact_copies"] if c > 1), len(truth["exact_groups"]))
    near = _norm(truth["near_pairs"])
    near_hit = len(_norm(found["near_pairs"]) & near)
    doc_pairs = truth["near_pairs"] + [g[:2] for g in truth["exact_groups"]]
    comp_hit = component_recall(found["doc_components"], doc_pairs) * len(doc_pairs)
    sem = truth["semantic_pairs"]
    sem_hit = component_recall(found["vec_components"], sem) * len(sem)
    total = len(truth["exact_groups"]) + len(near) + len(doc_pairs) + len(sem)
    return (exact_hit + near_hit + comp_hit + sem_hit) / total
