"""Seeded input generators for the benchmark workloads.

Every generator writes parquet files with the fixture schemas of
FIXTURES.md (``embeddings``, ``documents``) into a directory of its own and
returns the planted ground truth as a plain dict. The same seed gives
byte-identical files: all randomness comes from one
``numpy.random.Generator`` per call, seeded by a tuple, and the writer
options are fixed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed writer options and no pandas metadata: the bytes depend on the
# values alone.
_WRITE_OPTS = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), **_WRITE_OPTS)


def _embeddings_table(vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    n, dim = vecs.shape
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_truth(out_dir: str, truth: dict) -> None:
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)


def read_truth(in_dir: str) -> dict:
    with open(os.path.join(in_dir, "truth.json")) as f:
        return json.load(f)


def read_vectors(path: str) -> np.ndarray:
    """The ``embedding`` column as an (n, dim) float32 array."""
    col = pq.read_table(path, columns=["embedding"]).column("embedding").combine_chunks()
    dim = len(col[0])
    return col.values.to_numpy(zero_copy_only=False).reshape(-1, dim)


# ---------------------------------------------------------------------------
# kselect_sweep: planted, well-separated Gaussian blobs with a known K*
# ---------------------------------------------------------------------------


def gen_blobs(out_dir: str, seed: int, n: int, dim: int, k_true: int) -> dict:
    """``k_true`` isotropic blobs (per-coordinate sigma 0.5) whose centres
    sit at least 8 apart, equal sizes. Labels are the planted blob ids."""
    rng = np.random.default_rng([seed, 1])
    while True:
        cents = rng.uniform(-10.0, 10.0, size=(k_true, dim))
        gaps = np.linalg.norm(cents[:, None, :] - cents[None, :, :], axis=-1)
        if gaps[np.triu_indices(k_true, 1)].min() > 8.0:
            break
    labels = np.arange(n) % k_true
    rng.shuffle(labels)
    vecs = cents[labels] + rng.normal(0.0, 0.5, size=(n, dim))
    _write(_embeddings_table(vecs, labels), out_dir, "embeddings")
    truth = {"k_true": k_true, "n": n, "dim": dim}
    write_truth(out_dir, truth)
    return truth


# ---------------------------------------------------------------------------
# corpus_dedup: documents with planted exact and near duplicates, and
# embeddings with planted semantic twins
# ---------------------------------------------------------------------------

_LANGS = np.array(["de", "en", "es", "fr", "zh"])


def gen_documents(
    rng: np.random.Generator,
    n_base: int,
    n_exact: int,
    n_near: int,
    vocab: int = 2000,
    min_len: int = 40,
    max_len: int = 80,
) -> tuple[pa.Table, dict]:
    """``n_base`` random documents, then ``n_exact`` byte-identical copies
    of distinct base documents (one extra copy each) and ``n_near`` copies
    of other distinct base documents with one token replaced.

    Tokens are drawn Zipf-like from a ``vocab``-word vocabulary, so common
    words recur but three-token shingles almost never repeat by chance.
    Planted truth: the exact groups and the near pairs as doc-id lists."""
    words = np.array([f"w{i:04d}" for i in range(vocab)])
    weights = 1.0 / np.arange(1, vocab + 1) ** 0.8
    weights /= weights.sum()
    lens = rng.integers(min_len, max_len + 1, size=n_base)
    toks = [rng.choice(vocab, size=ln, p=weights) for ln in lens]

    picks = rng.choice(n_base, size=n_exact + n_near, replace=False)
    exact_groups, near_pairs = [], []
    for src in picks[:n_exact]:
        exact_groups.append([int(src), len(toks)])
        toks.append(toks[src].copy())
    for src in picks[n_exact:]:
        edited = toks[src].copy()
        pos = rng.integers(0, len(edited))
        # a token id that differs from the one it replaces
        edited[pos] = (edited[pos] + 1 + rng.integers(0, vocab - 1)) % vocab
        near_pairs.append([int(src), len(toks)])
        toks.append(edited)

    texts = [" ".join(words[t]) for t in toks]
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(_LANGS[rng.integers(0, 5, size=n)]),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, size=n).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    return table, {"n_docs": n, "exact_groups": exact_groups, "near_pairs": near_pairs}


def cosine_edges(vecs: np.ndarray, threshold: float) -> list[list[int]]:
    """Every pair (a < b) whose cosine, rounded to 6 places as the program
    rounds it, reaches ``threshold``. The vectors are the float32 file
    values widened to float64, as Spark reads them."""
    x = vecs.astype(np.float64)
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = np.round(unit @ unit.T, 6)
    a, b = np.nonzero(np.triu(sims >= threshold, 1))
    return [[int(i), int(j)] for i, j in zip(a, b)]


def gen_semantic(
    rng: np.random.Generator, n: int, n_twins: int, dim: int, twin_noise: float = 0.2
) -> tuple[pa.Table, dict]:
    """``n`` vectors: ``n - n_twins`` random directions and ``n_twins``
    noisy copies of distinct ones (cosine about 0.98 to their source).

    In 128 dimensions two random directions have cosine sd 0.09, so no
    unplanted pair comes near the program's 0.4 threshold; ``exact_edges``
    lists every pair that does, planted or not."""
    n_base = n - n_twins
    base = rng.normal(size=(n_base, dim))
    src = rng.choice(n_base, size=n_twins, replace=False)
    twins = base[src] + rng.normal(0.0, twin_noise, size=(n_twins, dim))
    vecs = np.vstack([base, twins]).astype(np.float32)
    labels = np.concatenate([np.arange(n_base), src]) % 10
    pairs = [[int(s), n_base + i] for i, s in enumerate(src)]
    return _embeddings_table(vecs, labels), {"n_vecs": n, "semantic_pairs": pairs}


COSINE_THRESHOLD = 0.4  # the program's semantic near-dup threshold


def gen_shard(out_dir: str, seed: int, shard: int, n_docs: int, n_vecs: int, dim: int) -> dict:
    """One ``corpus_dedup`` shard: ``documents`` with 2 % exact and 4 %
    one-token-edit duplicates, ``embeddings`` with 5 % semantic twins, and
    their truth (including the exact cosine graph the checks compare the
    semantic clusters against)."""
    rng = np.random.default_rng([seed, 2, shard])
    n_exact, n_near = n_docs // 50, n_docs // 25
    docs, dtruth = gen_documents(rng, n_docs - n_exact - n_near, n_exact, n_near)
    emb, etruth = gen_semantic(rng, n_vecs, n_vecs // 20, dim)
    _write(docs, out_dir, "documents")
    _write(emb, out_dir, "embeddings")
    etruth["exact_edges"] = cosine_edges(read_vectors(os.path.join(out_dir, "embeddings.parquet")), COSINE_THRESHOLD)
    truth = {**dtruth, **etruth}
    write_truth(out_dir, truth)
    return truth
