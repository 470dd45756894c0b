"""Seeded input generators for the benchmark workloads.

Every input is made here with numpy/pyarrow from the ``--seed`` argument,
in one process, and cached as parquet keyed by (workload, seed, size); the
engine only ever receives the generated parquet. The same seed gives the
same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. The ``size`` key names the set in the cache path,
# so changing a number here must change the key.
SIZES = {
    "corpus_pipeline": {
        "size": "f800-v200k",
        "files": 800,
        "min_tokens": 20,
        "max_tokens": 200,
        "vocab": 200_000,
        "repos": 40,
    },
    "superstep_loops": {
        "size": "v300-e1500-p16",
        "vertices": 300,
        "edges": 1_500,
        "chain": 16,
        "max_weight": 1_000,
    },
}

_LANGS = np.array(["python", "java", "go", "rust", "c", "scala"])


def _log_uniform(rng: np.random.Generator, n: int, hi: int) -> np.ndarray:
    """Integers in [0, hi) with P(k) roughly proportional to 1/(k+1)."""
    return np.minimum(np.floor(np.exp(rng.random(n) * np.log(hi))).astype(np.int64) - 1, hi - 1)


def corpus_table(seed: int, p: dict) -> tuple[pa.Table, dict]:
    """(repo, path, commit, lang, content) rows; content tokens are ``t<k>``."""
    rng = np.random.default_rng([seed, 1])
    n = p["files"]
    lengths = rng.integers(p["min_tokens"], p["max_tokens"] + 1, n)
    tokens = _log_uniform(rng, int(lengths.sum()), p["vocab"])
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    repos = rng.integers(0, p["repos"], n)
    langs = _LANGS[rng.integers(0, len(_LANGS), n)]
    contents, paths, commits = [], [], []
    for i in range(n):
        toks = tokens[bounds[i]:bounds[i + 1]]
        words = [f"t{k}" for k in toks.tolist()]
        # a newline every 12 tokens, as source lines would have
        contents.append("\n".join(
            " ".join(words[j:j + 12]) for j in range(0, len(words), 12)
        ))
        paths.append(f"src/m{i % 97}/f{i}.py")
        commits.append(hashlib.sha1(f"{seed}:{i}".encode()).hexdigest())
    table = pa.table({
        "repo": [f"org/r{r}" for r in repos.tolist()],
        "path": paths,
        "commit": commits,
        "lang": langs.tolist(),
        "content": contents,
    })
    distinct = sum(len(set(tokens[bounds[i]:bounds[i + 1]].tolist())) for i in range(n))
    return table, {"rows": n, "token_instances": int(lengths.sum()),
                   "occurrences": distinct}


def loop_graph(seed: int, p: dict) -> tuple[pa.Table, dict]:
    """Weighted undirected (src, dst, weight) edges with hubs plus a chain.

    Sources are uniform and targets log-uniform over the main vertices, so a
    few low ids become hubs. Self-loops and parallel pairs are dropped
    (canonical src < dst). A path of ``chain`` extra vertices forms its own
    component. Its edge weights (1 + trailing zeros of the edge's position)
    make Borůvka halve it each round, so the minimum spanning forest takes
    log2(chain) rounds on every seed; the random part needs fewer. Weights
    are whole numbers stored as doubles: sums stay exact in any order.
    """
    rng = np.random.default_rng([seed, 2])
    v, m = p["vertices"], p["edges"]
    src = rng.integers(0, v, m)
    dst = _log_uniform(rng, m, v)
    # spread the hubs over the id range so they are not all tiny ids
    perm = rng.permutation(v)
    a, b = np.minimum(perm[src], perm[dst]), np.maximum(perm[src], perm[dst])
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    chain = np.arange(v, v + p["chain"], dtype=np.int64)
    chain_w = [(k & -k).bit_length() for k in range(1, p["chain"])]
    weight = np.concatenate([rng.integers(1, p["max_weight"] + 1, len(pairs)), chain_w])
    weight = weight.astype(np.float64)
    pairs = np.concatenate([pairs, np.stack([chain[:-1], chain[1:]], axis=1)])
    table = pa.table({
        "src": pairs[:, 0].astype(np.int64),
        "dst": pairs[:, 1].astype(np.int64),
        "weight": weight,
    })
    # shortest paths start at the highest-degree vertex (smallest id on ties)
    degree = np.bincount(pairs.ravel(), minlength=v + p["chain"])
    return table, {"vertices": int(v + p["chain"]), "edges": int(len(pairs)),
                   "source": int(np.argmax(degree))}


_MAKERS = {
    "corpus_pipeline": corpus_table,
    "superstep_loops": loop_graph,
}


def materialize(workload: str, seed: int, cache_dir: str) -> tuple[str, dict]:
    """Parquet path of the workload's input for ``seed`` (made on first use)."""
    p = SIZES[workload]
    root = os.path.join(cache_dir, f"{workload}-s{seed}-{p['size']}")
    path = os.path.join(root, "input.parquet")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return path, json.load(f)
    table, meta = _MAKERS[workload](seed, p)
    os.makedirs(root, exist_ok=True)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return path, meta
