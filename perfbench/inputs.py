"""Seeded input generators for the benchmark workloads.

The benchmark builds its own inputs so that a change to the program's
generators (``sources.rmat``, ``synth_repo_files``) cannot change the
workload. Every value is a pure function of the seed: splitmix64 over a
counter, evaluated in numpy.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_U = np.uint64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """The splitmix64 finalizer, elementwise over uint64 (wrapping)."""
    with np.errstate(over="ignore"):
        z = x + _U(0x9E3779B97F4A7C15)
        z = (z ^ (z >> _U(30))) * _U(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U(27))) * _U(0x94D049BB133111EB)
        return z ^ (z >> _U(31))


def _stream(seed: int, tag: int, n: int) -> np.ndarray:
    """n independent uint64 draws for (seed, tag)."""
    key = splitmix64(np.array([seed * 1_000_003 + tag], dtype=_U))[0]
    with np.errstate(over="ignore"):
        return splitmix64(np.arange(n, dtype=_U) + key)


def _uniform(bits: np.ndarray) -> np.ndarray:
    return (bits >> _U(11)).astype(np.float64) * (1.0 / (1 << 53))


# -- R-MAT -------------------------------------------------------------------


def rmat_pairs(
    seed: int, scale: int, edgefactor: int = 16,
    a: float = 0.57, b: float = 0.19, c: float = 0.19,
) -> tuple[np.ndarray, np.ndarray]:
    """Graph500 R-MAT edge list: ``edgefactor * 2**scale`` directed pairs
    over ``2**scale`` vertices, one quadrant draw per level.

    Vertex ids are left in quadrant order (vertex 0 is the heaviest hub)
    rather than scrambled: min-label connected components then starts
    from the hub, so its superstep count depends on the graph's shape and
    not on where a random permutation happens to put the smallest id.
    """
    m = edgefactor << scale
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    ab, abc = a + b, a + b + c
    for level in range(scale):
        u = _uniform(_stream(seed, 100 + level, m))
        src |= (u >= ab).astype(np.int64) << level
        dst |= (((u >= a) & (u < ab)) | (u >= abc)).astype(np.int64) << level
    return src, dst


# -- repo-file corpus ----------------------------------------------------------

_LANGS = np.array(["py", "c", "cpp", "java", "go", "rs"])
_WORDS = np.array(
    "def return import class self value index graph edge vertex rank label "
    "count merge split token buffer stream table query plan cache".split()
)


def repo_sizes(n_repos: int, n_files: int, zipf_s: float) -> np.ndarray:
    """Rank-size (Zipf) profile: repo r holds ~ n_files / r**s files.

    The profile is fixed for given sizes, so every seed does the same
    amount of clique and star work; the seed varies names, contents, ids
    and therefore the partition layout.
    """
    w = 1.0 / np.arange(1, n_repos + 1, dtype=np.float64) ** zipf_s
    return np.maximum(1, np.round(n_files * w / w.sum())).astype(np.int64)


def corpus_table(seed: int, n_repos: int, n_files: int, zipf_s: float) -> pa.Table:
    """(repo, path, commit, lang, content) rows, one per file."""
    sizes = repo_sizes(n_repos, n_files, zipf_s)
    n = int(sizes.sum())
    repo_of = np.repeat(np.arange(n_repos), sizes)
    # which repo gets which size, and the row order, depend on the seed
    repo_perm = np.argsort(_stream(seed, 1, n_repos))
    order = np.argsort(_stream(seed, 2, n))
    repo_of = repo_perm[repo_of][order]
    h = _stream(seed, 3, n)
    rh = _stream(seed, 4, n_repos)
    repos = np.array([f"org{int(x) % 997}/repo-{int(x) >> 40:06x}-{i}" for i, x in enumerate(rh)])
    commits = np.array([f"{int(x):016x}{int(x) * 31 % (1 << 64):016x}{i:08x}" for i, x in enumerate(rh)])
    lang = _LANGS[(h % _U(len(_LANGS))).astype(np.int64)]
    word_draw = _stream(seed, 5, n * 8) % _U(len(_WORDS))
    words = _WORDS[word_draw.astype(np.int64)].reshape(n, 8)
    paths, contents = [], []
    for i in range(n):
        hi = int(h[i])
        paths.append(f"src/m{hi % 7}/f{i}_{hi >> 44:05x}.{lang[i]}")
        contents.append(f"# {' '.join(words[i])}\ndef f{i}(x):\n    return x * {hi % 97}\n")
    return pa.table(
        {
            "repo": repos[repo_of],
            "path": paths,
            "commit": commits[repo_of],
            "lang": lang,
            "content": contents,
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def rmat_table(seed: int, scale: int, edgefactor: int) -> pa.Table:
    src, dst = rmat_pairs(seed, scale, edgefactor)
    return pa.table({"src": src, "dst": dst})
