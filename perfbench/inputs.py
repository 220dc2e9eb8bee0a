"""Seeded input generators for the benchmark.

Inputs are built with NumPy in the benchmark process and written as
parquet with pyarrow, so the program under test receives only files:
nothing here calls into ``sparkgatha``.  The same ``seed`` always gives the same
bytes.  ``sparkgatha.corpus.generate_corpus`` is not used because it
fixes its own seed (``42 + row id``) and its 50-word vocabulary; here
the vocabulary size is a stated property of each workload.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("py", "java", "go", "js", "rs")

# identifier fragments; vocabulary words are fragment + rank, so every
# word is a distinct lower-case token that survives whitespace splitting
_FRAGMENTS = (
    "get", "set", "node", "edge", "map", "key", "val", "idx", "buf", "row",
    "col", "tok", "doc", "run", "job", "task", "log", "cfg", "ctx", "err",
)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def powerlaw_edges(
    seed: int, n_edges: int, hub_frac: float = 0.3, zipf_s: float = 1.2
) -> dict[str, np.ndarray]:
    """Directed multigraph (src, dst, weight) with Zipf endpoints and one
    hub vertex that is the source of ``hub_frac`` of all edges — the
    shape of ``sparkgatha.synthetic.powerlaw_edges``: ``n_edges // 10``
    vertices whose id is their Zipf rank, so vertex 0 is the hub."""
    rng = np.random.default_rng(np.random.PCG64(seed))
    n_vertices = max(n_edges // 10, 100)
    cdf = np.cumsum(_zipf_probs(n_vertices, zipf_s))
    src = np.minimum(np.searchsorted(cdf, rng.random(n_edges)), n_vertices - 1)
    dst = np.minimum(np.searchsorted(cdf, rng.random(n_edges)), n_vertices - 1)
    src = np.where(rng.random(n_edges) < hub_frac, 0, src)
    dst = np.where(dst == src, (dst + 1) % n_vertices, dst)
    return {
        "src": src.astype(np.int64),
        "dst": dst.astype(np.int64),
        "weight": rng.random(n_edges) + 1e-9,
    }


def vocabulary(size: int) -> list[str]:
    return [f"{_FRAGMENTS[i % len(_FRAGMENTS)]}{i}" for i in range(size)]


def documents(
    seed: int, n_docs: int, vocab_size: int, min_tokens: int, max_tokens: int,
    zipf_s: float = 1.1,
) -> list[str]:
    """Whitespace-separated token streams over a Zipf-ranked vocabulary
    of ``vocab_size`` words (rank 0 is the hub term)."""
    rng = np.random.default_rng(np.random.PCG64(seed))
    vocab = np.array(vocabulary(vocab_size), dtype=object)
    probs = _zipf_probs(vocab_size, zipf_s)
    lengths = rng.integers(min_tokens, max_tokens + 1, size=n_docs)
    toks = rng.choice(vocab_size, size=int(lengths.sum()), p=probs)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return [" ".join(vocab[toks[a:b]]) for a, b in zip(bounds[:-1], bounds[1:])]


def corpus_rows(seed: int, contents: list[str]) -> dict[str, list[str]]:
    """The BASELINE corpus shape ``(repo, path, commit, lang, content)``
    plus each row's ``content_sha256`` for the manifest."""
    rng = np.random.default_rng(np.random.PCG64(seed + 1))
    langs = rng.integers(0, len(LANGS), size=len(contents))
    cols: dict[str, list[str]] = {
        k: [] for k in ("repo", "path", "commit", "lang", "content", "content_sha256")
    }
    for i, (text, li) in enumerate(zip(contents, langs)):
        lang = LANGS[int(li)]
        repo = f"org{i % 13}/repo{i % 97}"
        path = f"src/m{i % 37}/f{i}.{lang}"
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["commit"].append(
            hashlib.sha256(f"{seed}/{repo}/{path}".encode()).hexdigest()[:40]
        )
        cols["lang"].append(lang)
        cols["content"].append(text)
        cols["content_sha256"].append(hashlib.sha256(text.encode()).hexdigest())
    return cols


def write_parquet(path: str, columns: dict, n_files: int = 4) -> None:
    """Write ``columns`` as a parquet directory of ``n_files`` parts."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
