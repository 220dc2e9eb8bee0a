"""Reference implementations the benchmark checks the program against.

Each oracle is written independently of ``sparkgatha`` with NumPy,
pandas or DuckDB, and each ``check_*`` function returns ``None`` when
the program's output is correct or a one-line reason when it is not.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

ALPHA = 0.85
STOPWORDS = frozenset(("a", "the"))


class Graph:
    """An edge list re-indexed onto dense vertex positions.

    ``vertices`` is sorted, so the smallest position in a set of
    vertices is also its smallest id."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, weight: np.ndarray):
        self.vertices, inv = np.unique(
            np.concatenate([src, dst]), return_inverse=True
        )
        self.s = inv[: len(src)]
        self.d = inv[len(src):]
        self.w = np.asarray(weight, dtype=np.float64)
        self.n = len(self.vertices)

    def align(self, frame: pd.DataFrame, key: str, value: str) -> np.ndarray | None:
        """``frame[value]`` ordered like ``self.vertices``, or None when
        the frame's key set is not exactly the vertex set."""
        f = frame.sort_values(key)
        if len(f) != self.n or not np.array_equal(f[key].to_numpy(), self.vertices):
            return None
        return f[value].to_numpy()


def pagerank(g: Graph, iterations: int | None = None, tol: float = 1e-15) -> np.ndarray:
    """Power iteration with the program's semantics: uniform start,
    transition weight / out-weight, dangling mass spread uniformly.
    Runs exactly ``iterations`` steps, or to an L1 step below ``tol``."""
    out_w = np.bincount(g.s, weights=g.w, minlength=g.n)
    dangling = np.bincount(g.s, minlength=g.n) == 0
    coef = g.w / out_w[g.s]
    x = np.full(g.n, 1.0 / g.n)
    for it in range(iterations if iterations is not None else 10_000):
        c = np.bincount(g.d, weights=coef * x[g.s], minlength=g.n)
        nxt = ALPHA * c + (ALPHA * x[dangling].sum() + 1.0 - ALPHA) / g.n
        step = np.abs(nxt - x).sum()
        x = nxt
        if iterations is None and step < tol:
            break
    return x


def check_pagerank(g: Graph, ranks: pd.DataFrame, iterations: int) -> str | None:
    """Ranks equal the same number of NumPy power-iteration steps,
    allclose to a relative 1e-6."""
    got = g.align(ranks, "vertex", "rank")
    if got is None:
        return "pagerank vertex set differs from the edge endpoints"
    ref = pagerank(g, iterations)
    if not np.allclose(got, ref, rtol=1e-6, atol=1e-12):
        return f"pagerank max abs error {np.abs(got - ref).max():.3e} after {iterations} steps"
    return None


def check_pagerank_converged(g: Graph, ranks: pd.DataFrame, tol: float) -> str | None:
    """Ranks of a run stopped by the ``L1 < N * tol`` rule are within
    the rule's error bound, alpha / (1 - alpha) * N * tol, of the fixpoint."""
    got = g.align(ranks, "vertex", "rank")
    if got is None:
        return "pagerank vertex set differs from the edge endpoints"
    ref = pagerank(g)
    bound = ALPHA / (1.0 - ALPHA) * g.n * tol + 1e-12
    err = np.abs(got - ref).max()
    if err > bound:
        return f"pagerank max abs error {err:.3e} above the stopping-rule bound {bound:.3e}"
    return None


def components(g: Graph) -> np.ndarray:
    """Min-id component label per vertex: union by minimum with
    pointer jumping until no label changes."""
    lab = np.arange(g.n)
    while True:
        m = np.minimum(lab[g.s], lab[g.d])
        nxt = lab.copy()
        np.minimum.at(nxt, g.s, m)
        np.minimum.at(nxt, g.d, m)
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, lab):
            return g.vertices[lab]
        lab = nxt


def check_components(g: Graph, labels: pd.DataFrame) -> str | None:
    got = g.align(labels, "vertex", "component")
    if got is None:
        return "cc vertex set differs from the edge endpoints"
    bad = int((got != components(g)).sum())
    return f"cc: {bad} vertices carry a label other than their component's min id" if bad else None


def label_propagation(g: Graph, max_iter: int) -> np.ndarray:
    """Synchronous LPA with the program's pinned rule: the neighbour
    label with the largest total incoming weight wins, ties go to the
    smallest label, a vertex with no in-edges keeps its label."""
    lab = g.vertices.copy()
    for _ in range(max_iter):
        votes = (
            pd.DataFrame({"d": g.d, "l": lab[g.s], "w": g.w})
            .groupby(["d", "l"], sort=False)["w"].sum().reset_index()
            .sort_values(["d", "w", "l"], ascending=[True, False, True])
            .drop_duplicates("d")
        )
        nxt = lab.copy()
        nxt[votes["d"].to_numpy()] = votes["l"].to_numpy()
        changed = bool((nxt != lab).any())
        lab = nxt
        if not changed:
            break
    return lab


def check_labels(g: Graph, labels: pd.DataFrame, max_iter: int) -> str | None:
    got = g.align(labels, "vertex", "label")
    if got is None:
        return "lpa vertex set differs from the edge endpoints"
    bad = int((got != label_propagation(g, max_iter)).sum())
    return f"lpa: {bad} labels differ from the min-label rule" if bad else None


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Global triangle count of the undirected simple graph, in DuckDB."""
    con = duckdb.connect()
    try:
        con.register("raw", pd.DataFrame({"src": src, "dst": dst}))
        return int(con.execute(
            """
            WITH e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                       FROM raw WHERE src <> dst)
            SELECT count(*) FROM e a
            JOIN e b ON a.v = b.u
            JOIN e c ON c.u = a.u AND c.v = b.v
            """
        ).fetchone()[0])
    finally:
        con.close()


def cooccurrence(docs: list[str]) -> pd.DataFrame:
    """Canonical term-pair edges (src < dst, weight = number of documents
    holding both terms), from the binary document-term matrix."""
    term_sets = [
        {t for t in doc.lower().split() if t not in STOPWORDS} for doc in docs
    ]
    terms = sorted(set().union(*term_sets))
    index = {t: i for i, t in enumerate(terms)}
    x = np.zeros((len(docs), len(terms)), dtype=np.float64)
    for row, ts in enumerate(term_sets):
        x[row, [index[t] for t in ts]] = 1.0
    co = x.T @ x
    i, j = np.triu_indices(len(terms), 1)
    keep = co[i, j] > 0
    names = np.array(terms, dtype=object)
    return pd.DataFrame(
        {"src": names[i[keep]], "dst": names[j[keep]], "weight": co[i, j][keep]}
    )


def check_edges(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    cols = ["src", "dst", "weight"]
    a = got[cols].sort_values(cols[:2]).reset_index(drop=True)
    b = ref[cols].sort_values(cols[:2]).reset_index(drop=True)
    if len(a) != len(b):
        return f"edge table has {len(a)} rows, the rebuild has {len(b)}"
    if not (a["src"].equals(b["src"]) and a["dst"].equals(b["dst"])):
        return "edge endpoints differ from the rebuild"
    if not np.array_equal(a["weight"].to_numpy(), b["weight"].to_numpy()):
        return "edge weights differ from the rebuild"
    return None
