"""G5 — connected components via small-star/large-star (SURVEY.md §2.11 G5).

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond", SoCC 2014 — named
explicitly by the north rule (BASELINE.json).  Exact-match bar: the
final label of every vertex is the minimum vertex id of its component.

Each round is two DataFrame supersteps over the current parent-edge set:

  large-star: for every vertex u (neighbors from *both* orientations),
      m = min(N(u) ∪ {u}); re-link every strictly-larger neighbor to m.
  small-star: with neighbors v ≤ u only, m = min(N≤(u) ∪ {u});
      link u and all those neighbors to m.

Physical discipline (the G11 treatment PageRank gets):
  * the per-vertex minimum is a partial-aggregable ``groupBy().min()``
    — the map-side combine collapses the hub vertex's neighbor list
    BEFORE the exchange, so the min shuffle carries ~|V| tiny rows and
    degree skew never concentrates (measured: the WindowExec
    formulation of the same min spent 300+ s executor time and ~30%
    GC on a 3.6M-row round — per-group buffer machinery over ~10^6
    tiny groups — versus ~5 s for groupBy+join; a window is the wrong
    physical shape when groups are numerous and tiny);
  * the join back (neighbor row ⋈ its group min) is a sort-merge join
    whose build side has exactly one row per key, so the hub partition
    streams linearly — no buffering, no blowup;
  * intermediate duplicate links ride through (min is idempotent,
    dupes don't change it) — exactly one ``distinct`` per round, at
    the end, where it also canonicalizes the fingerprint;
  * one Spark action per round: the order-insensitive
    xxhash64/bit_xor fingerprint materializes the lazily
    local-checkpointed next edge set (lineage truncation) and detects
    the fixpoint in the same job.

A round is therefore 2 neighbor-list exchanges (one per star's join)
plus the final distinct, with the min tables riding as tiny
partial-agg shuffles; at 10^12 scale every exchange carries only the
shrinking parent-link set.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.checkpoint import CheckpointManager
from sparkgatha.graph.metrics import MetricsSink
from sparkgatha.util import (
    adaptive_shuffle_partitions,
    no_aqe,
    scoped_shuffle_partitions,
)


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (u > v) canonical pairs, self-loops
    dropped — larger endpoint first so min-aggregation lands on v."""
    return canonical_undirected(edges, greater_first=True)


def _large_star(e: DataFrame) -> DataFrame:
    """Connect all strictly-larger neighbors of a to min(N(a) ∪ {a}).

    Output links (b, m) keep the canonical first > second orientation
    (m ≤ a < b).  May contain duplicates — the round's final distinct
    owns dedup."""
    nbrs = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    mins = nbrs.groupBy("a").agg(F.min("b").alias("mb"))
    return (
        nbrs.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(
            F.col("b").alias("u"),
            F.least("mb", F.col("a")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """With neighbors v ≤ u (canonical orientation is exactly that),
    link u and each such neighbor to the minimum.

    Emits both (v, m) and (u, m) per row — the (u, m) self-link rides
    on every row; duplicates collapse in the final distinct."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    pairs = (
        e.join(mins, "u")
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("p1"), F.col("m").alias("p2")),
                    F.struct(F.col("u").alias("p1"), F.col("m").alias("p2")),
                )
            ).alias("p")
        )
        .select(F.col("p.p1").alias("u"), F.col("p.p2").alias("v"))
    )
    return pairs.filter(F.col("u") != F.col("v")).distinct()


def _fingerprint(e: DataFrame):
    # multi-arg xxhash64 — no per-row string materialization (r6: the
    # concat_ws form allocated a UTF8String per edge per round; only the
    # equality of consecutive fingerprints matters, not the hash family)
    row = (
        e.select(F.xxhash64(F.col("u"), F.col("v")).alias("h"))
        .agg(F.expr("bit_xor(h)").alias("x"), F.count("*").alias("n"))
        .collect()[0]
    )
    return (row["x"], row["n"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    run_id: str = "cc",
    metrics_sink: MetricsSink | None = None,
) -> DataFrame:
    """(vertex long, component long) — component = min vertex id, exact.

    Isolated vertices never appear in an edge table; callers with a
    separate vertex set should left-join and coalesce(component, vertex).
    With ``checkpoint_dir`` each round durably checkpoints the parent-link
    edge set + manifest (G12); ``resume=True`` continues from the largest
    complete round (the algorithm state IS the link set, so restarting on
    it is exact).  Per-round link counts/fingerprints go to the S6 sink.

    Each round is its own job, ended by the fingerprint action.  Fusing
    several rounds into one job (the pagerank/LPA ``check_every``
    discipline) measured 2x slower at 2e7 edges: each star round reads
    its input in several branches, and inside one job Spark launches
    those consumer stages before the lazy interior cache exists, so
    they recompute the round instead of sharing it.
    """
    spark = edges.sparkSession
    ckpt = CheckpointManager(checkpoint_dir, run_id)
    sink = metrics_sink or MetricsSink(checkpoint_dir, run_id)
    with no_aqe(spark):
        # r6: the vertex universe and the canonical edge set are
        # independent builds over the same input — overlap them (guide
        # §2.6); contents are identical either way
        from concurrent.futures import ThreadPoolExecutor

        def _build_vertices():
            v = (
                edges.select(F.col("src").alias("vertex"))
                .unionByName(edges.select(F.col("dst").alias("vertex")))
                .distinct()
                .localCheckpoint(eager=True)
            )
            return v, v.count()

        def _build_edges():
            e0, start = None, 0
            if resume and checkpoint_dir:
                last = ckpt.latest_complete()
                if last is not None:
                    e0 = ckpt.load(spark, last)
                    start = last
            if e0 is None:
                e0 = _canonical(edges).localCheckpoint(eager=True)
            return e0, start

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_v = pool.submit(_build_vertices)
            f_e = pool.submit(_build_edges)
            vertices, n = f_v.result()
            e, start_it = f_e.result()
        prev_fp = _fingerprint(e)
        default_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        it = start_it
        while it < max_iter:
            t0 = time.monotonic()
            # r6 scale-adaptive exchanges: size this round's shuffles to
            # the CURRENT link count (the fingerprint already tallies
            # it) — labels are partitioning-independent exact integers,
            # so only wall changes (guide §2.2; capped at the session
            # default so cluster-scale runs are untouched)
            round_p = adaptive_shuffle_partitions(prev_fp[1], default_p)
            with scoped_shuffle_partitions(spark, round_p):
                # the large-star output feeds BOTH small-star
                # branches (its min agg and its join), and the two
                # copies optimize into non-canonically-equal
                # subtrees (filter/pruning pushdown diverges), so
                # ReusedExchange never collapses them — a lazy
                # chain computes the large star TWICE per round
                # (measured: 4x 64-task map stages per round job at
                # 2e7 edges).  Materializing it eagerly costs one
                # extra job per round and removes the duplicate
                # compute outright; labels are bit-identical (same
                # algebra, same round count).
                e = _small_star(
                    _large_star(e).localCheckpoint(eager=True)
                ).localCheckpoint(eager=False)
                it += 1
                fp = _fingerprint(e)
            wall = time.monotonic() - t0
            converged = fp == prev_fp
            durable = checkpoint_dir is not None and (
                it % checkpoint_every == 0 or converged or it >= max_iter
            )
            sha = f"{(fp[0] or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{fp[1]}"
            if durable:
                e = ckpt.save(it, e, sha, metrics={"links": fp[1]})
            sink.record(
                it, float(abs(fp[1] - prev_fp[1])), fp[1], n, wall * 1000.0, sha
            )
            if converged:
                break
            prev_fp = fp
    # fixpoint: e is a star forest (u → component min)
    labels = e.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
    return (
        vertices.join(labels, "vertex", "left")
        .select(
            "vertex", F.coalesce("component", "vertex").alias("component")
        )
    )
