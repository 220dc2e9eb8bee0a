"""G4 — PageRank as DataFrame join+agg supersteps (SURVEY.md §2.11 G4).

Semantics are pinned to ``networkx.pagerank`` (the reference golden per
BASELINE.json: per-vertex scores allclose 1e-6): damping alpha (default
0.85), uniform teleport 1/N, dangling-rank mass redistributed uniformly,
row-stochastic transition = weight / weighted-out-degree, convergence
when the L1 delta < N * tol (NetworkX's stopping rule).  Float64
throughout; fp-addition-order noise across partitionings is absorbed by
the 1e-6 tolerance (SURVEY.md §4.3.4).

Two physical strategies, one semantics (chosen by ``strategy``):

``broadcast`` (default while the rank vector fits executor memory —
  the 10^6–10^7-vertex regime):
    * edges are hash-partitioned by **dst** once (G11 layout) and
      never move again;
    * each superstep broadcasts the rank vector into a
      BroadcastHashJoin, and the groupBy(dst) aggregation is
      **partition-local** (child partitioning already hash(dst)) —
      a zero-shuffle superstep;
    * the vertex table is hash(vertex)-partitioned, so the
      rank-update join and the stats join are co-partitioned too;
    * hot DESTINATION vertices (in-degree > threshold) are split off
      the layout by skew.split_hot keyed on dst (G10): their edges are
      salted across all partitions and their per-partition partial sums
      recombine through a (#hot x P)-row exchange — exact two-level sum.

``shuffle`` (the 10^12-file regime, rank vector too big to broadcast):
    * edges hash-partitioned by **src**, normalized in place via a
      window (no extra shuffle — the window's required distribution
      IS the layout);
    * per superstep only the small rank state shuffles into a
      sort-merge join; contributions shuffle once into groupBy(dst);
    * hot SOURCE vertices (out-degree > threshold) are split off by
      the same skew.split_hot keyed on src (G10): their edges are salted
      across all partitions and normalized/joined via broadcasts of
      their ≤HOT_MIRROR_CAP-row out-weight and rank slices — the salted
      edges never re-shuffle, and the algebra is exact (L7 tests).

Superstep actions: exactly ONE Spark job per fused block — the stats
collect returns (delta_l1, active count, next danglesum) together and
materializes the lazily local-checkpointed states as a side effect.
``check_every=k`` chains k supersteps into one block (interior dangling
mass rides in-plan as a 1-row broadcast cross join), amortizing the
per-superstep fixed cost (job launch, Py4J round trip, stats collect)
k-fold with bit-identical numerics.  Checkpointing (G12) doubles as
lineage truncation so the plan stays O(1) per superstep; resume
continues from the largest complete iteration.

AQE is scoped off inside the loop (sparkgatha/util.py:no_aqe — measured
15-30x superstep regression with it on).

Reference analog: AGATHA itself never runs PageRank — its iterative
analog is PyTorch-BigGraph training over the same graph (out of scope,
SURVEY.md §2.12); the north rule substitutes the four classic
link-graph algorithms over the co-occurrence graph.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgatha.graph.checkpoint import CheckpointManager
from sparkgatha.graph.metrics import MetricsSink, partition_fingerprints, state_fingerprint
from sparkgatha.graph.skew import BROADCAST_MAX_VERTICES, split_hot
from sparkgatha.util import no_aqe


@dataclass
class PageRankResult:
    ranks: DataFrame                      # (vertex long, rank double)
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)
    superstep_wall_s: list[float] = field(default_factory=list)
    n_vertices: int = 0
    n_edges: int = 0
    strategy: str = "broadcast"


@dataclass
class PreparedGraph:
    """The one-time-per-run edge layout (G11), reusable across pagerank
    calls: persisted + MATERIALIZED edge tables and the vertex table.

    Building this is the expensive part of a PageRank run (layout shuffle
    + cache build over the whole edge set); the supersteps themselves are
    then shuffle-free (broadcast strategy).  Callers that run PageRank
    more than once on the same graph (benchmarks, warm-started streaming
    re-ranks, parameter sweeps) should prepare once and pass ``prepared=``
    to every call."""

    cold: DataFrame                       # normalized, laid-out edges
    hot: DataFrame | None                 # G10 split-off edges of hot dsts
                                          # (broadcast mode) or hot srcs
                                          # (shuffle mode), salted across
                                          # all partitions
    vertices: DataFrame                   # (vertex, has_out), persisted
    n: int                                # vertex count
    n_edges: int
    strategy: str
    num_partitions: int
    hot_srcs: DataFrame | None = None     # shuffle mode: ≤HOT_MIRROR_CAP-row
                                          # (src,) table of salted srcs —
                                          # the superstep broadcast-filters
                                          # the rank state against it

    def unpersist(self, blocking: bool = True) -> None:
        self.cold.unpersist(blocking)
        if self.hot is not None:
            self.hot.unpersist(blocking)
        self.vertices.unpersist(blocking)


def _vertices(edges: DataFrame) -> DataFrame:
    """(vertex, has_out) in ONE shuffle: explode both endpoints with an
    out-flag and max-aggregate."""
    both = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("vertex"), F.lit(1).alias("f")),
                F.struct(F.col("dst").alias("vertex"), F.lit(0).alias("f")),
            )
        ).alias("e")
    ).select("e.vertex", "e.f")
    return (
        both.groupBy("vertex")
        .agg((F.max("f") == 1).alias("has_out"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _prepare(edges: DataFrame, num_partitions: int, strategy: str,
             hot_threshold: int | None = None, n_edges: int | None = None):
    """Static per-run tables.  Edge tables are laid out ONCE (G11) and
    never re-shuffle inside the loop; skew.split_hot splits hot vertices
    off the layout (G10), keyed on the layout column — dst in broadcast
    mode, src in shuffle mode.

    Returns (cold_edges, hot_edges_or_None, hot_srcs_or_None, n_edges);
    the layouts come back MATERIALIZED (counted) and n_edges is that
    count, so callers never re-scan the caches to size the graph.  The
    third element is shuffle-mode-only (see PreparedGraph.hot_srcs).
    """
    if strategy == "broadcast":
        # one (src) out-weight shuffle, reused by BOTH norm branches — a
        # bare agg expression would re-run the shuffle per consuming
        # branch (measured as ~20% of total bench wall in round 3).
        # persist (not localCheckpoint) so it is RELEASED once the
        # layouts materialize instead of pinning O(|V|) blocks until GC.
        out_w = (
            edges.groupBy("src")
            .agg(F.sum("weight").alias("out_w"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

        def norm(df, _hot_w=None):
            return df.join(F.broadcast(out_w), "src").select(
                "src", "dst", (F.col("weight") / F.col("out_w")).alias("w")
            )

        try:
            # the out-weight cache build and hot-dst detection are
            # independent scans of the same cached input — overlap them
            # so out_w is warm by the time the layouts (its only
            # consumers) materialize
            with ThreadPoolExecutor(max_workers=1) as pool:
                warm = pool.submit(out_w.count)
                split = split_hot(
                    edges, "dst", num_partitions, hot_threshold, n_edges,
                    map_cold=norm, map_hot=norm,
                )
                warm.result()
        finally:
            out_w.unpersist()
        return split.cold, split.hot, None, split.n_edges
    # shuffle mode (the beyond-broadcast |V| regime): hash(src) layout —
    # the state join is exchange-free on the edge side and the per-src
    # normalization window is partition-local.  Hot srcs' edges are
    # normalized via a broadcast join with their (≤HOT_MIRROR_CAP-row)
    # out-weight table instead; each superstep then broadcasts only the
    # hot slice of the rank state into that branch (step()), so hot
    # edges never re-shuffle.
    w_out = W.partitionBy("src")
    norm_window = lambda df: df.select(  # noqa: E731
        "src", "dst", (F.col("weight") / F.sum("weight").over(w_out)).alias("w")
    )
    norm_bcast = lambda df, hot_w: (  # noqa: E731
        df.join(F.broadcast(hot_w), "src")
        .select("src", "dst", (F.col("weight") / F.col("hot_w")).alias("w"))
    )
    split = split_hot(
        edges, "src", num_partitions, hot_threshold, n_edges,
        map_cold=norm_window, map_hot=norm_bcast,
    )
    return split.cold, split.hot, split.hot_keys, split.n_edges


def prepare_pagerank(
    edges: DataFrame,
    num_partitions: int = 32,
    strategy: str = "auto",
    hot_threshold: int | None = None,
) -> PreparedGraph:
    """Build and MATERIALIZE the per-run layout (G11 + G10) once.

    Returns a :class:`PreparedGraph` whose persisted tables are fully
    cached (counted) before return, so subsequent supersteps never pay
    layout cost.  Caller owns the lifetime: call ``.unpersist()`` when
    done (``pagerank`` without ``prepared=`` does this automatically).

    The input edge frame feeds up to six passes here (vertex table,
    edge count, hot detection, out-weight normalization, both layout
    builds), so a raw-lineage input is persisted ONCE for the duration
    of the build.  A frame the caller already persisted is left alone
    (persisting again would no-op and the exit unpersist would drop
    THEIR cache)."""
    owned_input = edges.storageLevel == StorageLevel.NONE
    if owned_input:
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        with no_aqe(edges.sparkSession):
            # r6: the vertex-table build and the raw edge count are
            # independent scans of the cached input — overlap them
            # (guide §2.6); strategy choice only needs n, which both
            # paths wait on
            vertices = _vertices(edges)
            with ThreadPoolExecutor(max_workers=2) as pool:
                f_n = pool.submit(vertices.count)
                f_ne = pool.submit(edges.count)
                n, pre_n_edges = f_n.result(), f_ne.result()
            if strategy == "auto":
                strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "shuffle"
            # _prepare materializes the layouts (while the input is
            # still cached) and returns their row count — no re-scan
            cold, hot, hot_srcs, n_edges = _prepare(
                edges, num_partitions, strategy, hot_threshold,
                n_edges=pre_n_edges,
            )
    finally:
        if owned_input:
            edges.unpersist()
    return PreparedGraph(
        cold, hot, vertices, n, n_edges, strategy, num_partitions, hot_srcs
    )


def pagerank(
    edges: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int = 32,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    run_id: str = "pagerank",
    metrics_sink: MetricsSink | None = None,
    with_lineage: bool = False,
    strategy: str = "auto",
    hot_threshold: int | None = None,
    prepared: PreparedGraph | None = None,
    init_ranks: DataFrame | None = None,
    check_every: int = 1,
    personalization: DataFrame | None = None,
) -> PageRankResult:
    """PageRank over directed weighted ``edges(src, dst, weight)``.

    For undirected graphs pass symmetrized edges (extract.symmetrize).
    Stops when delta_l1 < N * tol (NetworkX rule) or at max_iter.
    ``checkpoint_dir`` enables durable per-superstep checkpoints and
    resume; otherwise localCheckpoint truncates lineage only.
    ``strategy``: 'auto' | 'broadcast' | 'shuffle' (see module doc).
    ``prepared``: pass a :func:`prepare_pagerank` result to reuse the
    edge layout across calls (the caller then owns its unpersist).
    ``init_ranks`` (vertex, rank): warm-start vector, e.g. the previous
    ranks after an incremental graph extension (ST6) — the fixpoint is
    init-independent, a warm start just converges in fewer supersteps;
    vertices absent from it start at 1/N.
    ``check_every``: fuse this many supersteps into ONE Spark job —
    interior steps compute the dangling mass in-plan (a 1-row broadcast
    cross join) instead of a driver round trip, and the convergence /
    metrics collect runs only at block boundaries.  Per-superstep fixed
    cost (job launch, Py4J, plan/codegen, stats collect — measured
    ~1 s/superstep regardless of graph size) amortizes k-fold; numerics
    are unchanged (same float64 sums over the same partitions), the loop
    can only overshoot convergence by at most k-1 confirming supersteps.
    Durable checkpoints force block boundaries at ``checkpoint_every``.
    ``personalization`` (vertex, weight): seed-biased teleport — the
    NetworkX semantics exactly (weights normalized to a distribution;
    vertices absent from it get 0; dangling mass redistributed by the
    same distribution).  The topic-query shape: seeds = the two query
    terms give a term-centric relevance ranking.  Cost: one extra
    column in the state and one broadcast join at init — the superstep
    plan shape is unchanged.
    """
    if prepared is None and edges is None:
        raise ValueError("pass edges or prepared")
    spark = (prepared.cold if prepared is not None else edges).sparkSession
    ckpt = CheckpointManager(checkpoint_dir, run_id)
    sink = metrics_sink or MetricsSink(checkpoint_dir, run_id)

    owned = prepared is None
    if prepared is None:
        prepared = prepare_pagerank(edges, num_partitions, strategy, hot_threshold)
    try:
        with no_aqe(spark):
            return _pagerank_loop(
                spark, prepared, alpha, tol, max_iter,
                checkpoint_dir, checkpoint_every, resume, ckpt, sink,
                with_lineage, init_ranks, check_every, personalization,
            )
    finally:
        if owned:
            prepared.unpersist()


def _pagerank_loop(
    spark, prepared, alpha, tol, max_iter,
    checkpoint_dir, checkpoint_every, resume, ckpt, sink, with_lineage,
    init_ranks=None, check_every=1, personalization=None,
) -> PageRankResult:
    vertices = prepared.vertices
    n = prepared.n
    if n == 0:
        return PageRankResult(
            spark.createDataFrame([], "vertex long, rank double"), 0, True
        )
    cold, hot, strategy = prepared.cold, prepared.hot, prepared.strategy
    n_edges = prepared.n_edges

    teleport = (1.0 - alpha) / n

    # personalized teleport: normalized (vertex, p), absent vertices 0
    # (NetworkX semantics); dangling mass also redistributes by p.  The
    # p column rides in the state frame so supersteps keep one plan shape.
    p_df = None
    if personalization is not None:
        # duplicate seed rows SUM (a dict-shaped input can't express
        # duplicates; a frame can — without this, the left join below
        # would duplicate state rows and double-count rank every step)
        ps = (
            personalization.select(
                "vertex", F.col("weight").cast("double").alias("pw")
            )
            .groupBy("vertex")
            .agg(F.sum("pw").alias("pw"))
        )
        joined = vertices.select("vertex").join(
            F.broadcast(ps), "vertex", "left"
        )
        # normalize AFTER restricting to graph vertices (NetworkX does
        # the same): seeds absent from the graph must not leak teleport
        # mass, or total rank silently converges below 1
        p_sum = float(joined.agg(F.sum("pw")).collect()[0][0] or 0.0)
        if p_sum <= 0:
            raise ValueError(
                "personalization weights must sum to > 0 over vertices "
                "present in the graph"
            )
        p_df = joined.select(
            "vertex", (F.coalesce("pw", F.lit(0.0)) / p_sum).alias("p")
        ).localCheckpoint(eager=True)

    def _with_p(frame):
        if p_df is None:
            return frame
        if "p" in frame.columns:
            return frame
        return frame.join(p_df, "vertex")

    start_it = 0
    deltas: list[float] = []
    walls: list[float] = []
    ranks: DataFrame | None = None
    if resume and checkpoint_dir:
        last = ckpt.latest_complete()
        if last is not None:
            ranks = ckpt.load(spark, last)
            start_it = last
    if ranks is None and init_ranks is not None:
        prev = init_ranks.select("vertex", F.col("rank").alias("rank0"))
        seeded = vertices.join(prev, "vertex", "left").select(
            "vertex",
            F.coalesce("rank0", F.lit(1.0 / n)).alias("rank"),
            "has_out",
        )
        # normalize to a distribution: an unnormalized init converges to
        # the same fixpoint but through a sum-renormalization transient
        # that decays only at rate alpha per superstep (~120 supersteps
        # to cross 1e-8) — normalizing removes it entirely
        s = float(seeded.agg(F.sum("rank")).collect()[0][0])
        ranks = seeded.select(
            "vertex", (F.col("rank") / F.lit(s)).alias("rank"), "has_out"
        ).localCheckpoint(eager=True)
    if ranks is None:
        ranks = vertices.select(
            "vertex", F.lit(1.0 / n).alias("rank"), "has_out"
        ).localCheckpoint(eager=True)

    # danglesum for the upcoming iteration = sum of rank on dangling vertices
    dangle = float(
        ranks.filter(~F.col("has_out")).agg(F.sum("rank")).collect()[0][0] or 0.0
    )

    hot_srcs_v = (
        prepared.hot_srcs.select(F.col("src").alias("vertex"))
        if prepared.hot_srcs is not None
        else None
    )

    def step(frame, base_col):
        """One superstep as a pure DataFrame transform of ``frame``
        (vertex, rank, has_out): gather + update + per-vertex delta."""
        state = frame.select("vertex", "rank")
        if strategy == "broadcast":
            cold_state = hot_state = F.broadcast(state)
        else:
            # shuffle mode: the full state shuffles into the cold SMJ on
            # src; the hot branch gets ONLY the ≤HOT_MIRROR_CAP hot-src
            # rank rows, broadcast — the salted hot edges stay put
            cold_state = state
            hot_state = (
                F.broadcast(state.join(F.broadcast(hot_srcs_v), "vertex", "left_semi"))
                if hot_srcs_v is not None
                else None
            )

        def gather(part, st):
            # cold branch: hash(dst)/hash(src) layout -> the agg is
            # partition-local (broadcast) or one shuffle (shuffle mode);
            # hot branch: salted layout -> partial sums are local, the
            # final combine exchanges only (#hot x P) rows (G10)
            return (
                part.join(st, part.src == st.vertex)
                .select("dst", (F.col("w") * F.col("rank")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("c"))
            )

        upd = frame.join(
            gather(cold, cold_state)
            .withColumnRenamed("c", "c_cold").withColumnRenamed("dst", "d1"),
            frame.vertex == F.col("d1"),
            "left",
        )
        if hot is not None:
            upd = upd.join(
                gather(hot, hot_state)
                .withColumnRenamed("c", "c_hot").withColumnRenamed("dst", "d2"),
                frame.vertex == F.col("d2"),
                "left",
            )
            contrib = F.coalesce(F.col("c_cold"), F.lit(0.0)) + F.coalesce(
                F.col("c_hot"), F.lit(0.0)
            )
        else:
            contrib = F.coalesce(F.col("c_cold"), F.lit(0.0))
        new_rank = alpha * contrib + base_col
        out_cols = [
            "vertex",
            new_rank.alias("rank"),
            "has_out",
            F.abs(new_rank - F.col("rank")).alias("d"),
        ]
        if p_df is not None:
            out_cols.append("p")
        return upd.select(*out_cols)

    converged = False
    it = start_it
    while it < max_iter and not converged:
        # fused block: `block` supersteps chained lazily, ONE driver
        # action (the stats collect) at the end — interior steps compute
        # the dangling mass in-plan (1-row broadcast cross join over the
        # previous step's cached frame), so per-superstep fixed cost
        # (job launch, Py4J, stats round trip) amortizes across the block
        block = min(check_every, max_iter - it)
        if checkpoint_dir is not None:
            block = min(block, checkpoint_every - it % checkpoint_every)
        block = max(block, 1)
        t0 = time.monotonic()
        frame = _with_p(ranks)
        for j in range(block):
            if j == 0:
                # the block-leading dangle is a Python scalar from the
                # previous stats collect (or the init scan)
                if p_df is None:
                    base_col = F.lit(alpha * dangle / n + teleport)
                else:
                    base_col = F.lit(alpha * dangle + 1.0 - alpha) * F.col("p")
            else:
                dangle_df = frame.agg(
                    F.sum(
                        F.when(~F.col("has_out"), F.col("rank")).otherwise(0.0)
                    ).alias("_dng")
                )
                frame = frame.crossJoin(F.broadcast(dangle_df))
                if p_df is None:
                    base_col = F.lit(alpha / n) * F.col("_dng") + F.lit(teleport)
                else:
                    base_col = (
                        F.lit(alpha) * F.col("_dng") + F.lit(1.0 - alpha)
                    ) * F.col("p")
            # lazy lineage truncation + cache: interior frames feed three
            # consumers (state broadcast, dangle agg, update join) and
            # materialize on first demand inside the block-end job
            frame = step(frame, base_col).localCheckpoint(eager=False)
        it += block

        stats = (
            frame.agg(
                F.sum("d").alias("delta_l1"),
                F.sum(F.when(F.col("d") > tol, 1).otherwise(0)).alias("active"),
                F.sum(F.when(~F.col("has_out"), F.col("rank")).otherwise(0.0)).alias(
                    "dangle"
                ),
            )
            .collect()[0]
        )
        delta = float(stats["delta_l1"])
        dangle = float(stats["dangle"] or 0.0)
        wall = time.monotonic() - t0
        converged = delta < n * tol

        durable = checkpoint_dir is not None and (
            it % checkpoint_every == 0 or converged or it >= max_iter
        )
        if durable:
            sha = state_fingerprint(frame.select("vertex", "rank"))
            parts = partition_fingerprints(frame) if with_lineage else None
            ranks = ckpt.save(
                it,
                frame.select("vertex", "rank", "has_out"),
                sha,
                metrics={"delta_l1": delta, "active": int(stats["active"])},
                partitions=parts,
            )
        else:
            sha = ""
            keep = ["vertex", "rank", "has_out"] + (
                ["p"] if p_df is not None else []
            )
            ranks = frame.select(*keep)

        deltas.append(delta)
        walls.append(wall)
        sink.record(it, delta, int(stats["active"]), n, wall * 1000.0, sha)

    return PageRankResult(
        ranks.select("vertex", "rank"),
        it,
        converged,
        deltas,
        walls,
        n,
        n_edges,
        strategy,
    )
