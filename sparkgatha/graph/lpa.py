"""G6 — synchronous label propagation with deterministic min-label
tie-break (SURVEY.md §2.11 G6, §7.4.1).

Exact-match bar (BASELINE.json): community labels must match exactly at
convergence, so every source of nondeterminism is pinned:

  * synchronous updates (all vertices update from the previous state);
  * a vertex adopts the neighbor label with the greatest total incident
    edge weight; ties break to the SMALLEST label (A7 mode-agg with
    deterministic tie-break);
  * a vertex with no neighbors keeps its label;
  * convergence = zero label changes (or max_iter).

NetworkX's own asynchronous LPA is order-sensitive, so the golden is a
pure-Python implementation of this exact rule in the test suite
(tests/test_graph_golden.py), per SURVEY.md §7.4.1.

Physical discipline (the same G11/PageRank treatment):
  * edges are hash(dst)-partitioned and persisted ONCE — they never
    move again; each superstep broadcasts the label vector into a
    BroadcastHashJoin, so the vote aggregation's map-side combine runs
    against stationary edges and the exchanges carry only the
    (dst, label) partials and the |V|-row best-label table;
  * the mode-agg tie-break is max(struct(wsum, -label)) — an ordinary
    hash aggregation, not a row_number window (no per-dst sort);
  * one Spark action per superstep: the changed-vertex count
    materializes the lazily local-checkpointed next state.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgatha.graph.checkpoint import CheckpointManager
from sparkgatha.graph.metrics import MetricsSink, state_fingerprint
from sparkgatha.graph.skew import BROADCAST_MAX_VERTICES, split_hot
from sparkgatha.util import no_aqe


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    num_partitions: int = 32,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    run_id: str = "lpa",
    metrics_sink: MetricsSink | None = None,
    strategy: str = "auto",
    hot_threshold: int | None = None,
    check_every: int = 1,
) -> DataFrame:
    """(vertex long, label long) over symmetrized ``edges(src,dst,weight)``.

    Pass both orientations (extract.symmetrize) for undirected graphs:
    messages flow src → dst only.  With ``checkpoint_dir`` every
    ``checkpoint_every``-th superstep writes a durable label checkpoint +
    manifest (G12) and ``resume=True`` continues from the largest complete
    one; convergence metrics (changed-vertex count per superstep) go to
    the S6 sink either way.  ``strategy``: 'broadcast' (label table
    broadcast each superstep — the ≤2x10^7-vertex regime) | 'shuffle'
    (labels co-partitioned hash(vertex)=hash(src) into a shuffle join —
    the beyond-broadcast regime; in that mode the layout partitions by
    src so the vote join is exchange-free on the edge side) | 'auto'.
    Both strategies are result-identical (tests).

    ``check_every``: fuse this many supersteps into ONE Spark job (the
    pagerank fused-block discipline — interior steps end in a lazy
    ``localCheckpoint`` so each materializes exactly once inside the
    block-end action).  Labels are bit-identical to per-step execution
    (the superstep is a pure synchronous transform); only the metric /
    convergence-check granularity coarsens to block boundaries, so a run
    that converges mid-block does up to ``check_every - 1`` idempotent
    extra supersteps (a fixpoint is stable under the deterministic
    tie-break).  Durable checkpoints keep their ``checkpoint_every``
    cadence: blocks are clamped so boundaries land on it.
    """
    ckpt = CheckpointManager(checkpoint_dir, run_id)
    sink = metrics_sink or MetricsSink(checkpoint_dir, run_id)
    with no_aqe(edges.sparkSession):
        pre = edges.select("src", "dst", "weight")
        vertices = (
            pre.select(F.col("src").alias("vertex"))
            .unionByName(pre.select(F.col("dst").alias("vertex")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n = vertices.count()
        if strategy == "auto":
            strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "shuffle"
        # broadcast mode: hash(dst) layout → the vote agg's combine is
        # partition-local; shuffle mode: hash(src) layout → the label
        # join is exchange-free on the edge side and only the |V|-row
        # label table shuffles per superstep.  In shuffle mode a hot
        # SOURCE vertex would park its whole out-edge list in one
        # partition (the G10 straggler, src side) — skew.split_hot salts
        # its edges across all partitions and each superstep joins them
        # against a broadcast of just the (≤HOT_MIRROR_CAP) hot-src label
        # rows, so they never re-shuffle.  Exact: the vote agg groups by
        # (dst, label) AFTER the union, identical algebra either way.
        hot_layout = None
        hot_srcs_v = None
        if strategy == "broadcast":
            layout = pre.repartition(num_partitions, "dst").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            layout.count()  # materialize the one-time layout
        else:
            split = split_hot(edges, "src", num_partitions, hot_threshold)
            layout, hot_layout = split.cold, split.hot
            if split.hot_keys is not None:
                hot_srcs_v = split.hot_keys.select(
                    F.col("src").alias("vertex")
                )
        try:
            labels = None
            start_it = 0
            if resume and checkpoint_dir:
                last = ckpt.latest_complete()
                if last is not None:
                    labels = ckpt.load(edges.sparkSession, last)
                    start_it = last
            if labels is None:
                # eager on purpose: the start state feeds several consumers
                # inside the first fused block (state broadcast + update
                # join), and a lazy checkpoint's racing consumer stages
                # re-run the projection instead of sharing it (the cc.py
                # race note) — measured as an LPA bench regression
                labels = vertices.select(
                    "vertex", F.col("vertex").alias("label")
                ).localCheckpoint(eager=True)

            def step(lbl: DataFrame) -> DataFrame:
                """One synchronous superstep as a pure transform of
                ``lbl(vertex, label)`` → (vertex, label, _changed)."""
                cur = lbl.select("vertex", "label")
                state = F.broadcast(cur) if strategy == "broadcast" else (
                    cur.repartition(num_partitions, "vertex")
                )
                # gather: total incident weight per (vertex, neighbor label);
                # partial agg is partition-local against the stationary layout
                contrib = layout.join(state, layout.src == state.vertex).select(
                    "dst", "label", "weight"
                )
                if hot_layout is not None:
                    # ≤HOT_MIRROR_CAP hot-src label rows, broadcast into the
                    # salted hot edges — no shuffle on the hot branch
                    hot_state = F.broadcast(
                        cur.join(F.broadcast(hot_srcs_v), "vertex", "left_semi")
                    )
                    contrib = contrib.unionByName(
                        hot_layout.join(
                            hot_state, hot_layout.src == hot_state.vertex
                        ).select("dst", "label", "weight")
                    )
                votes = contrib.groupBy("dst", "label").agg(
                    F.sum("weight").alias("wsum")
                )
                # A7 mode-agg: greatest wsum, ties to smallest label —
                # field-wise struct max, no sort
                best = (
                    votes.groupBy("dst")
                    .agg(
                        F.max(
                            F.struct(
                                F.col("wsum").alias("w"),
                                (-F.col("label")).alias("nl"),
                                F.col("label").alias("label"),
                            )
                        ).alias("b")
                    )
                    .select(
                        F.col("dst").alias("vertex"),
                        F.col("b.label").alias("new_label"),
                    )
                )
                return cur.join(best, "vertex", "left").select(
                    "vertex",
                    F.coalesce("new_label", "label").alias("label"),
                    (F.coalesce("new_label", "label") != F.col("label")).alias(
                        "_changed"
                    ),
                )

            it = start_it
            while it < max_iter:
                # fused block: `block` supersteps chained lazily, ONE driver
                # action (the changed-count) at the end; each interior frame
                # feeds two consumers (state broadcast/shuffle + self-join)
                # and materializes once via the lazy localCheckpoint
                block = min(max(check_every, 1), max_iter - it)
                if checkpoint_dir is not None:
                    block = min(block, checkpoint_every - it % checkpoint_every)
                block = max(block, 1)
                t0 = time.monotonic()
                new_labels = labels
                for _ in range(block):
                    new_labels = step(new_labels).localCheckpoint(eager=False)
                it += block
                changed = new_labels.filter(F.col("_changed")).count()
                wall = time.monotonic() - t0
                durable = checkpoint_dir is not None and (
                    it % checkpoint_every == 0 or changed == 0 or it >= max_iter
                )
                if durable:
                    state = new_labels.select("vertex", "label")
                    sha = state_fingerprint(state)
                    labels = ckpt.save(it, state, sha, metrics={"changed": changed})
                else:
                    sha = ""
                    labels = new_labels.select("vertex", "label")
                sink.record(it, float(changed), changed, n, wall * 1000.0, sha)
                if changed == 0:
                    break
        finally:
            layout.unpersist()
            if hot_layout is not None:
                hot_layout.unpersist()
    return labels
