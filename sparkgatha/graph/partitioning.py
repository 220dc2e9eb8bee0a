"""G11 — adjacency partition layout (SURVEY.md §2.11 G11, §4.2).

The superstep join ``edges ⋈ state ON edges.src = state.vertex`` must not
re-shuffle the (large, static) edge table every iteration.  Spark reuses
a persisted DataFrame's output partitioning when it satisfies the join's
distribution requirement, which for an equi-join is *hash* partitioning
on the key — so the in-loop layouts are ``repartition(P, key)`` (hash,
persisted once; skew.split_hot builds them for PageRank and shuffle-mode
LPA).  The *serving* export (io.write_adjacency) uses range partitioning
instead, where ordered key lookup matters more than exchange reuse.

``spark.sql.shuffle.partitions`` must equal P (session.py pins both to
the same default) or the state side's shuffle lands on a different
partition count and the edge side re-shuffles anyway (SURVEY.md §4.3).
"""

from __future__ import annotations


def assert_no_edge_exchange(plan: str) -> bool:
    """True iff the physical plan reads the persisted edge layout with NO
    shuffle Exchange above it: the plan must contain an
    InMemoryTableScan, and the plan text ABOVE the InMemoryRelation
    subtree must contain no ``Exchange hashpartitioning`` (the one-time
    layout Exchange lives INSIDE the InMemoryRelation and is expected;
    BroadcastExchange for the small state side is allowed)."""
    if "InMemoryTableScan" not in plan:
        return False
    above_cache = plan.split("InMemoryRelation", 1)[0]
    return "Exchange hashpartitioning" not in above_cache
