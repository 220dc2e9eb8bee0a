"""G10 — explicit skew handling: hot vertices are split off the edge
layout before its shuffle (SURVEY.md §2.11 G10).

Reference analog: AGATHA's hub terms (ubiquitous lemmas / common code
identifiers in the graft) are super-nodes; the reference controls them
*semantically* with frequency cutoffs before graph construction
(SURVEY.md §4.1) — extract.extract_cooccurrence_edges(max_df=...) keeps
that lever.  At 10^12-file scale cutoffs alone don't suffice, so the
north rule adds *mechanical* mitigation: "degree-skew hot vertices are
split via high-degree vertex mirroring before the shuffle".

The iterative algorithms lay their edge table out ONCE, hash-partitioned
by the column their superstep aggregates or joins on: ``dst`` for
broadcast-mode PageRank (the gather groups by dst), ``src`` for
shuffle-mode PageRank and LPA (the state joins on src).  A vertex with
more edges on that key than the hot threshold would park all of them in
one partition and cap scaling at that straggler.  :func:`split_hot` is
the one place the rule lives: it detects the hot keys, spreads their
edges over every partition by a row-content salt and hash-partitions the
cold remainder by the key.  The algorithms recombine the hot branch
exactly — PageRank's broadcast mode sums the salted per-partition
partials in a (#hot x P)-row exchange; the src-keyed layouts join the
salted edges against a broadcast of the hot keys' rank/label rows — so
results are identical with the split on or off (test layer L7).
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

log = logging.getLogger(__name__)

#: above this vertex count the rank/label vector stops being
#: broadcastable and PageRank/LPA take their shuffle strategy
BROADCAST_MAX_VERTICES = 20_000_000

#: split-hot-key cap per layout (G10): keys beyond it fall back to the
#: straggler path — logged, never silent (each split key costs up to P
#: partial rows per superstep, so the cap bounds that exchange)
HOT_MIRROR_CAP = 10_000

#: the default hot threshold never drops below this many edges
_HOT_FLOOR = 16_384


@dataclass
class HotSplit:
    """Result of :func:`split_hot`: both layouts persisted and
    materialized."""

    cold: DataFrame                 # hash(key) layout
    hot: DataFrame | None           # (key, salt) layout
    hot_keys: DataFrame | None      # ≤HOT_MIRROR_CAP rows, column `key`
    n_edges: int                    # rows in cold + hot


def split_hot(
    edges: DataFrame,
    key: str,
    num_partitions: int,
    hot_threshold: int | None = None,
    n_edges: int | None = None,
    map_cold=None,
    map_hot=None,
) -> HotSplit:
    """Lay ``edges(src, dst, weight)`` out by ``key`` ("dst" or "src")
    with the edges of hot keys split off.

    A key is hot when it has more than ``hot_threshold`` edges (default
    max(E/P/4, 16384), E = ``n_edges``, counted here when not given).
    At most HOT_MIRROR_CAP keys with the most edges are split, with a
    logged warning when more qualify.  Hot edges spread over all
    partitions by ``pmod(xxhash64(src,dst,weight), P)``; cold edges are
    hash(key)-partitioned.  Both layouts are persisted and counted
    concurrently (independent jobs over disjoint rows, so the smaller
    build rides in the larger one's scheduling tail).

    The (src, dst, weight) projection is persisted for the build unless
    the caller already persisted ``edges`` — a caller's cache is never
    touched — and that owned copy is released before returning.

    ``map_cold(df)`` / ``map_hot(df, hot_w)`` transform each branch
    AFTER its repartition but BEFORE the persist, so per-row derivations
    (PageRank's weight normalization) are computed once into the cached
    layout; ``hot_w`` is (key, hot_w), each hot key's total edge weight.
    """
    spark = edges.sparkSession
    owned = edges.storageLevel == StorageLevel.NONE
    pre = edges.select("src", "dst", "weight")
    if owned:
        pre = pre.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # the plan filters at a lower bound of the threshold, so
        # detection runs beside the edge count (which builds the owned
        # input cache) instead of after it; the exact threshold is then
        # applied to the few collected rows
        detect = (
            pre.groupBy(key)
            .agg(F.count("*").alias("deg"), F.sum("weight").alias("hot_w"))
            .filter(F.col("deg") > (
                _HOT_FLOOR if hot_threshold is None else hot_threshold
            ))
            .orderBy(F.col("deg").desc())
            .limit(HOT_MIRROR_CAP + 1)
        )
        with ThreadPoolExecutor(max_workers=1) as pool:
            f_rows = pool.submit(detect.collect)
            if hot_threshold is None:
                if n_edges is None:
                    n_edges = pre.count()
                hot_threshold = max(n_edges // num_partitions // 4, _HOT_FLOOR)
            rows = [r for r in f_rows.result() if r["deg"] > hot_threshold]
        if len(rows) > HOT_MIRROR_CAP:
            rows = rows[:HOT_MIRROR_CAP]
            log.warning(
                "G10: more than %d %s vertices exceed the hot threshold %d; "
                "splitting only the %d with the most edges — the rest take "
                "the plain hash(%s) path (raise hot_threshold or "
                "HOT_MIRROR_CAP if stragglers appear)",
                HOT_MIRROR_CAP, key, hot_threshold, HOT_MIRROR_CAP, key,
            )
        map_cold = map_cold or (lambda df: df)
        hot = hot_keys = None
        cold_rows = pre
        if rows:
            # broadcast semi/anti joins against the collected hot set
            # instead of an IN-list literal: plan size stays flat at
            # HOT_MIRROR_CAP
            hot_w = spark.createDataFrame(rows, detect.schema).select(key, "hot_w")
            hot_keys = hot_w.select(key)
            # row-content salt: src alone is itself Zipf-skewed (a hot
            # dst's in-edges can share one hub src), so salt on the full
            # row — deterministic, and exact under the recombining agg
            salt = F.pmod(F.xxhash64("src", "dst", "weight"), F.lit(num_partitions))
            hot = pre.join(F.broadcast(hot_keys), key, "left_semi").repartition(
                num_partitions, F.col(key), salt
            )
            hot = (map_hot(hot, hot_w) if map_hot else hot).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            cold_rows = pre.join(F.broadcast(hot_keys), key, "left_anti")
        cold = map_cold(
            cold_rows.repartition(num_partitions, key)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        layouts = [d for d in (cold, hot) if d is not None]
        try:
            with ThreadPoolExecutor(max_workers=2) as pool:
                counts = [pool.submit(d.count) for d in layouts]
                n_laid_out = sum(f.result() for f in counts)
        except BaseException:
            for d in layouts:
                d.unpersist()
            raise
        return HotSplit(cold, hot, hot_keys, n_laid_out)
    finally:
        if owned:
            pre.unpersist()
