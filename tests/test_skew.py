"""L7 — skew handling: the hot-vertex split changes the physical layout,
never the result, and bounds the largest partition (SURVEY.md §5.2 L7)."""

from pyspark.sql import functions as F

from graph_helpers import pagerank_oracle, powerlaw_graph, to_spark_edges, undirected_both

from sparkgatha.graph.pagerank import pagerank, prepare_pagerank
from sparkgatha.graph.skew import split_hot
from sparkgatha.synthetic import powerlaw_edges


def test_pagerank_hot_mirroring_exact(spark):
    """Force the hot path (threshold=1 → every vertex mirrored) and the
    cold-only path (huge threshold): identical results, both matching
    the oracle."""
    triples = powerlaw_graph(n=150, m=600, seed=13)
    edges = to_spark_edges(spark, triples, symmetric=True)
    want = pagerank_oracle(undirected_both(triples), tol=0.0, max_iter=15)

    for pr_kwargs in (
        {"strategy": "broadcast", "hot_threshold": 1},   # everything mirrored
        {"strategy": "broadcast", "hot_threshold": 10**9},  # nothing mirrored
        {"strategy": "shuffle", "hot_threshold": 1},     # everything salted
        {"strategy": "shuffle", "hot_threshold": 10**9},  # nothing salted
        {"strategy": "shuffle"},
    ):
        r = pagerank(edges, tol=0.0, max_iter=15, **pr_kwargs)
        got = {x["vertex"]: x["rank"] for x in r.ranks.collect()}
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12, pr_kwargs


def test_no_straggler_partition_after_mirroring(spark):
    """The G10 layout bounds the max partition: with the hub salted, no
    partition holds more than 4x the median row count."""
    from sparkgatha.graph.pagerank import _prepare

    e = powerlaw_edges(spark, 400_000, n_vertices=20_000, num_partitions=16)
    cold, hot, _, _ = _prepare(e, 16, "broadcast")
    assert hot is not None  # hub detected
    sizes = [
        r["n"]
        for r in cold.unionByName(hot)
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    sizes.sort()
    median = sizes[len(sizes) // 2]
    assert sizes[-1] <= 4 * median, sizes
    cold.unpersist(); hot.unpersist()


def test_no_straggler_partition_shuffle_strategy(spark):
    """Shuffle-mode layout: the 30%-of-edges hub SRC is salted across
    partitions — no partition holds more than 4x the median row count
    (without salting the hub partition holds ~30% of all rows ≈ 5x an
    even 16-way split)."""
    from sparkgatha.graph.pagerank import _prepare

    e = powerlaw_edges(spark, 400_000, n_vertices=20_000, num_partitions=16)
    cold, hot, hot_srcs, _ = _prepare(e, 16, "shuffle")
    assert hot is not None and hot_srcs is not None  # hub src detected
    assert hot_srcs.count() >= 1
    sizes = [
        r["n"]
        for r in cold.select("src").unionByName(hot.select("src"))
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    sizes.sort()
    median = sizes[len(sizes) // 2]
    assert sizes[-1] <= 4 * median, sizes
    cold.unpersist(); hot.unpersist()


def test_prepare_releases_only_the_caches_it_owns(spark):
    """prepare_pagerank + unpersist leaves no cache behind in either
    strategy, with the split forced on and off, and never releases a
    cache the caller owns; split_hot releases the input copy it
    persists itself.  Compared as sets of persisted RDD ids: other
    tests' caches may be garbage-collected meanwhile."""
    edges = to_spark_edges(spark, powerlaw_graph(n=150, m=600, seed=13))
    cached = to_spark_edges(spark, powerlaw_graph(n=150, m=600, seed=14))

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    start = persisted()
    configs = [(s, t) for s in ("broadcast", "shuffle") for t in (1, 10**9)]
    for strategy, threshold in configs:
        prepare_pagerank(
            edges, num_partitions=4, strategy=strategy, hot_threshold=threshold
        ).unpersist()
        assert not persisted() - start, (strategy, threshold)
    for key in ("src", "dst"):
        split = split_hot(edges, key, 4, hot_threshold=1)
        assert len(persisted() - start) == 2, key  # the cold and hot layouts
        split.cold.unpersist(blocking=True)
        split.hot.unpersist(blocking=True)
        assert not persisted() - start, key

    cached.persist()
    cached.count()
    start = persisted()
    try:
        for strategy, threshold in configs:
            prepare_pagerank(
                cached, num_partitions=4, strategy=strategy,
                hot_threshold=threshold,
            ).unpersist()
            assert cached.storageLevel.useMemory, (strategy, threshold)
            assert not persisted() - start, (strategy, threshold)
    finally:
        cached.unpersist(blocking=True)
