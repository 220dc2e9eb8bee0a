"""The benchmark workloads.

A workload builds its inputs from the seed (``build_inputs``, pure
NumPy + parquet), loads them into the session (``load``), warms up
untimed (``warm_up``: one whole cycle), and then runs timed cycles.  Each timed
call into ``sparkgatha`` is one op: a span whose wall time is a sample
and whose exception counts as a failure.  Its output is queued for a
correctness check that runs after the timed window.

Every workload reports the same end-to-end metrics (see README.md):
``cycle_s`` is the sum of the op walls of one cycle; ``pagerank_*`` and
``cc_s`` come from that workload's PageRank and connected-components
ops.  Layer counters that a workload never exercises read 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import traceback
from collections import defaultdict

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from perfbench import inputs, oracles
from sparkgatha.corpus import verify_sha256
from sparkgatha.extract import symmetrize
from sparkgatha.graph.cc import connected_components
from sparkgatha.graph.lpa import label_propagation
from sparkgatha.graph.metrics import MetricsSink
from sparkgatha.graph.pagerank import pagerank, prepare_pagerank
from sparkgatha.graph.triangles import global_triangle_count
from sparkgatha.streaming import IncrementalGraphBuilder

#: PageRank solve tolerance (NetworkX rule: stop when L1 step < N * tol),
#: run in fused blocks of BLOCK supersteps.  On the 1e5-edge graph the
#: solve stops after 5 supersteps at 1e-6 (checked every superstep) and
#: after one full 10-superstep block at 1e-9, so supersteps, not
#: prepare, dominate the timed solve.
SOLVE_TOL = 1e-9
BLOCK = 10

#: per-layer counters every workload reports (0 where bypassed)
LAYER_METRICS = {
    "graph.pagerank.superstep_s": "s",
    "graph.pagerank.jobs_per_block": "count",
    "graph.pagerank.prepare_s": "s",
    "graph.skew.hot_edges": "count",
    "graph.pagerank.prepare_shuffle_s": "s",
    "graph.pagerank.shuffle_superstep_s": "s",
    "graph.pagerank.iterations": "count",
    "graph.pagerank.iterations_tol_1e-6": "count",
    "graph.cc.rounds": "count",
    "graph.cc.round_s": "s",
    "graph.cc.jobs": "count",
    "graph.lpa.supersteps": "count",
    "graph.lpa.superstep_s": "s",
    "graph.lpa.changed_vertices": "count",
    "graph.triangles.s": "s",
    "graph.triangles.global": "count",
    "corpus.verify_sha256_s": "s",
    "corpus.mismatch_rows": "count",
    "extract.edge_rows": "count",
    "streaming.merge_batch_s": "s",
    "streaming.delta_bytes": "bytes",
    "streaming.compact_s": "s",
    "streaming.rerank_s": "s",
    "streaming.rerank_iterations": "count",
    "graph.checkpoint.bytes_written": "bytes",
    "graph.checkpoint.files": "count",
    "graph.checkpoint.overhead_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "trace.bookkeeping_s": "s",
}


class OpFailed(Exception):
    pass


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, spark, tracer, work_dir: str, seed: int, partitions: int):
        self.spark = spark
        self.tr = tracer
        self.work = work_dir
        self.seed = seed
        self.P = partitions
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, list[float]] = defaultdict(list)
        # (name, thunk) pairs run after the timed window; a thunk returns
        # None when the output is correct, else the reason it is not
        self.checks: list[tuple[str, object]] = []
        self.timed = False
        self.attempted = 0
        self.failed = 0
        self.cycle_spans = []
        self.its_1e6 = None

    # -- op plumbing -------------------------------------------------------
    def op(self, name: str, fn):
        """Run ``fn`` as one op inside span ``name``; when timed, its wall
        is a sample and an exception counts as a failed op."""
        if self.timed:
            self.attempted += 1
        try:
            with self.tr.span(name) as sp:
                self.last_span = sp
                out = fn()
        except Exception as exc:
            if self.timed:
                self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(name) from exc
        if self.timed:
            self.samples[name].append(sp.seconds)
            self.samples["cycle_s"][-1] += sp.seconds
        return out

    def bench(self, name: str, fn):
        """Benchmark-side Spark work (collecting outputs for the oracles):
        traced under its own span, never counted as an op."""
        with self.tr.span(f"bench.{name}"):
            return fn()

    def count(self, name: str, value: float) -> None:
        if self.timed:
            self.counts[name].append(float(value))

    def warm_up(self) -> None:
        """Untimed: one whole cycle, which compiles every plan shape the
        timed cycle runs."""
        self.run_cycle()

    def run_cycle(self) -> None:
        if self.timed:
            self.samples["cycle_s"].append(0.0)
        with self.tr.span("cycle") as sp:
            self.cycle()
        self.cycle_spans.append(sp)

    def run_checks(self) -> list[str]:
        reasons = []
        for name, check in self.checks:
            try:
                why = check()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                why = "oracle raised"
            if why:
                self.failed += 1
                reasons.append(f"{name}: {why}")
        return reasons

    # -- shared measurements -------------------------------------------------
    def pagerank_solve(self, edges: DataFrame, graph_fn) -> None:
        """prepare + fused-block solve at SOLVE_TOL on the warm layout."""
        p = self.op("graph.pagerank.prepare", lambda: prepare_pagerank(
            edges, num_partitions=self.P, strategy="broadcast"))
        try:
            with self.tr.span("graph.pagerank.solve") as loop:
                r = self.op("graph.pagerank.blocks", lambda: pagerank(
                    prepared=p, tol=SOLVE_TOL, max_iter=100, check_every=BLOCK))
                blocks_span = self.last_span
                ranks = self.op("graph.pagerank.collect", r.ranks.toPandas)
            hot = self.bench("hot_edges", lambda: p.hot.count() if p.hot is not None else 0)
            if self.timed and self.tr.spark_counts and self.its_1e6 is None:
                # traced runs only, outside every op: iterations the
                # NetworkX default tolerance needs
                self.its_1e6 = self.bench("iterations_tol_1e-6", lambda: pagerank(
                    prepared=p, tol=1e-6).iterations)
        finally:
            p.unpersist()
        if self.timed:
            walls = sum(r.superstep_wall_s)
            self.samples["pagerank_solve_s"].append(
                self.samples["graph.pagerank.prepare"][-1] + loop.seconds)
            self.samples["pagerank_edges_per_s"].append(r.n_edges * r.iterations / walls)
            self.count("graph.pagerank.superstep_s", walls / r.iterations)
            self.count("graph.pagerank.prepare_s", self.samples["graph.pagerank.prepare"][-1])
            self.count("graph.pagerank.iterations", r.iterations)
            self.count("graph.skew.hot_edges", hot)
            self.count("graph.pagerank.jobs_per_block",
                       self.tr.total(blocks_span, "spark.jobs") / len(r.superstep_wall_s))
            self.count("graph.pagerank.iterations_tol_1e-6", self.its_1e6 or 0)
            its = r.iterations
            self.checks.append(("pagerank", lambda: oracles.check_pagerank(graph_fn(), ranks, its)))

    def layer_metrics(self) -> dict[str, float]:
        out = {k: _median(v) for k, v in self.counts.items()}
        timed = self.cycle_spans[-len(self.samples["cycle_s"]):] if self.samples["cycle_s"] else []
        out["trace.bookkeeping_s"] = self.tr.bookkeeping_s / max(len(timed), 1)
        for key in ("spark.jobs", "spark.tasks", "spark.shuffle_read_bytes",
                    "spark.shuffle_write_bytes"):
            out[key] = _median([self.tr.total(sp, key) for sp in timed])
        return {k: out.get(k, 0.0) for k in LAYER_METRICS}


def _edge_graph(pdf: pd.DataFrame) -> oracles.Graph:
    return oracles.Graph(pdf["src"].to_numpy(), pdf["dst"].to_numpy(), pdf["weight"].to_numpy())


def _symmetric_graph(pdf: pd.DataFrame) -> oracles.Graph:
    """Both orientations of every edge (what ``symmetrize`` produces)."""
    return oracles.Graph(
        pd.concat([pdf["src"], pdf["dst"]]).to_numpy(),
        pd.concat([pdf["dst"], pdf["src"]]).to_numpy(),
        pd.concat([pdf["weight"], pdf["weight"]]).to_numpy(),
    )


def _term_graph(docs: list[str]) -> oracles.Graph:
    """The symmetrized co-occurrence graph of ``docs``, keyed by term."""
    return _symmetric_graph(oracles.cooccurrence(docs))


class PowerlawAnalytics(Workload):
    """In-memory graph analytics on a power-law graph with a 30% hub."""

    name = "powerlaw-analytics"
    N_EDGES = 100_000
    SHUFFLE_STEPS = 2
    LPA_STEPS = 3

    def build_inputs(self, out: str) -> None:
        inputs.write_parquet(os.path.join(out, "edges"),
                             inputs.powerlaw_edges(self.seed, self.N_EDGES))

    def load(self, out: str) -> None:
        path = os.path.join(out, "edges")
        self.edges = self.spark.read.parquet(path).persist()
        self.edges.count()
        self.edges_pd = pq.read_table(path).to_pandas()
        self._g = self._g_sym = None

    def graph(self):
        if self._g is None:
            self._g = _edge_graph(self.edges_pd)
        return self._g

    def graph_sym(self):
        if self._g_sym is None:
            self._g_sym = _symmetric_graph(self.edges_pd)
        return self._g_sym

    def warm_up(self) -> None:
        """One cycle, then the PageRank solve once more: its fused block
        still ran about a quarter slower on its second run than on its
        third, while the other ops had settled after one run."""
        super().warm_up()
        self.pagerank_solve(self.edges, self.graph)

    def cycle(self) -> None:
        self.pagerank_solve(self.edges, self.graph)

        ps = self.op("graph.pagerank.prepare_shuffle", lambda: prepare_pagerank(
            self.edges, num_partitions=self.P, strategy="shuffle"))
        try:
            rs = self.op("graph.pagerank.shuffle_blocks", lambda: pagerank(
                prepared=ps, tol=0.0, max_iter=self.SHUFFLE_STEPS,
                check_every=self.SHUFFLE_STEPS))
            sranks = self.op("graph.pagerank.shuffle_collect", rs.ranks.toPandas)
        finally:
            ps.unpersist()
        if self.timed:
            walls = sum(rs.superstep_wall_s)
            self.samples["pagerank_shuffle_edges_per_s"].append(rs.n_edges * rs.iterations / walls)
            self.count("graph.pagerank.prepare_shuffle_s",
                       self.samples["graph.pagerank.prepare_shuffle"][-1])
            self.count("graph.pagerank.shuffle_superstep_s", walls / rs.iterations)
            steps = rs.iterations
            self.checks.append(("pagerank_shuffle", lambda: oracles.check_pagerank(
                self.graph(), sranks, steps)))

        sink = MetricsSink(None, "cc")
        labels = self.op("graph.cc", lambda: connected_components(
            self.edges, max_iter=50, metrics_sink=sink).toPandas())
        if self.timed:
            self.samples["cc_s"].append(self.samples["graph.cc"][-1])
            self.count("graph.cc.rounds", len(sink.rows))
            self.count("graph.cc.round_s", _median([r["wall_ms"] / 1000 for r in sink.rows]))
            self.count("graph.cc.jobs", self.tr.total(self.last_span, "spark.jobs"))
            self.checks.append(("cc", lambda: oracles.check_components(self.graph(), labels)))

        sink = MetricsSink(None, "lpa")
        lab = self.op("graph.lpa", lambda: label_propagation(
            symmetrize(self.edges), max_iter=self.LPA_STEPS, num_partitions=self.P,
            metrics_sink=sink).toPandas())
        if self.timed:
            lpa_steps = sink.rows[-1]["iteration"]
            self.samples["lpa_s"].append(self.samples["graph.lpa"][-1])
            self.count("graph.lpa.supersteps", lpa_steps)
            self.count("graph.lpa.superstep_s",
                       sum(r["wall_ms"] for r in sink.rows) / 1000 / lpa_steps)
            self.count("graph.lpa.changed_vertices", sum(r["active_vertices"] for r in sink.rows))
            self.checks.append(("lpa", lambda: oracles.check_labels(
                self.graph_sym(), lab, self.LPA_STEPS)))

        tri = self.op("graph.triangles", lambda: global_triangle_count(self.edges))
        if self.timed:
            self.samples["triangles_s"].append(self.samples["graph.triangles"][-1])
            self.count("graph.triangles.s", self.samples["graph.triangles"][-1])
            self.count("graph.triangles.global", tri)
            e = self.edges_pd
            self.checks.append(("triangles", lambda: None if oracles.triangles(
                e["src"].to_numpy(), e["dst"].to_numpy()) == tri else
                f"spark counted {tri} triangles, duckdb a different number"))


class IncrementalResume(Workload):
    """Closed-loop ingest of corpus micro-batches (one client: the next
    batch is sent only after the previous rerank returns): each update
    verifies the batch against its sha256 manifest, merges it as a
    delta, reranks warm-started and compacts every COMPACT_EVERY deltas.
    Then durable checkpointed PageRank and CC run on a power-law graph
    and each resumes from a half-finished checkpoint directory, which
    the first cycle writes by keeping the first half of the iterations
    of an uninterrupted run."""

    name = "incremental-resume"
    BATCH_DOCS = 800
    N_BATCHES = 16
    VOCAB = 1000
    TOKENS = (20, 80)
    UPDATES_PER_CYCLE = 1
    COMPACT_EVERY = 2
    RERANK_TOL = 1e-8
    N_EDGES = 100_000
    CKPT_STEPS = 2

    def build_inputs(self, out: str) -> None:
        docs = inputs.documents(
            self.seed, self.BATCH_DOCS * self.N_BATCHES, self.VOCAB, *self.TOKENS)
        rows = inputs.corpus_rows(self.seed, docs)
        for b in range(self.N_BATCHES):
            part = {k: v[b * self.BATCH_DOCS:(b + 1) * self.BATCH_DOCS] for k, v in rows.items()}
            sha = part.pop("content_sha256")
            batch = os.path.join(out, "stream", f"batch{b:05d}")
            inputs.write_parquet(os.path.join(batch, "corpus"), part, n_files=1)
            inputs.write_parquet(os.path.join(batch, "manifest"), {
                "repo": part["repo"], "path": part["path"], "commit": part["commit"],
                "content_sha256": sha}, n_files=1)
        inputs.write_parquet(os.path.join(out, "graph"),
                             inputs.powerlaw_edges(self.seed, self.N_EDGES))

    def load(self, out: str) -> None:
        self.inputs = out
        path = os.path.join(out, "graph")
        self.edges = self.spark.read.parquet(path).persist()
        self.edges.count()
        self.edges_pd = pq.read_table(path).to_pandas()
        self._g = None
        self.builder = IncrementalGraphBuilder(
            self.spark, os.path.join(self.work, "builder"), compact_every=10**9)
        self.next_batch = 0
        self.deltas = 0
        self.merged_docs: list[str] = []
        self.prev = None
        self.pr_half = self.cc_half = None

    def graph(self):
        if self._g is None:
            self._g = _edge_graph(self.edges_pd)
        return self._g

    def update(self) -> None:
        """One closed-loop update: verify the next batch against its
        manifest, merge it, rerank warm-started from the ranks the
        previous rerank returned, then compact when due."""
        path = os.path.join(self.inputs, "stream", f"batch{self.next_batch % self.N_BATCHES:05d}")
        self.next_batch += 1
        corpus = self.spark.read.parquet(os.path.join(path, "corpus"))
        manifest = self.spark.read.parquet(os.path.join(path, "manifest"))
        self.merged_docs += (
            pq.read_table(os.path.join(path, "corpus")).column("content").to_pylist())
        mismatch = self.op("corpus.verify_sha256", lambda: verify_sha256(corpus, manifest))
        before = set(os.listdir(self.builder.edges_dir))
        self.op("streaming.merge_batch", lambda: self.builder.merge_batch(
            corpus.withColumnRenamed("content", "text")))
        delta = [os.path.join(self.builder.edges_dir, d)
                 for d in set(os.listdir(self.builder.edges_dir)) - before]
        self.deltas += 1
        keyed, r = self.op("streaming.rerank", self._rerank)
        self.prev = self.spark.createDataFrame(keyed)
        if self.timed:
            s = self.samples
            s["pagerank_solve_s"].append(s["streaming.rerank"][-1])
            s["update_p50_s"].append(sum(s[k][-1] for k in (
                "corpus.verify_sha256", "streaming.merge_batch", "streaming.rerank")))
            s["ingest_docs_per_s"].append(self.BATCH_DOCS / (
                s["corpus.verify_sha256"][-1] + s["streaming.merge_batch"][-1]))
            self.count("corpus.verify_sha256_s", s["corpus.verify_sha256"][-1])
            self.count("corpus.mismatch_rows", mismatch)
            self.count("streaming.merge_batch_s", s["streaming.merge_batch"][-1])
            self.count("streaming.rerank_s", s["streaming.rerank"][-1])
            self.count("streaming.rerank_iterations", r.iterations)
            self.count("streaming.delta_bytes", sum(_dir_size(d)[0] for d in delta))
            self.count("extract.edge_rows", sum(
                pq.ParquetDataset(d).read().num_rows for d in delta))
            self.checks.append(("corpus.verify_sha256",
                                lambda: f"{mismatch} rows mismatch" if mismatch else None))
            docs = list(self.merged_docs)
            self.checks.append(("rerank", lambda: oracles.check_pagerank_converged(
                _term_graph(docs), keyed.rename(columns={"key": "vertex"}), self.RERANK_TOL)))
        if self.deltas >= self.COMPACT_EVERY:
            self.op("streaming.compact", self.builder.compact)
            self.deltas = 0
            if self.timed:
                self.count("streaming.compact_s", self.samples["streaming.compact"][-1])
                self.samples["compact_s"].append(self.samples["streaming.compact"][-1])

    def _rerank(self):
        keyed, r = self.builder.rerank(self.prev, tol=self.RERANK_TOL)
        return keyed.toPandas(), r

    def fresh_dir(self, tag: str, like: str | None = None, upto: int | None = None) -> str:
        """Empty ``work/tag``, or a copy of the checkpoint dir ``like``
        holding only its iterations ``<= upto``."""
        dst = os.path.join(self.work, tag)
        shutil.rmtree(dst, ignore_errors=True)
        if like is None:
            return dst
        shutil.copytree(like, dst, ignore=lambda d, names: [
            n for n in names if d == like and n.startswith("it=") and int(n[3:]) > upto])
        return dst

    def cycle(self) -> None:
        for _ in range(self.UPDATES_PER_CYCLE if self.timed else 1):
            self.update()
        if self.timed:
            merged = self.bench("collect_merged", lambda: self.builder.edges().toPandas())
            docs = list(self.merged_docs)
            self.checks.append(("merged_edges", lambda: oracles.check_edges(
                merged, oracles.cooccurrence(docs))))

        pr_dir = self.fresh_dir("pr_full")
        p = self.op("graph.pagerank.prepare", lambda: prepare_pagerank(
            self.edges, num_partitions=self.P, strategy="broadcast"))
        try:
            r = self.op("graph.pagerank.checkpointed", lambda: pagerank(
                prepared=p, tol=0.0, max_iter=self.CKPT_STEPS, checkpoint_dir=pr_dir,
                checkpoint_every=1, run_id="pagerank"))
            pr_span = self.last_span
            full = self.op("graph.pagerank.collect", r.ranks.toPandas)
        finally:
            p.unpersist()
        cc_dir = self.fresh_dir("cc_full")
        sink = MetricsSink(None, "cc")
        labels = self.op("graph.cc.checkpointed", lambda: connected_components(
            self.edges, checkpoint_dir=cc_dir, checkpoint_every=1, run_id="cc",
            metrics_sink=sink).toPandas())
        cc_span = self.last_span
        if self.pr_half is None:
            self.pr_half = self.fresh_dir("pr_half", pr_dir, self.CKPT_STEPS // 2)
            self.cc_half = self.fresh_dir("cc_half", cc_dir, max(len(sink.rows) // 2, 1))
        resume_dir = self.bench("copy_pr", lambda: self.fresh_dir("pr_resume", self.pr_half, 10**9))
        rr = self.op("graph.pagerank.resume", lambda: pagerank(
            self.edges, tol=0.0, max_iter=self.CKPT_STEPS, num_partitions=self.P,
            checkpoint_dir=resume_dir, checkpoint_every=1, resume=True, run_id="pagerank"))
        resumed = self.op("graph.pagerank.resume_collect", rr.ranks.toPandas)
        resume_dir = self.bench("copy_cc", lambda: self.fresh_dir("cc_resume", self.cc_half, 10**9))
        resumed_cc = self.op("graph.cc.resume", lambda: connected_components(
            self.edges, checkpoint_dir=resume_dir, checkpoint_every=1, resume=True,
            run_id="cc").toPandas())
        if self.timed:
            s = self.samples
            solve = s["graph.pagerank.prepare"][-1] + s["graph.pagerank.checkpointed"][-1] \
                + s["graph.pagerank.collect"][-1]
            # superstep walls end before the checkpoint write, so this is
            # the durable runs' compute throughput: every superstep of the
            # uninterrupted run and of the resume (one wall per superstep)
            walls = r.superstep_wall_s + rr.superstep_wall_s
            s["pagerank_edges_per_s"].append(r.n_edges * len(walls) / sum(walls))
            s["cc_s"].append(s["graph.cc.checkpointed"][-1])
            s["checkpointed_solve_s"].append(solve + s["graph.cc.checkpointed"][-1])
            s["resume_s"].append(s["graph.pagerank.resume"][-1]
                                 + s["graph.pagerank.resume_collect"][-1] + s["graph.cc.resume"][-1])
            b1, f1 = _dir_size(pr_dir)
            b2, f2 = _dir_size(cc_dir)
            self.count("graph.checkpoint.bytes_written", b1 + b2)
            self.count("graph.checkpoint.files", f1 + f2)
            self.count("graph.checkpoint.overhead_s",
                       s["graph.pagerank.checkpointed"][-1] - sum(r.superstep_wall_s))
            self.count("graph.pagerank.iterations", r.iterations)
            self.count("graph.pagerank.prepare_s", s["graph.pagerank.prepare"][-1])
            self.count("graph.pagerank.superstep_s", sum(r.superstep_wall_s) / r.iterations)
            self.count("graph.pagerank.jobs_per_block",
                       self.tr.total(pr_span, "spark.jobs") / len(r.superstep_wall_s))
            self.count("graph.cc.rounds", len(sink.rows))
            self.count("graph.cc.round_s", _median([x["wall_ms"] / 1000 for x in sink.rows]))
            self.count("graph.cc.jobs", self.tr.total(cc_span, "spark.jobs"))
            steps = r.iterations

            def same_pr():
                a = full.sort_values("vertex")["rank"].to_numpy()
                b = resumed.sort_values("vertex")["rank"].to_numpy()
                if len(a) == len(b) and (abs(a - b) <= 1e-12 * a).all():
                    return None
                return "resumed pagerank differs from the uninterrupted run"

            def same_cc():
                a = labels.sort_values("vertex").reset_index(drop=True)
                b = resumed_cc.sort_values("vertex").reset_index(drop=True)
                return None if a.equals(b) else "resumed cc differs from the uninterrupted run"

            self.checks += [
                ("pagerank_checkpointed",
                 lambda: oracles.check_pagerank(self.graph(), full, steps)),
                ("cc_checkpointed", lambda: oracles.check_components(self.graph(), labels)),
                ("pagerank_resume", same_pr),
                ("cc_resume", same_cc),
            ]


WORKLOADS = {w.name: w for w in (PowerlawAnalytics, IncrementalResume)}
