"""The two closed-loop workloads. One client in one process; each operator
call waits for the previous one and is materialized before the next.

Only public entry points of the program are called: the executor-side
sources, the operators' public functions (with a driver hook through
their ``driver=`` argument), ``jobs/run_pipeline.run_pipeline``,
``modularity_score`` and the NumPy oracle.
"""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from comm_detect_spark.operators.components import connected_components
from comm_detect_spark.operators.lpa import lpa_sync
from comm_detect_spark.operators.modularity import modularity_score
from comm_detect_spark.operators.pagerank import pagerank
from comm_detect_spark.oracle import algorithms as oracle
from comm_detect_spark.sources.pages import generate_pages_distributed
from comm_detect_spark.sources.rmat import rmat_edges_distributed
from jobs.run_pipeline import run_pipeline

from perfbench.tracing import CountingDriver, JobTags, StampDriver

# R-MAT inputs are a pure function of (scale, edge_factor, seed,
# num_partitions); the partition count is pinned so that every host
# generates the same graph for the same seed.
GEN_PARTITIONS = 8

GRAPH_SCALE = 15
GRAPH_EDGE_FACTOR = 8
PAGERANK_ITERATIONS = 10

CRAWL_SCALE = 9
CRAWL_EDGE_FACTOR = 8
# The link plant is fixed; --seed drives run_pipeline's split/shard seed.
# Multi-block Louvain's time on R-MAT plants moves with the plant itself:
# 14-26 s over plant seeds 2-10 at 2^10 pages (2 or 3 levels), which alone
# would spread crawl_pipeline's wall time past any useful bound.
CRAWL_PLANT_SEED = 42
PIPELINE_ITERATIONS = 5
# Louvain's block decomposition changes its output; pinned so the
# communities do not depend on the host's core count.
LOUVAIN_BLOCKS = 4
# The default gates keep 0 synthetic pages (every page lang-ids as "und").
# These keep every page, so the dedup/split/shard tail runs on the whole
# corpus; the check below holds the kept share at KEEP_SHARE.
QUALITY = {
    "min_tokens": 10,
    "min_quality": 0.0,
    "max_dup_2gram": 1.0,
    "max_top_token": 1.0,
    "allowed_langs": ("und",),
}
KEEP_SHARE = 1.0
# Guard on Louvain quality: multi-block Louvain has no exact oracle.
MIN_MODULARITY = 0.25

RTOL_PAGERANK = 1e-6
TOL_MODULARITY = 1e-6


class InputMismatch(RuntimeError):
    """Generated inputs differ from the counts recorded for the seed."""


@dataclass
class OpCall:
    """One timed operator call."""

    op: str  # the operators.<op> module whose public function ran
    entries: int  # edge entries one iteration reads
    t0: float
    t1: float
    driver: CountingDriver

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


@dataclass
class Body:
    wall_s: float = 0.0
    calls: list[OpCall] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    edges_processed: int = 0
    outputs: dict = field(default_factory=dict)
    report: dict | None = None


def _run_op(body: Body, op, entries, fn, tags: JobTags | None):
    """Call ``fn(driver)``, materialize its result, record the call."""
    body.attempted += 1
    drv = StampDriver(tags, op) if tags else CountingDriver()
    if tags:
        tags.set(op, "setup", 0)
    t0 = time.perf_counter()
    try:
        out = fn(drv)
        out.count()
    except Exception:  # one failed call must not hide the others
        traceback.print_exc()
        body.failures.append(f"{op}: raised")
        return None
    body.calls.append(OpCall(op, entries, t0, time.perf_counter(), drv))
    body.edges_processed += entries * drv.iterations
    return out


def _check_counts(name: str, seed: int, got: dict, expected: dict) -> None:
    want = expected.get(name, {}).get(str(seed), {})
    if any(want[k] != v for k, v in got.items() if k in want):
        raise InputMismatch(
            f"{name} seed {seed}: generated {got}, recorded {want}"
        )


class GraphRmat:
    """PageRank, then LPA to convergence, then connected components to
    their fixpoint, on one executor-generated R-MAT graph."""

    name = "graph_rmat"

    def __init__(self, spark, seed: int, work_dir: str, expected: dict):
        self.spark, self.seed, self.expected = spark, seed, expected
        self.n = 1 << GRAPH_SCALE
        self.edges = self.sym = None
        self.counts: dict | None = None
        self.layer_s: dict[str, list[float]] = {"sources.rmat.gen_s": []}

    def setup_round(self, tags: JobTags | None = None) -> None:
        """Generate the inputs and fill the caches (one set-up round)."""
        self.release()
        if tags:
            tags.set("rmat_edges_distributed", "setup", 0)
        t0 = time.perf_counter()
        self.edges = rmat_edges_distributed(
            self.spark, GRAPH_SCALE, edge_factor=GRAPH_EDGE_FACTOR,
            seed=self.seed, num_partitions=GEN_PARTITIONS,
        ).persist()
        m = self.edges.count()
        self.layer_s["sources.rmat.gen_s"].append(time.perf_counter() - t0)
        # undirected view for LPA/CC: both directions, no self-loops,
        # parallel entries merged (the reference's adjacency convention)
        self.sym = (
            self.edges.select("src", "dst", "weight")
            .unionAll(self.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            ))
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
            .persist()
        )
        got = {"edges": m, "entries": self.sym.count()}
        if self.counts is not None and got != self.counts:
            raise InputMismatch(f"seed {self.seed}: {got} != {self.counts}")
        self.counts = got
        _check_counts(self.name, self.seed, got, self.expected)

    def warm_up(self) -> None:
        """One iteration of each operator on the same inputs (class
        loading, JIT), untimed."""
        pagerank(self.spark, self.edges, self.n, iterations=1).count()
        lpa_sync(self.spark, self.sym, self.n, max_iter=1).count()
        connected_components(self.spark, self.sym, self.n, rounds=1).count()

    def body(self, tags: JobTags | None = None) -> Body:
        b = Body()
        t0 = time.perf_counter()
        b.outputs["rank"] = _run_op(
            b, "pagerank", self.counts["edges"],
            lambda d: pagerank(self.spark, self.edges, self.n,
                               iterations=PAGERANK_ITERATIONS, tol=None,
                               driver=d),
            tags,
        )
        b.outputs["label"] = _run_op(
            b, "lpa", self.counts["entries"],
            lambda d: lpa_sync(self.spark, self.sym, self.n, driver=d), tags,
        )
        b.outputs["comp"] = _run_op(
            b, "components", self.counts["entries"],
            lambda d: connected_components(self.spark, self.sym, self.n,
                                           driver=d),
            tags,
        )
        b.wall_s = time.perf_counter() - t0
        return b

    def pages(self) -> int:
        return self.n

    def check(self, b: Body) -> list[str]:
        """Oracle parity; every failure names the operator it charges."""
        fails = []
        e = self.edges.toPandas()
        s = self.sym.toPandas()
        touched = int(np.unique(s["src"].to_numpy()).size)
        _check_counts(self.name, self.seed, {**self.counts,
                      "vertices": touched}, self.expected)

        def by_vid(df, col):
            pdf = df.toPandas().sort_values("vid")
            if not np.array_equal(pdf["vid"].to_numpy(), np.arange(self.n)):
                return None
            return pdf[col].to_numpy()

        if b.outputs.get("rank") is not None:
            ref = oracle.pagerank(
                self.n, e["src"].to_numpy(), e["dst"].to_numpy(),
                e["weight"].to_numpy(), iterations=PAGERANK_ITERATIONS,
            )
            got = by_vid(b.outputs["rank"], "rank")
            if got is None or not np.allclose(got, ref, rtol=RTOL_PAGERANK,
                                              atol=0.0):
                fails.append("pagerank: differs from oracle.pagerank")
        adj = oracle.Adjacency.from_entries(
            self.n, s["src"].to_numpy(), s["dst"].to_numpy(),
            s["weight"].to_numpy(),
        )
        if b.outputs.get("label") is not None:
            ref, sweeps = oracle.lpa_sync(adj)
            got = by_vid(b.outputs["label"], "label")
            drv = next(c.driver for c in b.calls if c.op == "lpa")
            if got is None or not np.array_equal(got, ref):
                fails.append("lpa: labels differ from oracle.lpa_sync")
            elif drv.iterations != sweeps:
                fails.append(f"lpa: {drv.iterations} sweeps, oracle {sweeps}")
        if b.outputs.get("comp") is not None:
            ref = oracle.connected_components(adj)
            got = by_vid(b.outputs["comp"], "comp")
            if got is None or not np.array_equal(got, ref):
                fails.append("components: ids differ from oracle")
        return fails

    def release(self) -> None:
        for df in (self.edges, self.sym):
            if df is not None:
                df.unpersist()


class CrawlPipeline:
    """``run_pipeline`` over a synthetic crawl: pages rendered from an
    R-MAT link plant and staged to parquet during set-up."""

    name = "crawl_pipeline"

    def __init__(self, spark, seed: int, work_dir: str, expected: dict):
        self.spark, self.seed, self.expected = spark, seed, expected
        self.work_dir = work_dir
        self.n_pages = 1 << CRAWL_SCALE
        self.planted = self.pages_df = None
        self.counts: dict | None = None
        self.layer_s: dict[str, list[float]] = {
            "sources.rmat.gen_s": [], "sources.pages.render_s": [],
        }
        self.runs = 0

    def setup_round(self, tags: JobTags | None = None) -> None:
        self.release()
        if tags:
            tags.set("rmat_edges_distributed", "setup", 0)
        t0 = time.perf_counter()
        self.planted = rmat_edges_distributed(
            self.spark, CRAWL_SCALE, edge_factor=CRAWL_EDGE_FACTOR,
            seed=CRAWL_PLANT_SEED, num_partitions=GEN_PARTITIONS,
        ).where(F.col("src") != F.col("dst")).persist()
        links = self.planted.count()  # distinct non-self (src, dst) pairs
        t1 = time.perf_counter()
        if tags:
            tags.set("generate_pages_distributed", "setup", 0)
        path = f"{self.work_dir}/pages"
        generate_pages_distributed(
            self.spark, self.n_pages, self.planted
        ).write.mode("overwrite").parquet(path)
        self.pages_df = self.spark.read.parquet(path)
        got = {"links": links, "pages": self.pages_df.count()}
        self.layer_s["sources.rmat.gen_s"].append(t1 - t0)
        self.layer_s["sources.pages.render_s"].append(time.perf_counter() - t1)
        if self.counts is not None and got != self.counts:
            raise InputMismatch(f"plant: {got} != {self.counts}")
        self.counts = got
        _check_counts(self.name, CRAWL_PLANT_SEED, got, self.expected)

    def warm_up(self) -> None:
        """One PageRank iteration over the planted links. A whole warm-up
        pipeline would cost as much as the timed one; see README."""
        pagerank(self.spark, self.planted, self.n_pages, iterations=1).count()

    def body(self, tags: JobTags | None = None) -> Body:
        b = Body(attempted=1)
        self.runs += 1
        out = f"{self.work_dir}/pipeline{self.runs}"
        if tags:
            tags.set("run_pipeline", "iter", 1)
        t0 = time.perf_counter()
        try:
            b.report = run_pipeline(
                self.spark, self.pages_df, out,
                iterations=PIPELINE_ITERATIONS, num_blocks=LOUVAIN_BLOCKS,
                seed=self.seed, quality_kwargs=QUALITY,
            )
        except Exception:
            traceback.print_exc()
            b.failures.append("run_pipeline: raised")
        b.wall_s = time.perf_counter() - t0
        b.outputs["out"] = out
        b.edges_processed = self.counts["links"] * PIPELINE_ITERATIONS
        return b

    def pages(self) -> int:
        return self.n_pages

    def check(self, b: Body) -> list[str]:
        if b.report is None:
            return []
        fails = []
        rows = b.report["rows"]
        empty = sorted(k for k, v in rows.items() if v <= 0)
        if empty:
            fails.append(f"run_pipeline: empty stages {empty}")
        if rows.get("url_edges") != self.counts["links"]:
            fails.append(
                f"run_pipeline: url_edges {rows.get('url_edges')} != "
                f"{self.counts['links']} planted links"
            )
        if rows.get("vertices") != self.n_pages:
            fails.append(f"run_pipeline: {rows.get('vertices')} vertices")
        read = self.spark.read.parquet
        out = b.outputs["out"]
        kept = read(f"{out}/quality").where("keep").count()
        if kept != round(KEEP_SHARE * self.n_pages):
            fails.append(f"run_pipeline: quality kept {kept} pages")
        edges = read(f"{out}/edges")
        sym = (
            edges.select("src", "dst", "weight")
            .union(edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            ))
            .dropDuplicates(["src", "dst"])
        )
        labels = read(f"{out}/communities").join(
            read(f"{out}/vertices"), "url"
        ).select("vid", "label")
        b.attempted += 1
        q = modularity_score(sym, labels)
        s = sym.toPandas()
        lab = labels.toPandas().sort_values("vid")
        adj = oracle.Adjacency.from_entries(
            self.n_pages, s["src"].to_numpy(), s["dst"].to_numpy(),
            s["weight"].to_numpy(),
        )
        if not np.array_equal(lab["vid"].to_numpy(), np.arange(self.n_pages)):
            return fails + ["run_pipeline: communities miss vertices"]
        q_ref = oracle.modularity(adj, lab["label"].to_numpy())
        b.outputs["modularity_q"] = q
        if abs(q - q_ref) > TOL_MODULARITY:
            fails.append(f"modularity_score: {q} vs oracle {q_ref}")
        if q < MIN_MODULARITY:
            fails.append(f"run_pipeline: Louvain Q {q:.4f} < {MIN_MODULARITY}")
        return fails

    def release(self) -> None:
        if self.planted is not None:
            self.planted.unpersist()


WORKLOADS = {w.name: w for w in (GraphRmat, CrawlPipeline)}
