"""Metric names and units. BENCHMARK.json lists the same names; every run
prints every metric of its mode (0 where a layer does not run in that
workload)."""

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("edges_per_s", "edges/s"),
    ("pages_per_s", "pages/s"),
    ("peak_rss_mb", "MB"),
)

OPS = ("pagerank", "lpa", "components")
OP_METRICS = (
    ("wall_s", "s"),
    ("setup_s", "s"),
    ("iter_s", "s"),
    ("iter_max_s", "s"),
    ("finish_s", "s"),
    ("iterations", "count"),
    ("iter_edges_per_s", "edges/s"),
    ("jobs_per_iter", "count"),
    ("shuffle_read_bytes_per_iter", "bytes"),
    ("shuffle_write_bytes_per_iter", "bytes"),
    ("spill_bytes", "bytes"),
    ("peak_exec_mem_bytes", "bytes"),
    ("gc_s", "s"),
    ("executor_cpu_s", "s"),
    ("task_skew", "ratio"),
)
PIPELINE_STAGES = (
    "url_edges", "extract_graph", "host_graph", "pagerank_iters", "louvain",
    "quality", "keep_list", "split", "shards",
)


def per_layer() -> list[tuple[str, str]]:
    out = [
        (f"operators.{op}.{m}", u) for op in OPS for (m, u) in OP_METRICS
    ]
    out += [(f"jobs.run_pipeline.{s}_s", "s") for s in PIPELINE_STAGES]
    out += [
        ("jobs.run_pipeline.modularity_q", "ratio"),
        ("operators.louvain.executor_cpu_s", "s"),
        ("operators.louvain.gc_s", "s"),
        ("operators.louvain.python_bytes_sent", "bytes"),
        ("operators.louvain.python_bytes_returned", "bytes"),
        ("sources.rmat.gen_s", "s"),
        ("sources.pages.render_s", "s"),
        ("sources.pages.extract_s", "s"),
        ("trace.wall_s", "s"),
        ("trace.overhead_s", "s"),
        ("trace.phases_without_jobs", "count"),
    ]
    return out
