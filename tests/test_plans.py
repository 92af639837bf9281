"""Physical-plan assertions — the scale contract, checked in CI:
column pruning reaches the parquet scan, aggregations are hash-based with
map-side partial aggregation, the hot paths stay in whole-stage codegen,
and nothing falls back to cartesian products."""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestScanPruning:
    def test_doc_stats_prunes_columns(self, spark):
        # cached relations from other tests defeat scan pruning (Spark
        # substitutes the full InMemoryRelation) — inspect the cold plan
        spark.catalog.clearCache()
        df = entry_mod.queries()["doc_stats"](spark, SF)
        plan = plan_of(df)
        scan = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scan, plan
        # only doc_id + text may be read; lang/source/n_chars must be pruned
        assert "lang" not in scan[0] and "source" not in scan[0], scan[0]

    def test_graph_query_prunes_lineitem(self, spark):
        df = entry_mod.queries()["graph_volumes"](spark, SF)
        plan = plan_of(df)
        scan = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scan
        assert "l_extendedprice" not in scan[0] and "l_quantity" not in scan[0]

    def test_filter_pushdown_triangle_edges(self, spark):
        # l_linenumber = 1 must reach the scan as a pushed filter
        from __spark_entry__ import _t_edges

        plan = plan_of(_t_edges(spark, SF))
        assert "PushedFilters" in plan
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
        assert any("l_linenumber" in l for l in pushed), pushed


class TestAggAndJoins:
    def test_lpa_step_is_hash_agg_no_sort(self, spark, jazz_df):
        from comm_detect_spark.graph.core import vertex_range
        from comm_detect_spark.operators.lpa import lpa_step

        state = vertex_range(spark, 198).withColumn("label", F.col("vid"))
        plan = plan_of(lpa_step(jazz_df, state))
        assert "HashAggregate" in plan
        # the argmax is max_by(struct), not a window sort
        assert "Window" not in plan

    def test_no_cartesian_products_anywhere(self, spark):
        qs = entry_mod.queries()
        for name in ["lpa_round1", "cc_round1", "triangle_total", "coarsen_mod10"]:
            plan = plan_of(qs[name](spark, SF))
            assert "CartesianProduct" not in plan, name

    def test_whole_stage_codegen_in_volume_agg(self, spark):
        # AQE reports 0 codegen subtrees until stages finalize — disable it
        # for this one static-plan inspection
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            df = entry_mod.queries()["graph_volumes"](spark, SF)
            codegen = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen"
            )
            assert "WholeStageCodegen subtrees" in codegen
            assert not codegen.startswith("Found 0 WholeStageCodegen")
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


def power_iteration_plan(spark, normalize: bool) -> str:
    """Formatted plan of one iteration built by the power-iteration core's
    step builder — PageRank's (``normalize=True``) or Katz's — over a graph
    whose 97 vertices all have out-edges, with broadcast joins off."""
    from comm_detect_spark.operators.pagerank import _setup, _step

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # P must equal spark.sql.shuffle.partitions: the dst aggregation
        # exchanges to the conf count, and the state re-join rides it
        P = int(spark.conf.get("spark.sql.shuffle.partitions"))
        edges = spark.range(1000).select(
            (F.col("id") % 97).alias("src"),
            (F.col("id") % 89).alias("dst"),
            F.lit(1).cast("bigint").alias("weight"),
        )
        with _setup(spark, edges, 97, None, P, normalize=normalize) as g:
            # a plain cached state: the setup's own cached frames nested in
            # it would defeat live_lines' indentation walk
            flags = [F.lit(False).alias("dang")] if normalize else []
            state = (
                spark.range(97)
                .select(F.col("id").alias("vid"), *flags,
                        F.lit(1.0 / 97).alias("rank"))
                .repartition(P, "vid")
                .persist()
            )
            state.count()
            plan = plan_of(_step(g, state, 0.85, F.lit(0.15 / 97)))
            state.unpersist()
        return plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def live_lines(plan: str) -> list[str]:
    """Lines of the LIVE plan tree: cached-relation subplans
    (InMemoryRelation init) are excluded."""
    tree = plan.split("\n\n")[0]
    lines, skip_indent = [], None
    for line in tree.splitlines():
        m = re.search(r"[A-Za-z]", line)
        if not m:
            continue
        ind = m.start()
        if skip_indent is not None:
            if ind > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = ind
            continue
        lines.append(line)
    return lines


def live_exchange_count(plan: str) -> int:
    """Shuffle exchanges in the LIVE plan tree; broadcasts don't count."""
    return sum(1 for line in live_lines(plan) if re.search(r"\bExchange\b", line))


class TestShuffleBudget:
    def test_lpa_sweep_single_exchange(self, spark):
        """The per-sweep shuffle contract behind the scaling bench: with the
        edge table cached hash-partitioned on src and the state on vid (same
        P), one sweep = exactly ONE exchange (the dst repartition) — both
        joins and both aggregations are exchange-free."""
        from comm_detect_spark.operators.lpa import lpa_step

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            P = 8
            edges = spark.range(1000).select(
                (F.col("id") % 97).alias("src"),
                (F.col("id") % 89).alias("dst"),
                F.lit(1).cast("bigint").alias("weight"),
            )
            e = edges.repartition(P, "src").persist()
            e.count()
            state = (
                spark.range(100)
                .select(F.col("id").alias("vid"), F.col("id").alias("label"))
                .repartition(P, "vid")
                .persist()
            )
            state.count()
            plan = plan_of(lpa_step(e, state, num_partitions=P))
            assert live_exchange_count(plan) == 1, plan
            e.unpersist()
            state.unpersist()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_bucketed_edges_join_no_exchange(self, spark):
        """sources/bucketed.py contract: a join on src above a bucketed scan
        inserts NO exchange anywhere when the other side is already
        partitioned to the bucket count — the cluster-scale equivalent of
        the cached repartition the iterative operators use locally."""
        from comm_detect_spark.sources.bucketed import (
            read_bucketed_edges,
            write_bucketed_edges,
        )

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            buckets = 4
            edges = spark.range(2000).select(
                (F.col("id") % 131).alias("src"),
                (F.col("id") % 117).alias("dst"),
                F.lit(1).cast("bigint").alias("weight"),
            )
            write_bucketed_edges(edges, "t_bucketed_edges", buckets)
            scan = read_bucketed_edges(spark, "t_bucketed_edges")
            state = (
                spark.range(131)
                .select(F.col("id").alias("src"), F.col("id").alias("label"))
                .repartition(buckets, "src")
                .persist()
            )
            state.count()
            joined = scan.join(state, "src")
            assert live_exchange_count(plan_of(joined)) == 0, plan_of(joined)
            state.unpersist()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS t_bucketed_edges")

    def test_pack_shards_no_single_partition_window(self, spark):
        """pack_shards' prefix sum must be the two-phase range-partitioned
        form — a naive SUM() OVER (ORDER BY ...) serializes the corpus
        through one reducer. The plan may contain range/hash exchanges but
        never a SinglePartition one."""
        from comm_detect_spark.operators.corpus import pack_shards

        df = spark.range(5000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("tokens")
        )
        out = pack_shards(df, shard_tokens=1000)
        plan = plan_of(out)
        assert "SinglePartition" not in plan, plan
        # sanity on the result itself: offsets strictly increase in the
        # deterministic hash order and every shard respects the budget
        rows = out.collect()
        assert len(rows) == 5000
        by_off = sorted(rows, key=lambda r: r["start_offset"])
        assert by_off[0]["start_offset"] == 0
        for r in by_off:
            assert r["shard_id"] == r["start_offset"] // 1000

    def test_pack_shards_rejects_null_tokens(self, spark):
        """r4 advisor (low): a NULL token count must fail loudly at the
        scan — silently nulled offsets (or a driver TypeError from an
        all-null partition total) would corrupt every downstream shard."""
        import pytest

        from comm_detect_spark.operators.corpus import pack_shards

        df = spark.createDataFrame(
            [(1, 5), (2, None), (3, 7)], "doc_id BIGINT, tokens BIGINT"
        )
        with pytest.raises(Exception, match="pack_shards: NULL"):
            pack_shards(df, shard_tokens=10).collect()

    def test_decontaminate_benchmark_join_is_broadcast(self, spark):
        """The benchmark side must broadcast (eval sets are MBs vs a TB
        corpus) — a silent fallback to sort-merge would shuffle the full
        exploded shingle table."""
        from comm_detect_spark.operators.dedup import decontaminate

        docs = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("document text number "), F.col("id").cast("string"),
                     F.lit(" with some shared words")).alias("text"),
        )
        bench = docs.where(F.col("doc_id") % 10 == 0).select("text")
        plan = plan_of(decontaminate(docs, bench, n=3))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan, plan

    def test_bucketed_output_join_no_exchange(self, spark, tmp_path):
        """sinks.write_bucketed contract (jobs/run_algorithm
        --output-buckets): an algorithm output registered as a vid-bucketed
        table joins a same-bucketed consumer with NO exchange — the write
        pre-pays the shuffle every downstream consumer would otherwise
        repeat."""
        from comm_detect_spark.sources.sinks import write_bucketed

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            buckets = 4
            out = spark.range(500).select(
                F.col("id").alias("vid"), (F.col("id") % 7).alias("label")
            )
            write_bucketed(
                out, "t_bucketed_out", str(tmp_path / "out"), buckets
            )
            scan = spark.table("t_bucketed_out")
            consumer = (
                spark.range(500)
                .select(F.col("id").alias("vid"), F.lit("u").alias("url"))
                .repartition(buckets, "vid")
                .persist()
            )
            consumer.count()
            joined = scan.join(consumer, "vid")
            assert live_exchange_count(plan_of(joined)) == 0, plan_of(joined)
            consumer.unpersist()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS t_bucketed_out")

    def test_ivf_pruned_probe_is_a_partition_filter(self, spark, tmp_path):
        """write_ivf_table partitions by list_id, so ivf_topk_pruned's probe
        must reach the scan as a PARTITION filter (non-probed lists never
        read) — not a post-scan predicate."""
        import numpy as np

        from comm_detect_spark.operators.similarity import (
            ivf_topk_pruned,
            write_ivf_table,
        )

        rng = np.random.Generator(np.random.PCG64(3))
        vecs = rng.standard_normal((64, 4))
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )
        cent = rng.standard_normal((8, 4))
        path = str(tmp_path / "ivf")
        write_ivf_table(df, path, cent)
        out = ivf_topk_pruned(
            spark, path, [float(x) for x in vecs[0]], cent, k=3, nprobe=2
        )
        plan = plan_of(out)
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert pf and any("list_id" in l for l in pf), plan
        assert out.count() == 3

    def test_dense_relabel_no_single_partition_exchange(self, spark):
        """Louvain's dense relabel must never funnel the distinct label set
        through one reducer: after the first local-move level on a web graph
        the community count is still O(10^9). The two-phase rank
        (graph.core.dense_ids) keeps every stage partition-parallel — the
        plan may not contain a SinglePartition exchange (the signature of a
        global-sort window)."""
        from comm_detect_spark.operators.louvain import dense_relabel

        state = spark.range(500).select(
            F.col("id").alias("vid"),
            ((F.col("id") % 37) * 1000).alias("label"),
        )
        out = dense_relabel(state)
        assert "SinglePartition" not in plan_of(out), plan_of(out)
        # unchanged semantics: dense 0..k-1 in ascending original-label order
        rows = {r["vid"]: r["label"] for r in out.collect()}
        assert sorted(set(rows.values())) == list(range(37))
        assert all(rows[v] == v % 37 for v in range(500))

    def test_pagerank_iteration_single_exchange(self, spark):
        """The power-iteration contract, on the core's real step builder
        for uniform PageRank and for Katz: cached edges hash(src, P) +
        state hash(vid, P) -> the only live exchange is the dst
        aggregation (map-side partial agg included); shuffled-hash joins,
        nothing sorts, no Python UDF."""
        for normalize in (True, False):
            plan = power_iteration_plan(spark, normalize)
            live = "\n".join(live_lines(plan))
            assert live_exchange_count(plan) == 1, plan
            assert "ShuffledHashJoin" in live, plan
            assert "SortMergeJoin" not in live, plan
            assert not re.search(r"\bSort\b", live), plan
            assert "EvalPython" not in live, plan
