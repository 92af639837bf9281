"""Graph primitives over the relational edge table.

The graph is a DataFrame ``edges(src BIGINT, dst BIGINT, weight BIGINT)``
holding adjacency ENTRIES (reference convention, graph.cc:31-51: undirected
edges present in both directions, self-loops once). Everything here is a
single declarative plan — Catalyst gets partial aggregation, pushdown and
pruning for free; nothing collects more than a scalar to the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def edges_from_numpy(spark: SparkSession, n, src, dst, weight=None) -> DataFrame:
    """Test/bench helper: adjacency-entry arrays -> edges DataFrame."""
    import pandas as pd

    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    if weight is None:
        weight = np.ones_like(src)
    pdf = pd.DataFrame(
        {"src": src, "dst": dst, "weight": np.asarray(weight, dtype=np.int64)}
    )
    return spark.createDataFrame(pdf)


def vertex_range(spark: SparkSession, n: int) -> DataFrame:
    """Dense vertex table vid = 0..n-1 (distributed range, no driver data)."""
    return spark.range(n).select(F.col("id").alias("vid"))


def adaptive_partitions(
    spark: SparkSession,
    n: int,
    num_partitions: int | None = None,
    rows_per_partition: int = 32768,
) -> int:
    """Scale-adaptive partition count for vertex-state iteration loops
    (guide §2: derive partitioning from input size, never a constant tuned
    to one scale). An explicit ``num_partitions`` always wins; otherwise
    the count grows with the vertex count (one partition per
    ``rows_per_partition`` vertices — with typical edge factors that is a
    few hundred thousand to a few million edge rows per task), floored at
    ``defaultParallelism`` (every stage stays cluster-wide parallel; r7
    measured that shrinking tiny local graphs below the thread count COSTS
    ~25% — scripts/lpa_p_test.py — because the serialized sweep loses more
    than empty-task scheduling saves) and capped by
    ``spark.sql.shuffle.partitions``, the cluster-sized ceiling. A
    ``num_partitions`` below 1 raises ValueError."""
    if num_partitions is not None:
        if num_partitions < 1:
            raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
        return num_partitions
    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = spark.sparkContext.defaultParallelism
    return max(1, min(conf, max(floor, n // rows_per_partition)))


def dense_ids(
    keys: DataFrame, key_col: str, id_col: str = "vid"
) -> DataFrame:
    """(key, id): deterministic dense ids 0..k-1 in ascending ``key_col``
    order over an already-DISTINCT key table — WITHOUT a single-reducer
    global sort. NEVER monotonically_increasing_id — that is
    partition-layout dependent and breaks resume/determinism.

    Two-phase trick: range-partition the keys (parallel sort), count per
    partition, prefix-sum the counts on the driver (one row per partition —
    tiny), then offset a per-partition row_number. Same result as
    row_number() OVER (ORDER BY key) - 1, but every stage is partition-
    parallel; this is what survives 10^12 keys."""
    # global order via range partitioning (repartitionByRange), then a
    # per-partition row_number window (no global shuffle to one reducer).
    # MATERIALIZE the ranged layout once (localCheckpoint): range boundaries
    # come from sampling and are not reproducible across executions, so the
    # counts job and the row_number job below must read the SAME frozen
    # partition assignment or ids could duplicate/gap.
    ranged = (
        keys.repartitionByRange(F.col(key_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = (
        ranged.groupBy("_pid").count().orderBy("_pid").collect()
    )  # one row per partition — driver-size safe
    offsets = {}
    acc = 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    offset_df = ranged.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid INT, _off BIGINT"
    )
    w = Window.partitionBy("_pid").orderBy(key_col)
    return (
        ranged.withColumn("_rn", F.row_number().over(w) - 1)
        .join(F.broadcast(offset_df), "_pid")
        .select(F.col(key_col), (F.col("_rn") + F.col("_off")).alias(id_col))
    )


def mint_vertex_ids(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Deterministic dense vertex ids: row_number over urls sorted ascending,
    minus 1 (FIXTURES.md §2). Two-phase range-partitioned — see dense_ids.
    """
    return dense_ids(urls.select(url_col).distinct(), url_col)


def weight_net(edges: DataFrame) -> int:
    """Sum of ALL adjacency entries (modularity.h:54-66, plm.cc:414-433)."""
    row = edges.agg(F.sum("weight").alias("w")).collect()[0]
    return int(row["w"] or 0)


def volumes_df(edges: DataFrame) -> DataFrame:
    """(vid, vol): weighted degree with self-loops counted TWICE
    (modularity.h:68-81). One scan, one partial+final hash agg."""
    return edges.groupBy(F.col("src").alias("vid")).agg(
        (
            F.sum("weight")
            + F.coalesce(
                F.sum(F.when(F.col("src") == F.col("dst"), F.col("weight"))),
                F.lit(0),
            )
        ).alias("vol")
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(vid, out_deg, out_weight) over the directed edge table."""
    return edges.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("out_deg"),
        F.sum("weight").alias("out_weight"),
    )


def out_weights(edges: DataFrame) -> DataFrame:
    """(src, wout) — total outgoing weight per source (PageRank denominator)."""
    return edges.groupBy("src").agg(F.sum("weight").alias("wout"))
