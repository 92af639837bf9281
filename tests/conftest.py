"""Shared fixtures: one session-scoped SparkSession for the whole run.

Tests use a small core count + few shuffle partitions: correctness here,
scale in bench.py.
"""

from __future__ import annotations

import numpy as np
import pytest

from comm_detect_spark.oracle import Adjacency, jazz_edges, karate_edges, rmat_edges


@pytest.fixture(scope="session")
def spark():
    from comm_detect_spark.session import get_spark

    s = get_spark(app_name="comm-detect-tests", cores=8, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def jazz():
    """(n, src, dst, w) adjacency entries of the reference's own fixture."""
    return jazz_edges()


@pytest.fixture(scope="session")
def jazz_adj(jazz):
    n, s, d, w = jazz
    return Adjacency.from_entries(n, s, d, w)


@pytest.fixture(scope="session")
def jazz_df(spark, jazz):
    n, s, d, w = jazz
    df = edges_df(spark, n, s, d, w).persist()
    df.count()
    return df


@pytest.fixture(scope="session", params=["rmat", "karate"])
def directed_graph(request, spark):
    """(n, src, dst, w, edges DataFrame) of an in-repo graph: a directed
    R-MAT with dangling vertices and duplicate edges, or the weighted
    karate club (both directions, no dangling vertex)."""
    if request.param == "rmat":
        n, s, d, w = rmat_edges(scale=7, edge_factor=4, seed=3)
    else:
        n, s, d, w = karate_edges()
    df = edges_df(spark, n, s, d, w).persist()
    df.count()
    return n, s, d, w, df


def edges_df(spark, n, src, dst, w):
    """Adjacency entries -> Spark edges DataFrame (src, dst, weight)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "src": np.asarray(src, dtype=np.int64),
            "dst": np.asarray(dst, dtype=np.int64),
            "weight": np.asarray(w, dtype=np.int64),
        }
    )
    return spark.createDataFrame(pdf)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: separate-JVM / long-running end-to-end tests"
    )
