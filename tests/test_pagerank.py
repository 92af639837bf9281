"""The power-iteration family (pagerank, personalized_pagerank,
pagerank_trace, katz) against the NumPy oracle and replays on in-repo
graphs: a directed R-MAT with dangling vertices and the weighted karate
club."""

import numpy as np
import pytest

from comm_detect_spark import oracle
from comm_detect_spark.graph.core import adaptive_partitions
from comm_detect_spark.operators.katz import katz
from comm_detect_spark.operators.pagerank import (
    pagerank,
    pagerank_trace,
    personalized_pagerank,
)
from tests.conftest import edges_df
from tests.test_katz import _np_katz
from tests.test_operators import to_vec


@pytest.mark.parametrize("tol", [None, 1e-4])
def test_pagerank_matches_oracle(spark, directed_graph, tol):
    n, s, d, w, e = directed_graph
    got = to_vec(
        pagerank(spark, e, n, iterations=40, tol=tol), n, dtype=np.float64
    )
    want = oracle.pagerank(n, s, d, w.astype(float), iterations=40, tol=tol)
    assert np.allclose(got, want, atol=1e-6)


def test_salted_equals_unsalted(spark, directed_graph):
    n, _, _, _, e = directed_graph
    plain = to_vec(pagerank(spark, e, n, iterations=5), n, dtype=np.float64)
    salted = to_vec(
        pagerank(spark, e, n, iterations=5, salt=4), n, dtype=np.float64
    )
    assert np.allclose(plain, salted, atol=1e-9)


def test_personalized_pagerank_matches_oracle(spark, directed_graph):
    n, s, d, w, e = directed_graph
    want = oracle.personalized_pagerank(
        n, s, d, seeds=[0, 5, 17], weight=w.astype(float), iterations=8
    )
    seeds = spark.createDataFrame([(0,), (5,), (17,)], "vid BIGINT")
    got = to_vec(
        personalized_pagerank(spark, e, seeds, n=n, iterations=8),
        n, dtype=np.float64,
    )
    assert np.allclose(got, want, atol=1e-6)


def test_katz_matches_numpy_replay(spark, directed_graph):
    n, s, d, w, e = directed_graph
    got = to_vec(
        katz(spark, e, n, iterations=6, alpha=0.01), n, dtype=np.float64
    )
    want = _np_katz(zip(s, d, w), n, 6, 0.01, 1.0)
    assert np.allclose(got, want, rtol=1e-12, atol=1e-9)


def test_pagerank_trace_matches_numpy_replay(spark, directed_graph):
    n, s, d, w, e = directed_graph
    verts = spark.range(n).withColumnRenamed("id", "vid")
    got = {
        r["iter"]: r["l1_delta"]
        for r in pagerank_trace(spark, e, verts, iterations=4).collect()
    }
    ranks = [
        oracle.pagerank(n, s, d, w.astype(float), iterations=k)
        for k in range(5)
    ]
    assert set(got) == {1, 2, 3, 4}
    for k in range(1, 5):
        want = np.abs(ranks[k] - ranks[k - 1]).sum()
        assert got[k] == pytest.approx(round(want, 9), abs=1e-9), k


def test_bad_partition_count_fails_loudly(spark):
    n = 3
    e = edges_df(spark, n, [0, 1], [1, 2], [1, 1])
    assert adaptive_partitions(spark, n, 3) == 3
    for bad in (0, -1):
        with pytest.raises(ValueError, match="num_partitions"):
            adaptive_partitions(spark, n, bad)
    with pytest.raises(ValueError, match="num_partitions"):
        pagerank(spark, e, n, num_partitions=0)
    with pytest.raises(ValueError, match="num_partitions"):
        katz(spark, e, n, num_partitions=0)
