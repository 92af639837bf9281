"""Katz centrality — NumPy replay parity, beta anchoring, dangling
semantics, one-exchange-per-iteration plan assertion."""

import numpy as np

from comm_detect_spark.operators.katz import katz
from tests.conftest import edges_df

EDGES = [
    (0, 1, 1), (0, 2, 2), (1, 2, 1), (2, 3, 1), (3, 0, 3), (1, 4, 1),
]
N = 5


def _np_katz(edges, n, iters, alpha, beta):
    A = np.zeros((n, n))
    for s, d, w in edges:
        A[s, d] += w
    x = np.full(n, beta)
    for _ in range(iters):
        x = beta + alpha * (A.T @ x)
    return x


class TestKatz:
    def _edges(self, spark):
        return edges_df(
            spark, N,
            [s for s, _, _ in EDGES],
            [d for _, d, _ in EDGES],
            [w for _, _, w in EDGES],
        )

    def test_matches_numpy_replay(self, spark):
        got = {
            r["vid"]: r["score"]
            for r in katz(
                spark, self._edges(spark), N, iterations=6, alpha=0.1
            ).collect()
        }
        want = _np_katz(EDGES, N, 6, 0.1, 1.0)
        assert got.keys() == set(range(N))
        for v in range(N):
            assert abs(got[v] - want[v]) < 1e-9, v

    def test_source_only_vertex_keeps_beta(self, spark):
        # vertex with no in-edges: score stays exactly beta every round
        e = edges_df(spark, 3, [0, 0], [1, 2], [1, 1])
        got = {
            r["vid"]: r["score"]
            for r in katz(spark, e, 3, iterations=4, beta=2.0).collect()
        }
        assert got[0] == 2.0

    def test_one_exchange_per_iteration(self, spark):
        # Katz's iteration from the core's step builder: the gather join is
        # exchange-free (edges cached on src, state on vid); only the dst
        # agg exchanges. Same counter as the pagerank/lpa plan assertions
        # (live_exchange_count skips cached subtrees).
        from tests.test_plans import live_exchange_count, power_iteration_plan

        plan = power_iteration_plan(spark, normalize=False)
        assert live_exchange_count(plan) == 1, plan
