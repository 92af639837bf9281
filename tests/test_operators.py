"""Spark operators vs the NumPy oracle on the reference's fixture (jazz)
and the planted graphs — the correctness gates of BASELINE.md."""

import numpy as np
import pytest

from comm_detect_spark import oracle
from comm_detect_spark.graph import edges_from_numpy
from comm_detect_spark.operators import (
    connected_components,
    lpa_sync,
    modularity_score,
    pagerank,
    triangle_counts,
)
from comm_detect_spark.operators.triangles import triangle_total


def to_vec(df, n, key="vid", val=None, dtype=np.int64, default=0):
    """Collect a (vid, x) DataFrame into a dense numpy vector."""
    val = val or [c for c in df.columns if c != key][0]
    out = np.full(n, default, dtype=dtype)
    for row in df.collect():
        out[row[key]] = row[val]
    return out


class TestPageRank:
    def test_dangling_mass(self, spark):
        # 0 -> 1 -> 2, node 2 dangling
        e = edges_from_numpy(spark, 3, [0, 1], [1, 2], [1, 1])
        got = to_vec(pagerank(spark, e, 3, iterations=8), 3, dtype=np.float64)
        want = oracle.pagerank(3, [0, 1], [1, 2], iterations=8)
        assert np.allclose(got, want, atol=1e-9)


class TestConnectedComponents:
    def test_two_components_exact(self, spark):
        n, s, d, w = oracle.two_components(k=4, c=8)
        e = edges_from_numpy(spark, n, s, d, w)
        got = to_vec(connected_components(spark, e, n), n)
        want = oracle.connected_components(
            oracle.Adjacency.from_entries(n, s, d, w)
        )
        assert np.array_equal(got, want)

    def test_jazz_single_component(self, spark, jazz, jazz_df):
        n = jazz[0]
        got = to_vec(connected_components(spark, jazz_df, n), n)
        assert np.all(got == 0)

    def test_giant_component_star_skew(self, spark):
        """Adversarial skew: a star with 10^6 spokes collapses every vertex
        onto comp=0 after round 1, so the pointer-jump probe side carries
        ONE join key. The semi-filtered build side (components.py) lets AQE
        broadcast it instead of shuffling the hot key; this must complete
        quickly and exactly."""
        from pyspark.sql import functions as F

        n = 1_000_001
        spokes = spark.range(1, n).select(
            F.lit(0).cast("bigint").alias("src"),
            F.col("id").alias("dst"),
            F.lit(1).cast("bigint").alias("weight"),
        )
        e = spokes.unionAll(
            spokes.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        out = connected_components(spark, e, n)
        assert out.where(F.col("comp") != 0).count() == 0
        assert out.count() == n

    def test_fixpoint_mode_fails_loud_on_budget_exhaustion(self, spark):
        """A path graph needs ~log2(diameter) rounds; max_iter=1 cannot
        converge and must raise (scc/sssp/kcore contract) instead of
        returning a silently-partial labeling. rounds=1 is the explicit
        fixed-rounds request and must NOT raise."""
        import pytest

        n = 8
        pairs = [(i, i + 1) for i in range(n - 1)]
        pairs += [(b, a) for a, b in pairs]
        e = edges_from_numpy(
            spark,
            n,
            np.array([a for a, _ in pairs]),
            np.array([b for _, b in pairs]),
            np.ones(len(pairs)),
        )
        with pytest.raises(RuntimeError, match="still changing"):
            connected_components(spark, e, n, max_iter=1)
        assert connected_components(spark, e, n, rounds=1).count() == n


class TestLpaSync:
    def test_jazz_exact(self, spark, jazz, jazz_df):
        n, s, d, w = jazz
        got = to_vec(lpa_sync(spark, jazz_df, n), n)
        adj = oracle.Adjacency.from_entries(n, s, d, w)
        want, _ = oracle.lpa_sync(adj)
        assert np.array_equal(got, want)

    def test_ring_of_cliques(self, spark):
        n, s, d, w = oracle.ring_of_cliques(k=4, c=8)
        e = edges_from_numpy(spark, n, s, d, w)
        got = to_vec(lpa_sync(spark, e, n), n)
        adj = oracle.Adjacency.from_entries(n, s, d, w)
        want, _ = oracle.lpa_sync(adj)
        assert np.array_equal(got, want)


class TestModularity:
    def test_weighted_triangle_constants(self, spark):
        n, s, d, w = oracle.weighted_triangle()
        e = edges_from_numpy(spark, n, s, d, w)
        labels = spark.createDataFrame(
            [(0, 0), (1, 0), (2, 2)], "vid BIGINT, label BIGINT"
        )
        adj = oracle.Adjacency.from_entries(n, s, d, w)
        want = oracle.modularity(adj, np.array([0, 0, 2]))
        assert modularity_score(e, labels) == pytest.approx(want, abs=1e-12)

    def test_jazz_louvain_partition(self, spark, jazz, jazz_df):
        n, s, d, w = jazz
        adj = oracle.Adjacency.from_entries(n, s, d, w)
        lab, _ = oracle.louvain(adj)
        labels = spark.createDataFrame(
            [(int(i), int(l)) for i, l in enumerate(lab)], "vid BIGINT, label BIGINT"
        )
        assert modularity_score(jazz_df, labels) == pytest.approx(
            oracle.modularity(adj, lab), abs=1e-6
        )


class TestTriangles:
    def test_jazz_total(self, spark, jazz_df):
        assert triangle_total(jazz_df) == 17899

    def test_jazz_per_vertex(self, spark, jazz, jazz_df):
        n, s, d, w = jazz
        got = to_vec(triangle_counts(jazz_df), n)
        adj = oracle.Adjacency.from_entries(n, s, d, w)
        want, _ = oracle.triangle_counts(adj)
        assert np.array_equal(got, want)

    def test_ring_of_cliques_total(self, spark):
        n, s, d, w = oracle.ring_of_cliques(k=4, c=8)
        e = edges_from_numpy(spark, n, s, d, w)
        assert triangle_total(e) == 4 * (8 * 7 * 6 // 6)


class TestKCore:
    def test_cascade_peel(self, spark):
        """A 4-clique with a pendant path: the path peels vertex by vertex
        (cascade — one round is NOT enough), the clique survives k=3."""
        # clique 0-1-2-3; path 3-4-5-6
        s = np.array([0, 0, 0, 1, 1, 2, 3, 4, 5], dtype=np.int64)
        d = np.array([1, 2, 3, 2, 3, 3, 4, 5, 6], dtype=np.int64)
        ss = np.concatenate([s, d])
        dd = np.concatenate([d, s])
        w = np.ones(ss.size, dtype=np.int64)
        e = edges_from_numpy(spark, 7, ss, dd, w)
        from comm_detect_spark.operators import k_core

        got = {r["vid"]: r["in_core"] for r in k_core(spark, e, k=3).collect()}
        assert got == {0: True, 1: True, 2: True, 3: True,
                       4: False, 5: False, 6: False}

    def test_matches_numpy_oracle_on_jazz(self, spark, jazz, jazz_df):
        from comm_detect_spark.operators import k_core

        n, s, d, w = jazz
        adj = oracle.Adjacency.from_entries(n, s, d, w)
        for k in (2, 10, 25):
            vids, in_core = oracle.k_core(adj, k)
            want = dict(zip(vids.tolist(), in_core.tolist()))
            got = {
                r["vid"]: r["in_core"]
                for r in k_core(spark, jazz_df, k=k).collect()
            }
            assert got == want, f"k={k}"

    def test_k1_keeps_every_edge_vertex(self, spark, jazz_df):
        from comm_detect_spark.operators import k_core

        rows = k_core(spark, jazz_df, k=1).collect()
        assert all(r["in_core"] for r in rows)

    def test_bad_k_raises(self, spark, jazz_df):
        from comm_detect_spark.operators import k_core

        with pytest.raises(ValueError):
            k_core(spark, jazz_df, k=0)


class TestLocalClustering:
    def test_planted_values(self, spark):
        """Triangle 0-1-2 plus pendant 2-3: coeff 1.0 on the triangle's
        degree-2 corners, 1/3 at the junction, 0.0 at the pendant."""
        s = np.array([0, 0, 1, 2], dtype=np.int64)
        d = np.array([1, 2, 2, 3], dtype=np.int64)
        ss = np.concatenate([s, d])
        dd = np.concatenate([d, s])
        w = np.ones(ss.size, dtype=np.int64)
        e = edges_from_numpy(spark, 4, ss, dd, w)
        from comm_detect_spark.operators import local_clustering

        got = {r["vid"]: r["coeff"] for r in local_clustering(e).collect()}
        assert got == {0: 1.0, 1: 1.0, 2: pytest.approx(1 / 3, abs=1e-6),
                       3: 0.0}

    def test_matches_oracle_on_jazz(self, spark, jazz, jazz_df):
        from comm_detect_spark.operators import local_clustering

        n, s, d, w = jazz
        adj = oracle.Adjacency.from_entries(n, s, d, w)
        per, _ = oracle.triangle_counts(adj)
        src = np.repeat(np.arange(n, dtype=np.int64), np.diff(adj.indptr))
        mask = src != adj.indices
        a = np.minimum(src[mask], adj.indices[mask])
        b = np.maximum(src[mask], adj.indices[mask])
        uniq = np.unique(a * n + b)
        deg = np.bincount(uniq // n, minlength=n) + np.bincount(
            uniq % n, minlength=n
        )
        got = {r["vid"]: r["coeff"] for r in local_clustering(jazz_df).collect()}
        for v in range(n):
            if deg[v] == 0:
                assert v not in got
                continue
            want = (
                round(2.0 * per[v] / (deg[v] * (deg[v] - 1)), 6)
                if deg[v] >= 2 else 0.0
            )
            assert got[v] == pytest.approx(want, abs=1e-9), v


class TestPersonalizedPageRank:
    def test_mass_concentrates_on_seed_component(self, spark):
        """Two disconnected triangles; seeding one must leave the other at
        exactly zero (teleport never reaches it)."""
        s = np.array([0, 1, 2, 3, 4, 5], dtype=np.int64)
        d = np.array([1, 2, 0, 4, 5, 3], dtype=np.int64)
        w = np.ones(6, dtype=np.int64)
        e = edges_from_numpy(spark, 6, s, d, w)
        from comm_detect_spark.operators import personalized_pagerank

        seeds = spark.createDataFrame([(0,)], "vid BIGINT")
        r = to_vec(
            personalized_pagerank(spark, e, seeds, n=6, iterations=10),
            6, val="rank", dtype=np.float64,
        )
        assert r[:3].sum() > 0.999
        assert np.all(r[3:] == 0.0)

    def test_empty_seed_set_raises(self, spark):
        from comm_detect_spark.operators import personalized_pagerank

        e = edges_from_numpy(spark, 3, [0, 1], [1, 2], [1, 1])
        seeds = spark.createDataFrame([], "vid BIGINT")
        with pytest.raises(ValueError):
            personalized_pagerank(spark, e, seeds, n=3)


class TestHits:
    def test_matches_oracle_on_jazz(self, spark, jazz, jazz_df):
        from comm_detect_spark.operators import hits as hits_spark

        n, s, d, w = jazz
        hub, auth = oracle.hits(n, s, d, weight=w.astype(float), iterations=5)
        out = hits_spark(spark, jazz_df, n=n, iterations=5)
        got_h = to_vec(out.select("vid", "hub"), n, val="hub",
                       dtype=np.float64)
        got_a = to_vec(out.select("vid", "auth"), n, val="auth",
                       dtype=np.float64)
        assert np.allclose(got_h, hub, atol=1e-6)
        assert np.allclose(got_a, auth, atol=1e-6)

    def test_star_hub_authority_split(self, spark):
        """Directed star 0 -> {1,2,3}: vertex 0 is the only hub, the leaves
        are the (equal) authorities."""
        s = np.array([0, 0, 0], dtype=np.int64)
        d = np.array([1, 2, 3], dtype=np.int64)
        w = np.ones(3, dtype=np.int64)
        e = edges_from_numpy(spark, 4, s, d, w)
        from comm_detect_spark.operators import hits as hits_spark

        out = {r["vid"]: (r["hub"], r["auth"])
               for r in hits_spark(spark, e, n=4, iterations=3).collect()}
        assert out[0][0] == pytest.approx(1.0, abs=1e-9)
        assert out[0][1] == 0.0
        for v in (1, 2, 3):
            assert out[v][0] == 0.0
            assert out[v][1] == pytest.approx(1 / np.sqrt(3), abs=1e-9)


class TestConductance:
    def test_two_cliques_with_bridge(self, spark):
        from comm_detect_spark.operators.modularity import (
            community_conductance,
        )
        from tests.conftest import edges_df

        # two triangles {0,1,2} and {3,4,5} joined by one bridge 2-3,
        # symmetric unit weights; labels = the two triangles
        und = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
        pairs = und + [(b, a) for a, b in und]
        e = edges_df(
            spark, 6, [a for a, _ in pairs], [b for _, b in pairs],
            [1] * len(pairs),
        )
        labels = spark.createDataFrame(
            [(v, 0 if v < 3 else 1) for v in range(6)], "vid long, label long"
        )
        got = {
            r["label"]: r
            for r in community_conductance(e, labels).collect()
        }
        # each side: vol = 2*3 (intra, both directions) + 1 (bridge) = 7,
        # cut = 1, conductance = 1/min(7, 7) = 1/7
        for lab in (0, 1):
            assert got[lab]["vol_w"] == 7
            assert got[lab]["cut_w"] == 1
            assert abs(got[lab]["conductance"] - 1 / 7) < 1e-9

    def test_single_community_is_null(self, spark):
        from comm_detect_spark.operators.modularity import (
            community_conductance,
        )
        from tests.conftest import edges_df

        e = edges_df(spark, 2, [0, 1], [1, 0], [1, 1])
        labels = spark.createDataFrame(
            [(0, 7), (1, 7)], "vid long, label long"
        )
        r = community_conductance(e, labels).collect()[0]
        assert r["cut_w"] == 0 and r["conductance"] is None
