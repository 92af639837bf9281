"""Checkpoint/resume (SURVEY Table C): kill after iteration k, resume from
the store, final output identical to the uninterrupted run."""

import numpy as np
import pytest

from comm_detect_spark import oracle
from comm_detect_spark.operators.pagerank import pagerank
from comm_detect_spark.plans.checkpoint import CheckpointStore
from comm_detect_spark.plans.driver import IterationDriver

from tests.test_operators import to_vec


class TestCheckpointStore:
    def test_save_load_roundtrip(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path), "r1", algo="test")
        df = spark.createDataFrame([(0, 1.0), (1, 2.0)], "vid BIGINT, rank DOUBLE")
        store.save_state(df, 1)
        store.log_metric(1, l1=0.5)
        assert store.latest_iteration() == 1
        got = sorted(map(tuple, store.load_state(spark).collect()))
        assert got == [(0, 1.0), (1, 2.0)]
        assert store.metrics()[0]["l1"] == 0.5

    def test_latest_pointer_advances(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path), "r2")
        df = spark.createDataFrame([(0, 1.0)], "vid BIGINT, rank DOUBLE")
        store.save_state(df, 1)
        store.save_state(df, 4)
        assert store.latest_iteration() == 4

    def test_save_params_overwrite_for_fresh_runs(self, tmp_path):
        """r4 advisor (low): a fresh NON-resume rerun reusing a run-id must
        replace the stale params.json so a later --resume validates against
        the run that actually produced the snapshots; a resume-path write
        stays write-once."""
        store = CheckpointStore(str(tmp_path), "r3")
        store.save_params(num_blocks=4, eps=0.1, overwrite=True)
        assert store.load_params()["num_blocks"] == 4
        # resume-path write (write-once): silently keeps the recorded value
        store.save_params(num_blocks=8, eps=0.1)
        assert store.load_params()["num_blocks"] == 4
        # fresh rerun under the same id: the new decomposition wins
        store.save_params(num_blocks=16, eps=0.1, overwrite=True)
        assert store.load_params()["num_blocks"] == 16


class TestResume:
    @pytest.mark.parametrize("tol", [None, 1e-12])
    def test_pagerank_resume_identical(
        self, spark, directed_graph, tmp_path, tol
    ):
        """Killed after iteration 3, resumed from the snapshot == the
        uninterrupted run (with tol the snapshot also carries prev)."""
        n, _, _, _, e = directed_graph
        full = to_vec(
            pagerank(spark, e, n, iterations=6, tol=tol), n, dtype=np.float64
        )
        store = CheckpointStore(str(tmp_path), "pr", algo="pagerank")
        with pytest.raises(RuntimeError, match="simulated crash"):
            pagerank(spark, e, n, iterations=6, tol=tol,
                     driver=_KillAfterInstalls(store, kill_after=3))
        assert store.latest_iteration() == 3
        store2 = CheckpointStore(str(tmp_path), "pr", algo="pagerank")
        resumed = to_vec(
            pagerank(spark, e, n, iterations=6, tol=tol,
                     driver=IterationDriver(store=store2, checkpoint_every=1),
                     resume=True),
            n, dtype=np.float64,
        )
        assert np.allclose(resumed, full, atol=1e-12)

    def test_metrics_logged_per_iteration(self, spark, directed_graph, tmp_path):
        n, _, _, _, e = directed_graph
        store = CheckpointStore(str(tmp_path), "prm", algo="pagerank")
        drv = IterationDriver(store=store, checkpoint_every=2)
        pagerank(spark, e, n, iterations=4, tol=0.0, driver=drv)
        ms = store.metrics()
        assert [m["iteration"] for m in ms if not m.get("final")] == [1, 2, 3, 4]
        assert all(m["algo"] == "pagerank" for m in ms)


class _KillAfterInstalls(IterationDriver):
    """Raises after k completed install() calls — the in-process stand-in
    for a crash between sweeps (state saved, metric logged, then death)."""

    def __init__(self, store, kill_after):
        super().__init__(store=store, checkpoint_every=1)
        self.kill_after = kill_after
        self.installs = 0

    def install(self, prepared, iteration, **metrics):
        out = super().install(prepared, iteration, **metrics)
        self.installs += 1
        if self.installs >= self.kill_after:
            raise RuntimeError("simulated crash")
        return out


class _KillAfterSave(IterationDriver):
    """Raises in prepare() AFTER the store's save_state ran — the crash
    window between a snapshot commit (which advances _LATEST) and
    install()'s log_metric: the snapshot survives, its metrics row never
    lands. Resume must reconstruct the missing counter exactly
    (snapshot_moved_count) instead of resetting the freeze replay."""

    def __init__(self, store, kill_at_iteration):
        super().__init__(store=store, checkpoint_every=1)
        self.kill_at = kill_at_iteration

    def prepare(self, new_state, iteration):
        out = super().prepare(new_state, iteration)
        if iteration >= self.kill_at:
            # save_state already wrote the parquet (df.write is an action)
            raise RuntimeError("simulated crash before log_metric")
        return out


class _KillOnStart(IterationDriver):
    """Raises on start() — a crash exactly at a level boundary (previous
    level finalized, this one never began)."""

    def start(self, state, iteration=0):
        raise RuntimeError("simulated crash at level boundary")


class TestLouvainResume:
    def _factory(self, tmp_path, kill_level=None, kill_cls=None, kill_arg=None):
        levels = [0]

        def factory():
            levels[0] += 1
            store = CheckpointStore(
                str(tmp_path), f"lv-L{levels[0]}", algo="louvain"
            )
            if kill_level is not None and levels[0] == kill_level:
                if kill_cls is _KillAfterInstalls:
                    return _KillAfterInstalls(store, kill_arg)
                if kill_cls is _KillAfterSave:
                    return _KillAfterSave(store, kill_arg)
                return _KillOnStart(store=store, checkpoint_every=1)
            return IterationDriver(store=store, checkpoint_every=1)

        return factory

    def test_kill_at_sweep_k_resumes_identical(self, spark, jazz, jazz_df, tmp_path):
        from comm_detect_spark.operators.louvain import louvain

        n = jazz[0]
        full, full_levels = louvain(spark, jazz_df, n, num_blocks=4)
        fullv = to_vec(full, n)
        with pytest.raises(RuntimeError, match="simulated crash"):
            louvain(
                spark, jazz_df, n, num_blocks=4,
                driver_factory=self._factory(
                    tmp_path, kill_level=1,
                    kill_cls=_KillAfterInstalls, kill_arg=2,
                ),
            )
        got, levels = louvain(
            spark, jazz_df, n, num_blocks=4,
            driver_factory=self._factory(tmp_path), resume=True,
        )
        assert levels == full_levels
        assert np.array_equal(to_vec(got, n), fullv)

    def test_kill_mid_freeze_resumes_identical(self, spark, tmp_path):
        """A kill while the oscillation breaker is active: freeze sweeps
        are output-changing, so resume must REPLAY the plateau/freeze state
        machine from the metrics history to reproduce the killed run's
        freeze schedule (louvain._breaker_step). A ring of 32 cliques
        coarsens to a 32-supernode ring whose Jacobi rotation plateaus —
        asserted below so the test cannot silently stop covering the
        freeze path."""
        from comm_detect_spark.graph import edges_from_numpy
        from comm_detect_spark.operators.louvain import louvain

        n, s, d, w = oracle.ring_of_cliques(k=32, c=4)
        e = edges_from_numpy(spark, n, s, d, w)
        full, full_levels = louvain(spark, e, n, num_blocks=8)
        fullv = to_vec(full, n)
        with pytest.raises(RuntimeError, match="simulated crash"):
            louvain(
                spark, e, n, num_blocks=8,
                driver_factory=self._factory(
                    tmp_path, kill_level=2,
                    kill_cls=_KillAfterInstalls, kill_arg=6,
                ),
            )
        # non-vacuity: the killed level was oscillating (exact plateau)
        store = CheckpointStore(str(tmp_path), "lv-L2", algo="louvain")
        moved = [
            m["moved"] for m in store.metrics()
            if not m.get("final") and "moved" in m
        ]
        assert any(
            moved[i] == moved[i + 1] > 0 for i in range(len(moved) - 1)
        ), moved
        got, levels = louvain(
            spark, e, n, num_blocks=8,
            driver_factory=self._factory(tmp_path), resume=True,
        )
        assert levels == full_levels
        assert np.array_equal(to_vec(got, n), fullv)

    def test_kill_before_log_metric_mid_freeze_resumes_identical(
        self, spark, tmp_path
    ):
        """The ADVICE window: kill AFTER prepare()'s save_state but BEFORE
        install()'s log_metric, during a frozen level. Snapshot k exists
        with no metrics row k; resume must reconstruct moved_k exactly from
        the adjacent snapshots so the freeze-schedule replay (and therefore
        the output) matches the uninterrupted run."""
        from comm_detect_spark.graph import edges_from_numpy
        from comm_detect_spark.operators.louvain import louvain

        n, s, d, w = oracle.ring_of_cliques(k=32, c=4)
        e = edges_from_numpy(spark, n, s, d, w)
        full, full_levels = louvain(spark, e, n, num_blocks=8)
        fullv = to_vec(full, n)
        with pytest.raises(RuntimeError, match="before log_metric"):
            louvain(
                spark, e, n, num_blocks=8,
                driver_factory=self._factory(
                    tmp_path, kill_level=2,
                    kill_cls=_KillAfterSave, kill_arg=7,
                ),
            )
        # non-vacuity: the killed level's logged history ends one row short
        # of its latest snapshot AND shows an exact plateau (frozen regime)
        store = CheckpointStore(str(tmp_path), "lv-L2", algo="louvain")
        logged = {
            m["iteration"] for m in store.metrics()
            if not m.get("final") and "moved" in m
        }
        assert store.latest_iteration() == 7 and 7 not in logged
        moved = [
            m["moved"] for m in sorted(
                (m for m in store.metrics() if not m.get("final") and "moved" in m),
                key=lambda m: m["iteration"],
            )
        ]
        assert any(
            moved[i] == moved[i + 1] > 0 for i in range(len(moved) - 1)
        ), moved
        got, levels = louvain(
            spark, e, n, num_blocks=8,
            driver_factory=self._factory(tmp_path), resume=True,
        )
        assert levels == full_levels
        assert np.array_equal(to_vec(got, n), fullv)

    def test_plateau_hard_stop_not_reentered_after_resume(self, spark, tmp_path):
        """A kill between the plateau>=10 hard stop's install() and
        finish(): the replay reproduces plateau>=10 and resume must jump
        straight to finish — never an extra frozen sweep the uninterrupted
        run did not execute."""
        import json as _json
        import os

        from pyspark.sql import functions as F

        from comm_detect_spark.graph import edges_from_numpy
        from comm_detect_spark.operators.louvain import _local_move

        n = 8
        s = np.array([0, 1, 1, 2, 2, 3, 4, 5, 5, 6, 6, 7], dtype=np.int64)
        d = np.array([1, 0, 2, 1, 3, 2, 5, 4, 6, 5, 7, 6], dtype=np.int64)
        w = np.ones(s.size, dtype=np.int64)
        e = edges_from_numpy(spark, n, s, d, w).persist()
        store = CheckpointStore(str(tmp_path), "hardstop", algo="louvain")
        store.save_params(num_blocks=4, eps=1e-5)
        snap = spark.createDataFrame(
            [(v, v % 2) for v in range(n)], "vid BIGINT, label BIGINT"
        )
        k = 12
        store.save_state(snap, k)
        # fabricated history: 12 identical positive moved counts -> the
        # replayed state machine lands at plateau >= 10 (the hard stop)
        for it in range(1, k + 1):
            store.log_metric(it, moved=5)
        drv = IterationDriver(store=store, checkpoint_every=1)
        out, iters = _local_move(
            spark, e, n, w_net=int(w.sum() // 2), eps=1e-5, num_blocks=4,
            driver=drv, resume=True,
        )
        assert iters == k
        # no sweep beyond k ran: the only new metrics row is finish()'s
        rows_after = [
            m["iteration"] for m in store.metrics() if not m.get("final")
        ]
        assert max(rows_after) == k
        # output = dense relabel of the snapshot, untouched by any sweep
        got = {
            r["vid"]: r["label"] for r in out.collect()
        }
        assert got == {v: v % 2 for v in range(n)}
        e.unpersist()

    def test_resume_num_blocks_mismatch_fails(self, spark, jazz, jazz_df, tmp_path):
        from comm_detect_spark.operators.louvain import louvain

        n = jazz[0]
        with pytest.raises(RuntimeError, match="simulated crash"):
            louvain(
                spark, jazz_df, n, num_blocks=4,
                driver_factory=self._factory(
                    tmp_path, kill_level=1,
                    kill_cls=_KillAfterInstalls, kill_arg=2,
                ),
            )
        with pytest.raises(ValueError, match="num_blocks"):
            louvain(
                spark, jazz_df, n, num_blocks=8,
                driver_factory=self._factory(tmp_path), resume=True,
            )

    def test_kill_at_level_boundary_resumes_identical(
        self, spark, jazz, jazz_df, tmp_path
    ):
        from comm_detect_spark.operators.louvain import louvain

        n = jazz[0]
        full, full_levels = louvain(spark, jazz_df, n, num_blocks=4)
        fullv = to_vec(full, n)
        with pytest.raises(RuntimeError, match="level boundary"):
            louvain(
                spark, jazz_df, n, num_blocks=4,
                driver_factory=self._factory(
                    tmp_path, kill_level=2, kill_cls=_KillOnStart
                ),
            )
        got, levels = louvain(
            spark, jazz_df, n, num_blocks=4,
            driver_factory=self._factory(tmp_path), resume=True,
        )
        assert levels == full_levels
        assert np.array_equal(to_vec(got, n), fullv)


class TestOperatorResumeFlag:
    """resume=True on the operators themselves (jobs/run_algorithm --resume)."""

    def test_pagerank_resume_flag(self, spark, directed_graph, tmp_path):
        n, _, _, _, e = directed_graph
        full = to_vec(
            pagerank(spark, e, n, iterations=10), n, dtype=np.float64
        )
        store = CheckpointStore(str(tmp_path), "prf", algo="pagerank")
        pagerank(spark, e, n, iterations=4,
                 driver=IterationDriver(store=store, checkpoint_every=1))
        assert store.latest_iteration() == 4
        store2 = CheckpointStore(str(tmp_path), "prf", algo="pagerank")
        resumed = to_vec(
            pagerank(spark, e, n, iterations=10,
                     driver=IterationDriver(store=store2, checkpoint_every=1),
                     resume=True),
            n, dtype=np.float64,
        )
        assert np.allclose(resumed, full, atol=1e-12)

    def test_lpa_sync_resume_flag(self, spark, jazz, jazz_df, tmp_path):
        from comm_detect_spark.operators.lpa import lpa_sync

        n = jazz[0]
        full = to_vec(lpa_sync(spark, jazz_df, n, max_iter=4, eps=-1.0), n)
        store = CheckpointStore(str(tmp_path), "lpf", algo="lpa_sync")
        lpa_sync(spark, jazz_df, n, max_iter=2, eps=-1.0,
                 driver=IterationDriver(store=store, checkpoint_every=1))
        assert store.latest_iteration() == 2
        store2 = CheckpointStore(str(tmp_path), "lpf", algo="lpa_sync")
        resumed = to_vec(
            lpa_sync(spark, jazz_df, n, max_iter=4, eps=-1.0,
                     driver=IterationDriver(store=store2, checkpoint_every=1),
                     resume=True),
            n,
        )
        assert np.array_equal(resumed, full)

    def test_cc_resume_flag(self, spark, jazz, jazz_df, tmp_path):
        from comm_detect_spark.operators.components import connected_components

        n = jazz[0]
        full = to_vec(connected_components(spark, jazz_df, n), n)
        store = CheckpointStore(str(tmp_path), "ccf", algo="cc")
        # rounds=1 (not max_iter): a simulated kill is fixed-rounds by
        # request — fixpoint mode now fails loud on budget exhaustion
        connected_components(
            spark, jazz_df, n, rounds=1,
            driver=IterationDriver(store=store, checkpoint_every=1))
        store2 = CheckpointStore(str(tmp_path), "ccf", algo="cc")
        resumed = to_vec(
            connected_components(
                spark, jazz_df, n,
                driver=IterationDriver(store=store2, checkpoint_every=1),
                resume=True),
            n,
        )
        assert np.array_equal(resumed, full)


class TestResumeKatzSssp:
    EDGES = [
        (0, 1, 1), (0, 2, 2), (1, 2, 1), (2, 3, 1), (3, 0, 3), (1, 4, 1),
        (4, 2, 2),
    ]

    def _edges(self, spark):
        from tests.conftest import edges_df

        return edges_df(
            spark, 5,
            [s for s, _, _ in self.EDGES],
            [d for _, d, _ in self.EDGES],
            [w for _, _, w in self.EDGES],
        )

    def test_katz_kill_at_k_resumes_identical(self, spark, tmp_path):
        from comm_detect_spark.operators.katz import katz

        e = self._edges(spark)
        full = {
            r["vid"]: r["score"]
            for r in katz(spark, e, 5, iterations=8, alpha=0.1).collect()
        }
        # "crash" after 3 iterations, then resume to 8 with the flag
        store = CheckpointStore(str(tmp_path), "kz", algo="katz")
        katz(spark, e, 5, iterations=3, alpha=0.1,
             driver=IterationDriver(store=store, checkpoint_every=1))
        assert store.latest_iteration() == 3
        store2 = CheckpointStore(str(tmp_path), "kz", algo="katz")
        got = {
            r["vid"]: r["score"]
            for r in katz(
                spark, e, 5, iterations=8, alpha=0.1,
                driver=IterationDriver(store=store2, checkpoint_every=1),
                resume=True,
            ).collect()
        }
        assert got == full

    def test_sssp_kill_mid_fixpoint_resumes_identical(self, spark, tmp_path):
        from comm_detect_spark.operators.sssp import sssp

        e = self._edges(spark)
        full = {
            r["vid"]: r["dist"] for r in sssp(spark, e, [0]).collect()
        }
        # crash after 1 relaxation round (fixed-rounds run against the
        # same store), then resume in fixpoint mode
        store = CheckpointStore(str(tmp_path), "sp", algo="sssp")
        sssp(spark, e, [0], rounds=1,
             driver=IterationDriver(store=store, checkpoint_every=1))
        assert store.latest_iteration() == 1
        store2 = CheckpointStore(str(tmp_path), "sp", algo="sssp")
        got = {
            r["vid"]: r["dist"]
            for r in sssp(
                spark, e, [0],
                driver=IterationDriver(store=store2, checkpoint_every=1),
                resume=True,
            ).collect()
        }
        assert got == full

    def test_sssp_resume_after_convergence_is_noop(self, spark, tmp_path):
        from comm_detect_spark.operators.sssp import sssp

        e = self._edges(spark)
        store = CheckpointStore(str(tmp_path), "sp2", algo="sssp")
        full = {
            r["vid"]: r["dist"]
            for r in sssp(
                spark, e, [0],
                driver=IterationDriver(store=store, checkpoint_every=1),
            ).collect()
        }
        last = store.latest_iteration()
        store2 = CheckpointStore(str(tmp_path), "sp2", algo="sssp")
        got = {
            r["vid"]: r["dist"]
            for r in sssp(
                spark, e, [0],
                driver=IterationDriver(store=store2, checkpoint_every=1),
                resume=True,
            ).collect()
        }
        assert got == full
        # the converged-run fast path must not add new snapshots
        assert store2.latest_iteration() == last


class TestCorenessResume:
    EDGES = [(0, 1, 1), (1, 2, 1), (0, 2, 1), (2, 3, 1), (3, 4, 1),
             (4, 5, 1), (5, 3, 1), (1, 4, 1)]

    def _edges(self, spark):
        from tests.conftest import edges_df

        return edges_df(
            spark, 6,
            [s for s, _, _ in self.EDGES],
            [d for _, d, _ in self.EDGES],
            [w for _, _, w in self.EDGES],
        )

    def test_coreness_kill_mid_fixpoint_resumes_identical(
        self, spark, tmp_path
    ):
        from comm_detect_spark.operators.kcore import core_decomposition

        e = self._edges(spark)
        full = {
            r["vid"]: r["coreness"]
            for r in core_decomposition(spark, e).collect()
        }
        # "crash" after 1 h-index round (fixed-rounds run against the
        # same store), then resume in fixpoint mode
        store = CheckpointStore(str(tmp_path), "co", algo="coreness")
        core_decomposition(
            spark, e, rounds=1,
            driver=IterationDriver(store=store, checkpoint_every=1),
        )
        assert store.latest_iteration() == 1
        store2 = CheckpointStore(str(tmp_path), "co", algo="coreness")
        got = {
            r["vid"]: r["coreness"]
            for r in core_decomposition(
                spark, e,
                driver=IterationDriver(store=store2, checkpoint_every=1),
                resume=True,
            ).collect()
        }
        assert got == full

    def test_coreness_converged_resume_is_noop(self, spark, tmp_path):
        from comm_detect_spark.operators.kcore import core_decomposition

        e = self._edges(spark)
        store = CheckpointStore(str(tmp_path), "co2", algo="coreness")
        full = {
            r["vid"]: r["coreness"]
            for r in core_decomposition(
                spark, e,
                driver=IterationDriver(store=store, checkpoint_every=1),
            ).collect()
        }
        store2 = CheckpointStore(str(tmp_path), "co2", algo="coreness")
        it_before = store2.latest_iteration()
        got = {
            r["vid"]: r["coreness"]
            for r in core_decomposition(
                spark, e,
                driver=IterationDriver(store=store2, checkpoint_every=1),
                resume=True,
            ).collect()
        }
        assert got == full
        assert store2.latest_iteration() == it_before
