"""Iteration plumbing shared by every iterative operator.

Spark-specific care for driver-side ``while`` loops (SURVEY §3.4):

* each iteration's state is persisted and materialized before the previous
  one is unpersisted (otherwise the new plan recomputes the whole chain);
* lineage is truncated every ``checkpoint_every`` iterations — either into a
  CheckpointStore (resumable, Iceberg-shaped) or via localCheckpoint
  (fast, non-resumable) — so the logical plan does not grow linearly with
  iteration count (plan-growth is the classic driver-loop failure at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from comm_detect_spark.plans.checkpoint import CheckpointStore

# every iteration state is cached at this level
_LEVEL = StorageLevel.MEMORY_AND_DISK


class IterationDriver:
    def __init__(
        self,
        store: CheckpointStore | None = None,
        checkpoint_every: int = 1,
    ):
        # checkpoint_every=1: truncate lineage EVERY iteration. Anything
        # sparser lets the logical plan deepen linearly with iteration count
        # until Catalyst's own tree traversals dominate runtime (observed:
        # jazz Louvain went 30s -> 700s+ from plan growth alone).
        self.store = store
        self.checkpoint_every = checkpoint_every
        self._current: DataFrame | None = None
        # feeder cache of a not-yet-materialized lazy localCheckpoint
        # (install() truncation path); released once the checkpoint blocks
        # exist — see install()/finish()
        self._lazy_ckpt_cache: DataFrame | None = None
        # superseded localCheckpoints, released once a newer checkpoint is
        # materialized (see release())
        self._spent_ckpts: list[DataFrame] = []

    def start(self, state: DataFrame, iteration: int = 0) -> DataFrame:
        self._current = state.persist(_LEVEL)
        self._current.count()
        return self._current

    def try_resume(self, spark) -> tuple[DataFrame, int, dict] | None:
        """If the store holds a snapshot, install it as the current state.
        Returns (state, iteration_of_snapshot, {iteration: metrics_row}) so
        the caller can reseed its stopping-rule counters; None when there is
        nothing to resume (no store / no snapshot)."""
        if self.store is None:
            return None
        latest = self.store.latest_iteration()
        if latest is None:
            return None
        state = self.start(self.store.load_state(spark), latest)
        # finish() logs a second, counter-less row per iteration
        # (final=True); it must not shadow the row holding the counters
        history = {
            m["iteration"]: m
            for m in self.store.metrics()
            if not m.get("final")
        }
        return state, latest, history

    def prepare(self, new_state: DataFrame, iteration: int) -> DataFrame:
        """Persist (NOT materialized) the next iteration's state. The caller
        should run exactly one action against the returned frame (e.g. the
        changed-rows count) — that action fills the cache — then call
        install(). Keeps each iteration at ONE Spark job."""
        truncate = iteration % self.checkpoint_every == 0
        if truncate and self.store is not None:
            new_state = self.store.save_state(new_state, iteration)
        return new_state.persist(_LEVEL)

    def install(self, prepared: DataFrame, iteration: int, **metrics) -> DataFrame:
        """Swap in a state returned by prepare() after the caller's action.

        r7 (guide §1/§5): on truncation iterations the lineage cut is a
        LAZY localCheckpoint — the next iteration's own action (or
        finish()) materializes the checkpoint blocks straight out of the
        cache the caller's action just filled, so the dedicated
        read-cache-write-blocks job the eager cut used to run per
        iteration disappears. The pre-checkpoint cache must stay alive
        until that materialization happens, so its release is deferred to
        the next install()/finish() (``_lazy_ckpt_cache``)."""
        truncate = iteration % self.checkpoint_every == 0
        pre_ckpt = None
        if truncate and self.store is None:
            pre_ckpt = prepared
            prepared = prepared.localCheckpoint(eager=False)
        if self._current is not None:
            self._current.unpersist()
        if self._lazy_ckpt_cache is not None:
            # the previous lazy checkpoint has been materialized by the
            # caller's action this iteration — its feeder cache and the
            # checkpoints before it can go; it is itself superseded
            self._release_spent()
            self._spent_ckpts.append(self._current)
        self._lazy_ckpt_cache = pre_ckpt
        self._current = prepared
        if self.store is not None:
            self.store.log_metric(iteration, **metrics)
        return prepared

    def step(self, new_state: DataFrame, iteration: int, **metrics) -> DataFrame:
        """prepare + materialize + install, for callers with no action of
        their own."""
        # NOTE (r7): a "fold" that localCheckpoint(eager)s the RAW new_state
        # directly (skipping prepare+count) was tried and REVERTED: the
        # checkpointed LogicalRDD then inherits the raw tree's ESTIMATED
        # stats, which compound multiplicatively across iterations (each
        # round's leaf stats are the previous round's product), until the
        # optimizer's stats arithmetic (InjectRuntimeFilter size checks)
        # grinds on million-bit BigIntegers — test_mis went from ~50 s to
        # a multi-hour hang. Going through prepare+count first means the
        # checkpoint wraps the MATERIALIZED cache, whose real, bounded
        # size resets the stats every iteration; the lazy cut in install()
        # already makes the checkpoint job-free, so one job per iteration
        # is achieved without the fold.
        prepared = self.prepare(new_state, iteration)
        prepared.count()
        return self.install(prepared, iteration, **metrics)

    def finish(self, iteration: int, **metrics) -> DataFrame:
        assert self._current is not None
        if self._lazy_ckpt_cache is not None:
            # the loop ended right after a lazy truncation: materialize the
            # checkpoint from the still-live cache, then release it
            self._current.count()
            self._release_spent()
        if self.store is not None:
            final = self.store.save_state(self._current, iteration)
            self.store.log_metric(iteration, final=True, **metrics)
            self._current.unpersist()
            return final
        return self._current

    def _release_spent(self) -> None:
        self._lazy_ckpt_cache.unpersist()
        self._lazy_ckpt_cache = None
        for ckpt in self._spent_ckpts:
            release(ckpt)
        self._spent_ckpts = []


def release(df: DataFrame) -> None:
    """unpersist(), plus the blocks of a localCheckpoint frame: those
    belong to its LogicalRDD's RDD, which DataFrame.unpersist() does not
    reach (left alone they wait for a JVM GC)."""
    df.unpersist()
    plan = df._jdf.logicalPlan()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
