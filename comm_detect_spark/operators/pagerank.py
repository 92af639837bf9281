"""Power iteration over a directed edge table (SURVEY Table C): weighted
PageRank, personalized PageRank, the PageRank convergence trace and Katz
centrality are thin callers of ONE private core:

    r' = base + d * ( s + dm * reset ),   s(v) = sum_{u->v} r_u * frac(u, v)

* PageRank: base = (1-d)/n, reset = 1/n, frac = w/wout(u), dm = the rank
  mass on dangling vertices (no out-edges).
* personalized PageRank: base = (1-d) * p(v), reset = p(v) — the teleport
  vector, 1/|S| on the seed set S and 0 elsewhere.
* Katz: base = beta, d = alpha, frac = the raw weight, no dangling term.

The core has three parts: ``_setup`` (edge cache, vertex table, dangling
flags), ``_step`` (the step builder above) and ``_iterate`` (the loop on
IterationDriver: start, resume, warm start, ``tol`` and the per-iteration
L1).

Plan shape per iteration (the thing that must survive 100x scale-up):

    edges_prep (cached hash(src, P))  ⋈  state (hash(vid, P))  -- NO exchange
      -> project (dst, contrib)
      -> groupBy(dst).sum            -- partial agg map-side, THE one exchange
      -> left join onto the state's own (vid, flags)           -- NO exchange
      -> cross join the broadcast one-row dangling mass

* ``frac`` is computed ONCE in setup and cached hash-partitioned on src
  with the same count P the iterated state carries on vid, so the gather
  join and the state re-join are exchange-free: ONE edge-sized exchange
  (the dst aggregation, shrunk by map-side combine) per iteration. Both
  per-iteration joins carry a SHUFFLE_HASH hint: without it the planner
  broadcasts the state whenever its estimate fits the threshold (a serial
  driver collect of the full vertex state every iteration) or, at scale,
  sort-merge joins and re-sorts the cached edge table every iteration.
  Caveat (plans/power_iteration/): the lazily checkpointed state that
  IterationDriver installs reports UnknownPartitioning, so from iteration
  2 on the vertex-sized state is shuffled once per join; the state side
  is exchange-free only while the state is a cached frame.
* the state carries a precomputed ``dang`` flag, so the dangling mass is
  one conditional sum over the cached state, broadcast as a one-row frame
  into the same job: no semi-join, no driver collect.
* hub skew (power-law dst) is handled by AQE skew-join splitting plus the
  optional ``salt`` two-phase aggregation: pre-aggregate contributions on
  (dst, salt) then finish on dst — bounds any single reducer's key volume.
* lineage is truncated every iteration by IterationDriver (a lazy
  localCheckpoint: one Spark job per iteration).
* with ``tol`` (and in ``pagerank_trace``) the state also carries the
  previous rank as ``prev``; the L1 movement is then one aggregate over the
  cache that iteration's action fills, not a join against the old state.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from comm_detect_spark.graph.core import adaptive_partitions, vertex_range
from comm_detect_spark.plans.driver import IterationDriver, release


class _Setup(NamedTuple):
    edges: DataFrame  # (src, dst, frac), cached hash(src, p)
    verts: DataFrame  # (vid) or, with dangling flags, (vid, dang)
    n: int
    p: int
    has_dangling: bool
    cached: list[DataFrame]

    def __enter__(self) -> "_Setup":
        return self

    def __exit__(self, *exc) -> None:
        for df in self.cached:
            df.unpersist()


def _setup(
    spark: SparkSession,
    edges: DataFrame,
    n: int | None,
    vertices: DataFrame | None,
    num_partitions: int | None,
    normalize: bool = True,
) -> _Setup:
    """Vertex set: dense range(n), or an explicit ``vertices(vid)`` table
    (sparse id spaces). The edge table is repartitioned on src FIRST and
    the out-weights derived on that partitioning, so the wout aggregation
    and the frac join ride the ONE edge shuffle (ReuseExchange). With
    ``normalize=False`` the raw weight is cached as ``frac`` and there are
    no dangling flags. Otherwise ``dang`` marks the vertices absent from
    the distinct-src set of the just-filled cache (not a second pass over
    the input frame)."""
    cached = []
    if vertices is not None:
        verts = vertices.select("vid").distinct().persist()
        cached.append(verts)
        n = verts.count()
    elif n is None:
        raise ValueError("pass the vertex count n or a vertices table")
    else:
        # plain distributed range — cheap to rescan, never persisted
        verts = vertex_range(spark, n)
    p = adaptive_partitions(spark, n, num_partitions)
    e2 = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "weight",
    ).repartition(p, "src")
    if normalize:
        wout = e2.groupBy("src").agg(F.sum("weight").alias("wout"))
        frac = e2.join(wout.hint("shuffle_hash"), "src").select(
            "src", "dst", (F.col("weight") / F.col("wout")).alias("frac")
        )
    else:
        frac = e2.select("src", "dst", F.col("weight").cast("double").alias("frac"))
    edges_prep = frac.persist()
    cached.append(edges_prep)
    edges_prep.count()
    if not normalize:
        return _Setup(edges_prep, verts, n, p, False, cached)
    dangling = verts.join(
        edges_prep.select(F.col("src").alias("vid")).distinct(),
        "vid",
        "left_anti",
    ).persist()
    cached.append(dangling)
    has_dangling = dangling.count() > 0
    verts = verts.join(
        dangling.withColumn("_d", F.lit(True)), "vid", "left"
    ).select("vid", F.coalesce("_d", F.lit(False)).alias("dang"))
    return _Setup(edges_prep, verts, n, p, has_dangling, cached)


def _step(
    g: _Setup,
    state: DataFrame,
    damping: float,
    base: Column,
    reset: Column | None = None,
    salt: int | None = None,
    prev: bool = False,
) -> DataFrame:
    """Step builder: the next state ``base + d·(s + dm·reset)`` of
    ``state(vid, <flags>, rank)``. Every state column other than vid, rank
    and prev rides through unchanged; ``prev=True`` adds the current rank
    as ``prev``. ``reset=None`` spreads the dangling mass uniformly
    (dm / n). The dangling term exists only when the setup found dangling
    vertices."""
    carry = [c for c in state.columns if c not in ("vid", "rank", "prev")]
    rside = (
        state.select("vid", "rank")
        .withColumnRenamed("vid", "src")
        .hint("shuffle_hash")
    )
    joined = g.edges.join(rside, "src")
    contrib = (F.col("rank") * F.col("frac")).alias("contrib")
    if salt:
        # deterministic salt (hash of src) — two-phase agg bounds the
        # per-reducer volume of any hub dst key
        contribs = (
            joined.select(
                "dst", contrib, F.pmod(F.hash("src"), F.lit(salt)).alias("_salt")
            )
            .groupBy("dst", "_salt")
            .agg(F.sum("contrib").alias("contrib"))
        )
    else:
        contribs = joined.select("dst", contrib)
    summed = contribs.groupBy("dst").agg(F.sum("contrib").alias("s"))
    keep = carry + ([F.col("rank").alias("prev")] if prev else [])
    new = state.select("vid", *keep).join(
        summed.withColumnRenamed("dst", "vid").hint("shuffle_hash"),
        "vid",
        "left",
    )
    s = F.coalesce(F.col("s"), F.lit(0.0))
    if g.has_dangling:
        # one-row frame, broadcast-cross-joined: keeps the whole iteration
        # a single Spark job (no driver collect)
        dm_df = state.agg(
            F.coalesce(
                F.sum(F.when(F.col("dang"), F.col("rank"))), F.lit(0.0)
            ).alias("dm")
        )
        new = new.crossJoin(F.broadcast(dm_df))
        s = s + (
            F.col("dm") / F.lit(float(g.n))
            if reset is None
            else F.col("dm") * reset
        )
    return new.select(
        "vid",
        *carry,
        *(["prev"] if prev else []),
        (base + F.lit(damping) * s).alias("rank"),
    )


def _iterate(
    spark: SparkSession,
    g: _Setup,
    state0: DataFrame,
    step,
    iterations: int,
    driver: IterationDriver | None = None,
    resume: bool = False,
    init: DataFrame | None = None,
    tol: float | None = None,
    trace: bool = False,
) -> tuple[DataFrame, list[tuple[int, float]]]:
    """Loop: runs ``step(state, prev)`` on the driver from ``state0`` (or
    from the store's snapshot with ``resume``; ``init(vid, rank)`` warm
    starts, vertices absent from it keep state0's rank). With ``tol`` or
    ``trace`` each iteration's one action is the L1 aggregate over the
    cache it fills; ``tol`` stops once it drops below. Returns the final
    state and the (iteration, l1) list."""
    drv = driver or IterationDriver()
    l1s: list[tuple[int, float]] = []
    resumed = drv.try_resume(spark) if resume else None
    if resumed is not None:
        state, start_it, hist = resumed
        # reseed the tol-mode stopping state: a run that already converged
        # (last logged l1_diff < tol) must not run an extra iteration —
        # that would return a different vector than the uninterrupted run
        prev_l1 = hist.get(start_it, {}).get("l1_diff")
        if tol is not None and prev_l1 is not None and float(prev_l1) < tol:
            return drv.finish(start_it), l1s
    else:
        if init is not None:
            # warm start (crawl refresh): the recurrence is memoryless, so
            # warm(r_k, j iters) == cold(k + j iters) on unchanged edges
            state0 = state0.join(
                init.select("vid", F.col("rank").alias("_ir")), "vid", "left"
            ).select(
                *[c for c in state0.columns if c != "rank"],
                F.coalesce("_ir", "rank").alias("rank"),
            )
        state = drv.start(state0.repartition(g.p, "vid"))
        start_it = 0
    track = tol is not None or trace
    it = start_it
    for it in range(start_it + 1, iterations + 1):
        new_state = step(state, track)
        if not track:
            state = drv.step(new_state, it)
            continue
        prepared = drv.prepare(new_state, it)
        l1 = float(
            prepared.agg(F.sum(F.abs(F.col("rank") - F.col("prev")))).collect()[0][0]
        )
        l1s.append((it, l1))
        state = drv.install(prepared, it, l1_diff=l1)
        if tol is not None and l1 < tol:
            break
    return drv.finish(it), l1s


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    n: int | None = None,
    damping: float = 0.85,
    iterations: int = 10,
    tol: float | None = None,
    salt: int | None = None,
    driver: IterationDriver | None = None,
    vertices: DataFrame | None = None,
    resume: bool = False,
    num_partitions: int | None = None,
    init: DataFrame | None = None,
) -> DataFrame:
    """Returns (vid BIGINT, rank DOUBLE). Matches oracle.pagerank to 1e-6.

        r' = (1-d)/n + d * ( sum_{u->v} r_u * w(u,v)/wout(u) + dm/n )

    ``init``: optional (vid, rank) warm-start vector (crawl refresh —
    continue from the previous run's ranks over an updated edge table);
    vertices absent from init start at 1/n. warm(r_k, j) == cold(k+j)
    on unchanged edges (pytest-pinned; driver row pagerank_warm2).

    Vertex set: dense range(n), or an explicit ``vertices(vid)`` table
    (sparse id spaces)."""
    with _setup(spark, edges, n, vertices, num_partitions) as g:
        base = F.lit((1.0 - damping) / g.n)
        out, _ = _iterate(
            spark,
            g,
            g.verts.withColumn("rank", F.lit(1.0 / g.n)),
            lambda s, prev: _step(g, s, damping, base, salt=salt, prev=prev),
            iterations,
            driver,
            resume=resume,
            init=init,
            tol=tol,
        )
    return out.select("vid", "rank")


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    n: int | None = None,
    damping: float = 0.85,
    iterations: int = 10,
    driver: IterationDriver | None = None,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Personalized PageRank: teleport and dangling mass land on the seed
    set S (reset vector p = 1/|S| on seeds, 0 elsewhere) instead of
    uniformly — the random-walk-with-restart relevance measure:

        r' = (1-d) * p + d * (scatter + dangling_mass * p),   r0 = p

    Plan shape is pagerank()'s: the reset column is joined into the vertex
    table ONCE via a broadcast of the seed set (seed sets are small — a
    user's trust set, a topic whitelist — vs a TB edge table) and rides the
    iterated state, so per iteration nothing new shuffles. Matches
    oracle.personalized_pagerank to 1e-6."""
    seed_df = seeds.select("vid").distinct().persist()
    n_seeds = seed_df.count()
    if n_seeds == 0:
        seed_df.unpersist()
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    with _setup(spark, edges, n, vertices, num_partitions) as g:
        g.cached.append(seed_df)
        state0 = g.verts.join(
            F.broadcast(seed_df.withColumn("_s", F.lit(1.0))), "vid", "left"
        ).select(
            "vid",
            (F.coalesce(F.col("_s"), F.lit(0.0)) / F.lit(float(n_seeds))).alias(
                "reset"
            ),
            "dang",
        ).withColumn("rank", F.col("reset"))
        base = F.lit(1.0 - damping) * F.col("reset")
        out, _ = _iterate(
            spark,
            g,
            state0,
            lambda s, prev: _step(g, s, damping, base, F.col("reset"), prev=prev),
            iterations,
            driver,
        )
    return out.select("vid", "rank")


def pagerank_trace(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(iter, l1_delta): per-iteration L1 movement of the rank vector —
    the convergence diagnostic run before committing an iteration budget
    on a new crawl (pick the knee of the curve, then run pagerank() with
    that budget). pagerank()'s recurrence from the uniform start;
    l1_delta(i) = sum_v |r_i(v) - r_{i-1}(v)|, rounded 9.

    Same per-iteration plan as pagerank(tol=...): the state carries
    ``prev``, the L1 is one aggregate over the cache each iteration's
    action fills, and the only driver traffic is that one scalar per
    iteration. Lineage is cut every iteration and every cache is released;
    output is ``iterations`` rows."""
    with _setup(spark, edges, None, vertices, None) as g:
        if g.n == 0:
            return spark.createDataFrame([], "iter INT, l1_delta DOUBLE")
        base = F.lit((1.0 - damping) / g.n)
        out, l1s = _iterate(
            spark,
            g,
            g.verts.withColumn("rank", F.lit(1.0 / g.n)),
            lambda s, prev: _step(g, s, damping, base, prev=prev),
            iterations,
            trace=True,
        )
        release(out)
    return spark.createDataFrame(l1s, "iter INT, l1_delta DOUBLE").select(
        "iter", F.round("l1_delta", 9).alias("l1_delta")
    )


def katz(
    spark: SparkSession,
    edges: DataFrame,
    n: int | None = None,
    iterations: int = 10,
    alpha: float = 0.05,
    beta: float = 1.0,
    driver: IterationDriver | None = None,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    resume: bool = False,
) -> DataFrame:
    """Katz centrality (Katz 1953), (vid BIGINT, score DOUBLE):

        x_t = beta + alpha * sum over in-edges (w * x_{t-1}[src]),  x_0 = beta

    for ``iterations`` rounds — all incoming walks attenuated by
    alpha^length, the influence measure when teleport-style normalization
    is not wanted. Converges iff alpha < 1/lambda_max(A); with integer
    link-count weights, alpha well under 1/max_weighted_indegree is the
    safe practical bound (stated — the spectral radius is not estimated).
    Scores stay raw (beta-anchored), so there is no dangling-mass term and
    no global reduce in the loop; a vertex with no in-edges keeps score
    beta. Scores are rounded to
    9 decimals at the END only (the repo's cross-engine sum-order
    convention). With a checkpoint-backed driver and ``resume=True``,
    continues from the latest snapshot — kill-at-k == uninterrupted."""
    base = F.lit(float(beta))
    with _setup(spark, edges, n, vertices, num_partitions, normalize=False) as g:
        out, _ = _iterate(
            spark,
            g,
            g.verts.withColumn("rank", base),
            lambda s, prev: _step(g, s, alpha, base, prev=prev),
            iterations,
            driver,
            resume=resume,
        )
    return out.select("vid", F.round("rank", 9).alias("score"))
