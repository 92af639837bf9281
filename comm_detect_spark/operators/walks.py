"""Deterministic random-walk generation (DeepWalk / node2vec corpus).

No reference twin (SURVEY §2 is community detection); this is the walk
corpus generator of an embedding training pipeline — DeepWalk (Perozzi et
al., KDD'14) samples fixed-length uniform walks from every vertex, and the
walk corpus IS the training data handed to word2vec/SGNS downstream.

Determinism instead of RNG state: the next hop of walk w at step t from
vertex v is ``nbrs(v)[ h60(seed:w:t) % outdeg(v) ]`` where nbrs(v) is the
vertex's out-neighbor list sorted ascending and h60 the repo-wide 60-bit
md5 prefix (similarity.py:_h60). A hash-indexed pick is a uniform draw that
is reproducible bit-for-bit in any engine with md5 — the same argument as
the hash-ordered IVF fit sample — so the DuckDB oracle replays walks
exactly, and a resumed/re-run job emits the identical corpus (the property
the checkpoint story needs; RNG-state walks cannot give it).

Plan shape, one step = ONE shuffle join, no explosion:

  adjacency   groupBy(src) -> sort_array(collect_set(dst))    (once)
  step t      frontier(walk, v) JOIN adj ON v = src
              next = element_at(nbrs, h % deg + 1)            (pure expr)

The naive alternative — join the frontier against the EDGE list and argmin
per walk — multiplies every walk sitting on a hub by the hub's degree
(10^7-neighbor hub × walks parked on it = the scale-killer wedge shape,
linkpred.py). The array pick keeps per-walk-step cost O(1): the only
per-vertex cost is the adjacency row itself (a 10^7-degree hub is one
~80 MB array row — large but bounded, the GraphX adjacency trade; cap with
``max_degree`` to hash-sample hub neighbor lists deterministically when
that bound matters). Walks that reach a vertex with no out-edge stop
(inner join drops them) — dangling semantics, stated not hidden.

100 TB shape: the frontier is O(n_vertices × walks_per_vertex) rows of
(walk, v) — linear state, shuffled on v each step; hub-concentration skew
(many walks standing on one celebrity page) is an equi-join on v, which
AQE skew-split handles. walk_length steps = walk_length shuffles, the
standard distributed-walk cost (GraphX/Pregel walk generators pay the
same); lineage grows per step, so long walks should checkpoint every ~10
steps like pagerank's lineage truncation (plans/driver.py)."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _h60(col):
    """Repo-wide 60-bit md5-prefix hash (see similarity.py:_h60)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )


def random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
    max_degree: int | None = None,
) -> DataFrame:
    """(walk_id, step, vid) rows of deterministic uniform out-link walks.

    One walk starts at every vertex (every id appearing as src or dst) per
    rep r in [0, walks_per_vertex); walk_id = vid * walks_per_vertex + r.
    Step 0 is the start vertex; step t>0 follows
    ``sorted_out_nbrs[ h60('{seed}:{walk_id}:{t}') % outdeg ]``.
    Walks stop early at vertices with no out-edges.

    ``max_degree`` deterministically subsamples hub neighbor lists: keep
    the ``max_degree`` neighbors with the smallest (h60(seed:v:nbr), nbr)
    — a uniform, replayable cap, same policy family as linkpred's
    max_center_degree."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct()
    if max_degree is not None:
        w = F.expr(
            f"row_number() over (partition by src order by "
            f"conv(substring(md5(concat('{seed}:', cast(src as string), ':',"
            f" cast(dst as string))), 1, 15), 16, 10), dst)"
        )
        e = e.withColumn("_rn", w).where(F.col("_rn") <= max_degree).drop("_rn")
    # the adjacency is referenced by every step's join — without the
    # persist the groupBy/sort_array subplan appears walk_length times in
    # the final plan (ReuseExchange dedups the execution, but the analyzed
    # tree still repeats it)
    adj = e.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("nbrs")
    ).persist()
    cached = [adj]  # every persisted frame, released via _explode_paths

    verts = (
        edges.select(F.col("src").cast("long").alias("vid"))
        .unionAll(edges.select(F.col("dst").cast("long").alias("vid")))
        .distinct()
    )
    reps = verts.sparkSession.range(walks_per_vertex).select(
        F.col("id").alias("rep")
    )
    # r7 (VERDICT r6 #5): the walk rides the frontier as a PATH ARRAY —
    # each step left-joins the adjacency and appends the picked vertex, a
    # stopped walk (no out-edges: nbrs null) simply stops growing — and the
    # final (walk_id, step, vid) table is ONE posexplode of the last
    # frontier. The old shape materialized a per-step cache plus an L+1-
    # branch union and needed an eager-checkpoint epilogue to release the
    # caches (1.6-2.1x on sub-2 s bench keys); this one is a single linear
    # chain with no per-step caches and no epilogue — the caller's action
    # evaluates it once, end to end.
    state = verts.crossJoin(F.broadcast(reps)).select(
        (F.col("vid") * walks_per_vertex + F.col("rep")).alias("walk_id"),
        F.array(F.col("vid")).alias("path"),
        F.col("vid").alias("v"),
    )
    for t in range(1, walk_length + 1):
        h = _h60(
            F.concat(
                F.lit(f"{seed}:"),
                F.col("walk_id").cast("string"),
                F.lit(f":{t}"),
            )
        )
        nxt = F.element_at("nbrs", (h % F.size("nbrs") + 1).cast("int"))
        state = state.join(adj, state.v == adj.src, "left").select(
            "walk_id",
            F.when(F.col("nbrs").isNotNull(), F.array_append("path", nxt))
            .otherwise(F.col("path"))
            .alias("path"),
            F.when(F.col("nbrs").isNotNull(), nxt).alias("v"),
        )
        # long walks: cut the join chain every 8 steps (plan depth grows
        # O(L) — the driver-loop blowup, plans/driver.py)
        if t % 8 == 0 and t < walk_length:
            state = state.localCheckpoint(eager=True)
    return _explode_paths(state, cached)


def _explode_paths(state: DataFrame, cached: list[DataFrame]) -> DataFrame:
    """Path-array epilogue (r7): materialize the COMPACT per-walk state
    (one row per walk, the path as an array — smaller than the exploded
    step table the old epilogue checkpointed), release the persisted
    adjacency, and return the lazy posexplode into (walk_id, step, vid).
    One vertex-sized materialization, zero lingering caches."""
    state = state.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return state.select(
        "walk_id", F.posexplode("path").alias("step", "vid")
    ).select("walk_id", F.col("step").cast("int").alias("step"), "vid")


def walks_as_sentences(walks: DataFrame) -> DataFrame:
    """(walk_id, sentence array<long>) — the word2vec input shape: one
    ordered vertex array per walk. array_agg ordered by step via
    sort_array on (step, vid) structs — no window, one hash agg."""
    return walks.groupBy("walk_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("step", "vid"))),
            lambda s: s["vid"],
        ).alias("sentence")
    )


def weighted_random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
) -> DataFrame:
    """random_walks with next-hop probability proportional to edge WEIGHT
    (integer weights — this repo's edge weights are link counts): the hash
    draw indexes into the neighbor list's cumulative-weight ranges,
    ``next = first nbr (by dst order) with cum_weight > h % total_weight``
    — each neighbor owns a contiguous range of size = its weight, so the
    uniform 60-bit draw lands on it with probability weight/total, and the
    pick is exactly replayable in SQL (MIN(dst) WHERE cumw > r).

    Parallel (src, dst) rows have their weights summed first. Same
    plan/scale shape as random_walks: one persisted adjacency (structs of
    (dst, cumw) + a total per vertex), one frontier join per step, O(1)
    per-walk pick via filter+head on the struct array, lineage cut every
    8 steps."""
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("weight").cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    from pyspark.sql import Window

    cum = F.sum("w").over(
        Window.partitionBy("src").orderBy("dst").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    adj = (
        e.select("src", "dst", cum.alias("cumw"))
        .groupBy("src")
        .agg(
            F.sort_array(F.collect_list(F.struct("dst", "cumw"))).alias(
                "nbrs"
            ),
            F.max("cumw").alias("total"),
        )
        .persist()
    )
    cached = [adj]

    verts = (
        edges.select(F.col("src").cast("long").alias("vid"))
        .unionAll(edges.select(F.col("dst").cast("long").alias("vid")))
        .distinct()
    )
    reps = verts.sparkSession.range(walks_per_vertex).select(
        F.col("id").alias("rep")
    )
    # r7: path-array frontier, same shape as random_walks — one linear
    # chain, no per-step caches, one compact materialization at the end
    state = verts.crossJoin(F.broadcast(reps)).select(
        (F.col("vid") * walks_per_vertex + F.col("rep")).alias("walk_id"),
        F.array(F.col("vid")).alias("path"),
        F.col("vid").alias("v"),
    )
    for t in range(1, walk_length + 1):
        h = _h60(
            F.concat(
                F.lit(f"{seed}:"),
                F.col("walk_id").cast("string"),
                F.lit(f":{t}"),
            )
        )
        r = h % F.col("total")
        pick = F.element_at(
            F.filter("nbrs", lambda s: s["cumw"] > r), 1
        )["dst"]
        state = state.join(adj, state.v == adj.src, "left").select(
            "walk_id",
            F.when(F.col("nbrs").isNotNull(), F.array_append("path", pick))
            .otherwise(F.col("path"))
            .alias("path"),
            F.when(F.col("nbrs").isNotNull(), pick).alias("v"),
        )
        if t % 8 == 0 and t < walk_length:
            state = state.localCheckpoint(eager=True)
    return _explode_paths(state, cached)

def node2vec_class_weights(p: float, q: float) -> tuple[int, int, int]:
    """node2vec's (1/p, 1, 1/q) transition biases as exact INTEGERS.

    With p = pa/pb and q = qa/qb (Fraction, denominator <= 10^6), scaling
    all three biases by pa*qa gives (w_ret, w_near, w_far) =
    (pb*qa, pa*qa, pa*qb) — same ratios, integer-exact, so the cumulative
    ranges the hash draw indexes are replayable bit-for-bit in any engine
    (no float cumsum drift). Returned in walk-semantics order:
    back-to-previous, distance-1-from-previous, distance-2."""
    fp, fq = Fraction(p).limit_denominator(10**6), Fraction(
        q
    ).limit_denominator(10**6)
    if fp <= 0 or fq <= 0:
        raise ValueError("node2vec p and q must be > 0")
    pa, pb = fp.numerator, fp.denominator
    qa, qb = fq.numerator, fq.denominator
    return pb * qa, pa * qa, pa * qb


def node2vec_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
    p: float = 1.0,
    q: float = 1.0,
    max_degree: int | None = None,
) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec KDD'16):
    the hop out of v after arriving from u weights each candidate x by
    edge_weight(v,x) * alpha(u,x), alpha = 1/p if x==u (return), 1 if
    x in N(u) (stay near), 1/q otherwise (explore). alpha is carried as
    the integer class weights of :func:`node2vec_class_weights`, so the
    cumulative-range hash pick (same draw contract as
    weighted_random_walks: first dst-ordered candidate whose running
    weight exceeds h60('{seed}:{walk_id}:{t}') % total) stays exactly
    SQL-replayable even though the distribution is context-dependent.
    Step 1 has no previous vertex and uses plain edge-weight bias —
    with p=q=1 every class weight collapses to a constant and the whole
    walk is bit-identical to weighted_random_walks (pinned in tests).

    Plan shape per step: the frontier carries (walk_id, u, v); TWO joins
    against the persisted adjacency (candidate lists of v, membership
    list of u), then the pick is one O(deg) higher-order aggregate — no
    per-row Python, no candidate explode. The membership test is scanned
    against inter = array_intersect(N(v), N(u)) (hash-set build, O(du+dv)),
    so a hub-hub transition costs O(dv * |inter|), not O(dv * du).

    100 TB shape: same linear frontier state and one-exchange-per-join
    cost as random_walks, but 2 adjacency joins per step instead of 1 —
    the unavoidable second-order tax (the alternative, materializing
    per-EDGE context tables keyed (u,v), is O(sum deg^2) storage and
    loses at web-graph hub degrees). Hub lists bound via ``max_degree``
    (deterministic hash subsample, same policy as random_walks); lineage
    cut every 8 steps."""
    w_ret, w_near, w_far = node2vec_class_weights(p, q)
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("weight").cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    if max_degree is not None:
        rn = F.expr(
            f"row_number() over (partition by src order by "
            f"conv(substring(md5(concat('{seed}:', cast(src as string), ':',"
            f" cast(dst as string))), 1, 15), 16, 10), dst)"
        )
        e = e.withColumn("_rn", rn).where(F.col("_rn") <= max_degree).drop(
            "_rn"
        )
    adj = (
        e.groupBy("src")
        .agg(
            F.sort_array(F.collect_list(F.struct("dst", "w"))).alias("nbrs"),
            F.sort_array(F.collect_list("dst")).alias("ids"),
        )
        .persist()
    )
    cached = [adj]

    verts = (
        edges.select(F.col("src").cast("long").alias("vid"))
        .unionAll(edges.select(F.col("dst").cast("long").alias("vid")))
        .distinct()
    )
    reps = verts.sparkSession.range(walks_per_vertex).select(
        F.col("id").alias("rep")
    )
    # r7: path-array frontier (see random_walks) — (walk_id, path, u, v),
    # one linear chain, no per-step caches, compact end materialization
    start = verts.crossJoin(F.broadcast(reps)).select(
        (F.col("vid") * walks_per_vertex + F.col("rep")).alias("walk_id"),
        F.array(F.col("vid")).alias("path"),
        F.col("vid").alias("v"),
    )
    zero = F.lit(0).cast("long")

    def draw(t):
        return _h60(
            F.concat(
                F.lit(f"{seed}:"),
                F.col("walk_id").cast("string"),
                F.lit(f":{t}"),
            )
        )

    def pick(wgt_fn, t):
        """First dst-ordered candidate whose cumulative weight exceeds
        h % total — two O(deg) array folds, pure JVM. The draw r rides in
        the scan's INITIAL accumulator (evaluated once per row): written
        as an outer reference inside the lambda, Catalyst's project
        collapse would inline r's whole expression — which embeds the
        O(deg) total fold — into the per-element body, turning the pick
        O(deg^2)."""
        total = F.aggregate("nbrs", zero, lambda acc, s: acc + wgt_fn(s))
        scanned = F.aggregate(
            "nbrs",
            F.struct(
                zero.alias("cum"),
                F.lit(None).cast("long").alias("pick"),
                (draw(t) % total).alias("r"),
            ),
            lambda acc, s: F.struct(
                (acc["cum"] + wgt_fn(s)).alias("cum"),
                F.when(
                    acc["pick"].isNull() & (acc["cum"] + wgt_fn(s) > acc["r"]),
                    s["dst"],
                )
                .otherwise(acc["pick"])
                .alias("pick"),
                acc["r"].alias("r"),
            ),
        )
        return scanned["pick"]

    if walk_length < 1:
        return _explode_paths(start, cached)
    # step 1: no previous vertex — plain edge-weight bias
    av = adj.select(F.col("src").alias("_vs"), "nbrs")
    p1 = pick(lambda s: s["w"], 1)
    state = start.join(av, start.v == av._vs, "left").select(
        "walk_id",
        F.when(F.col("nbrs").isNotNull(), F.array_append("path", p1))
        .otherwise(F.col("path"))
        .alias("path"),
        F.col("v").alias("u"),
        F.when(F.col("nbrs").isNotNull(), p1).alias("v"),
    )
    for t in range(2, walk_length + 1):
        au = adj.select(F.col("src").alias("_us"), F.col("ids").alias("uids"))
        fr = (
            state.join(av, state.v == av._vs, "left")
            .join(au, state.u == au._us, "left")
            .withColumn(
                "inter",
                F.array_intersect(
                    F.transform("nbrs", lambda s: s["dst"]),
                    F.coalesce("uids", F.array().cast("array<long>")),
                ),
            )
        )

        def wgt(s):
            cls = (
                F.when(s["dst"] == F.col("u"), F.lit(w_ret))
                .when(F.array_contains("inter", s["dst"]), F.lit(w_near))
                .otherwise(F.lit(w_far))
                .cast("long")
            )
            return s["w"] * cls

        # pick BEFORE re-aliasing: in a single select list Spark resolves
        # lateral column aliases, so `u` inside wgt would bind to the NEW
        # `v AS u` alias (the current vertex) instead of the frontier's
        # previous-vertex column, silently degrading every class weight
        state = (
            fr.select("walk_id", "path", "v", pick(wgt, t).alias("_nxt"))
            .select(
                "walk_id",
                F.when(
                    F.col("_nxt").isNotNull(),
                    F.array_append("path", F.col("_nxt")),
                )
                .otherwise(F.col("path"))
                .alias("path"),
                F.col("v").alias("u"),
                F.col("_nxt").alias("v"),
            )
        )
        if t % 8 == 0 and t < walk_length:
            state = state.localCheckpoint(eager=True)
    return _explode_paths(state, cached)


def skipgram_pairs(
    walks: DataFrame, window: int = 2
) -> DataFrame:
    """(center, context, cnt): word2vec/SGNS training pairs from a walk
    table (the random_walks/weighted/node2vec output shape — one
    (walk_id, step, vid) row per visited vertex). A pair is two visits of
    the SAME walk at step distance 1..window, emitted in both directions
    (the standard skip-gram window), aggregated to multiplicities — the
    actual training-data product the DeepWalk pipeline exists to feed.

    Plan shape: ONE self-equi-join on walk_id with the |step diff| <=
    window band predicate + one map-side-combined pair count. Per walk of
    length L the join emits <= 2*L*window rows — linear in corpus size,
    never quadratic (steps within one walk are at most L+1, and L is an
    operator parameter, not data). At 100 TB of walks the join key
    (walk_id) is uniform by construction (hash-minted ids), so no skew
    guard is needed."""
    a = walks.select(
        F.col("walk_id").alias("w"),
        F.col("step").alias("sa"),
        F.col("vid").alias("center"),
    )
    b = walks.select(
        F.col("walk_id").alias("w"),
        F.col("step").alias("sb"),
        F.col("vid").alias("context"),
    )
    return (
        a.join(b, "w")
        .where(
            (F.col("sa") != F.col("sb"))
            & (F.abs(F.col("sa") - F.col("sb")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ppmi_scores(pairs: DataFrame, min_count: int = 1) -> DataFrame:
    """(center, context, cnt, ppmi): positive pointwise mutual information
    over a (center, context, cnt) pair table — the skipgram_pairs output.
    PPMI = max(0, ln(P(c,x) / (P(c) P(x)))) with margins re-aggregated
    from the pair table itself (center margin = total cnt as center,
    context margin = total cnt as context, N = total pairs): the
    Levy-Goldberg result that SGNS implicitly factorizes this matrix is
    why PPMI-on-walk-cooccurrence is the closed-form stand-in for a
    trained embedding — the walks -> skipgram -> PPMI chain is the
    DeepWalk data product end-to-end. min_count floors the
    low-frequency blowup (same rationale as bigram_pmi).

    100 TB shape: two margin re-aggregations of the ALREADY-COUNTED pair
    table (vertex-keyed, not corpus-keyed), one broadcast scalar, two
    vertex-keyed joins back — nothing rescans the walk corpus. Skew: the
    margin keys are walk-visit-frequency-weighted vertices (hubs), the
    same key class as every degree join here; AQE-split."""
    left = pairs.groupBy("center").agg(F.sum("cnt").alias("n_c"))
    right = pairs.groupBy("context").agg(F.sum("cnt").alias("n_x"))
    total = pairs.agg(F.sum("cnt").alias("n_total"))
    return (
        pairs.where(F.col("cnt") >= min_count)
        .join(left, "center")
        .join(right, "context")
        .crossJoin(F.broadcast(total))
        .select(
            "center",
            "context",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.log(
                        (F.col("cnt").cast("double") * F.col("n_total"))
                        / (F.col("n_c").cast("double") * F.col("n_x"))
                    ),
                ),
                6,
            ).alias("ppmi"),
        )
    )
