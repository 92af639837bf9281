"""Round-6 operator gates: core decomposition (h-index), stratified
sampling, edge sampling, landmark distances/closeness, bigram counts,
char-trigram LM scoring, containment pairs — plus the fail-loud
non-convergence contracts added to sssp/k_core (ADVICE r5) and the walk
cache-release discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _edges(spark, pairs, weights=None):
    if weights is None:
        weights = [1] * len(pairs)
    return spark.createDataFrame(
        [(int(a), int(b), int(w)) for (a, b), w in zip(pairs, weights)],
        "src long, dst long, weight long",
    )


# ---------------------------------------------------------------------------
# core_decomposition
# ---------------------------------------------------------------------------


def test_core_decomposition_fixpoint_matches_numpy_replay(spark, jazz):
    from comm_detect_spark.operators.kcore import (
        core_decomposition,
        numpy_coreness,
    )

    n, s, d, w = jazz
    e = _edges(spark, list(zip(s.tolist(), d.tolist())))
    got = {
        r["vid"]: r["coreness"]
        for r in core_decomposition(spark, e).collect()
    }
    vids, core = numpy_coreness(s, d, rounds=None)
    want = {int(v): int(c) for v, c in zip(vids, core)}
    assert got == want


def test_core_decomposition_fixed_rounds_matches_replay(spark, jazz):
    from comm_detect_spark.operators.kcore import (
        core_decomposition,
        numpy_coreness,
    )

    n, s, d, w = jazz
    e = _edges(spark, list(zip(s.tolist(), d.tolist())))
    got = {
        r["vid"]: r["coreness"]
        for r in core_decomposition(spark, e, rounds=2).collect()
    }
    vids, core = numpy_coreness(s, d, rounds=2)
    assert got == {int(v): int(c) for v, c in zip(vids, core)}


def test_core_decomposition_coreness_is_exact_on_known_graph(spark):
    # triangle {0,1,2} (2-core) with a pendant path 2-3-4 (1-core)
    from comm_detect_spark.operators.kcore import core_decomposition

    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)])
    got = {
        r["vid"]: r["coreness"]
        for r in core_decomposition(spark, e).collect()
    }
    assert got == {0: 2, 1: 2, 2: 2, 3: 1, 4: 1}


def test_core_decomposition_raises_when_max_iter_too_small(spark):
    from comm_detect_spark.operators.kcore import core_decomposition

    # a 12-vertex path needs several h-index rounds; cap at 1 and insist
    # on fixpoint -> must fail loudly, never return unconverged estimates
    e = _edges(spark, [(i, i + 1) for i in range(12)])
    with pytest.raises(RuntimeError, match="not converged"):
        core_decomposition(spark, e, max_iter=1)


# ---------------------------------------------------------------------------
# fail-loud contracts retrofitted onto k_core / sssp (ADVICE r5)
# ---------------------------------------------------------------------------


def test_k_core_raises_instead_of_silent_misclassification(spark):
    from comm_detect_spark.operators.kcore import k_core

    # k=2 on a 30-vertex path: peeling removes one layer per END per
    # round (~15 rounds); max_iter=3 used to return in_core=True for
    # every undecided vertex — now it raises
    e = _edges(spark, [(i, i + 1) for i in range(30)])
    with pytest.raises(RuntimeError, match="not converged"):
        k_core(spark, e, k=2, max_iter=3)


def test_k_core_converged_result_unchanged(spark):
    from comm_detect_spark.operators.kcore import k_core

    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    got = {r["vid"]: r["in_core"] for r in k_core(spark, e, k=2).collect()}
    assert got == {0: True, 1: True, 2: True, 3: False}


def test_sssp_fixpoint_raises_when_max_rounds_exhausted(spark):
    from comm_detect_spark.operators.sssp import sssp

    # a 10-edge weighted chain needs 10 relaxations from vertex 0;
    # max_rounds=3 must raise, not return truncated distances
    e = _edges(spark, [(i, i + 1) for i in range(10)])
    with pytest.raises(RuntimeError, match="not converged"):
        sssp(spark, e, [0], max_rounds=3)


def test_sssp_fixpoint_converges_within_budget(spark):
    from comm_detect_spark.operators.sssp import sssp

    e = _edges(spark, [(0, 1), (1, 2), (2, 3)], weights=[5, 1, 2])
    got = {r["vid"]: r["dist"] for r in sssp(spark, e, [0]).collect()}
    assert got == {0: 0, 1: 5, 2: 6, 3: 8}


# ---------------------------------------------------------------------------
# stratified / edge sampling
# ---------------------------------------------------------------------------


def test_stratified_sample_nested_and_append_stable(spark):
    from comm_detect_spark.operators.corpus import stratified_sample

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    half = stratified_sample(df, "lang", {"en": 0.5, "de": 0.5})
    quarter = stratified_sample(df, "lang", {"en": 0.25, "de": 0.25})
    ids_half = {r["doc_id"] for r in half.collect()}
    ids_quarter = {r["doc_id"] for r in quarter.collect()}
    # nested rates -> nested subsets (same id keeps the same bucket)
    assert ids_quarter <= ids_half
    # append stability: sampling a filtered corpus never flips a decision
    sub = stratified_sample(
        df.where(F.col("doc_id") < 500), "lang", {"en": 0.5, "de": 0.5}
    )
    assert {r["doc_id"] for r in sub.collect()} == {
        i for i in ids_half if i < 500
    }
    # rates land near the nominal fraction
    assert 0.4 < len(ids_half) / 2000 < 0.6
    # strata not in the config fall back to default_fraction
    none_kept = stratified_sample(df, "lang", {}, default_fraction=0.0)
    assert none_kept.count() == 0


def test_edge_sample_deterministic_and_near_fraction(spark):
    from comm_detect_spark.operators.graphstats import edge_sample

    e = _edges(spark, [(i, j) for i in range(60) for j in range(i + 1, 60)])
    s1 = edge_sample(e, 0.25).collect()
    s2 = edge_sample(e, 0.25).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    assert 0.18 < len(s1) / e.count() < 0.32


# ---------------------------------------------------------------------------
# landmark distances
# ---------------------------------------------------------------------------


def test_landmark_distances_per_source_and_closeness(spark):
    from comm_detect_spark.operators.sssp import (
        landmark_closeness,
        landmark_distances,
    )

    # path 0-1-2-3 (unit weights): landmark 0 and 3 see different dists
    e = _edges(spark, [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2)])
    d = landmark_distances(spark, e, [0, 3], rounds=3)
    got = {(r["s"], r["vid"]): r["dist"] for r in d.collect()}
    assert got[(0, 0)] == 0 and got[(0, 3)] == 3
    assert got[(3, 3)] == 0 and got[(3, 0)] == 3
    assert got[(0, 1)] == 1 and got[(3, 1)] == 2
    c = {r["vid"]: (r["reached"], r["closeness"])
         for r in landmark_closeness(d).collect()}
    # vid 1: dists {1, 2} -> closeness 2/3
    assert c[1] == (2, round(2 / 3, 6))
    # vid 0: dists {0, 3} -> 2/3 as well; reached both landmarks
    assert c[0][0] == 2


def test_landmark_distances_rejects_negative_weights(spark):
    from comm_detect_spark.operators.sssp import landmark_distances

    e = _edges(spark, [(0, 1)], weights=[-2])
    with pytest.raises(ValueError, match="negative-weight"):
        landmark_distances(spark, e, [0], rounds=1)


# ---------------------------------------------------------------------------
# bigram counts / charlm / containment
# ---------------------------------------------------------------------------


def test_bigram_counts_exact_small_case(spark):
    from comm_detect_spark.operators.ranking import bigram_counts

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "  a   b  "), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["bigram"]: r["n"] for r in bigram_counts(docs).collect()}
    # doc 1: "a b", "b a", "a b"; doc 2 (multi-space collapses): "a b";
    # docs 3/4: no bigram
    assert got == {"a b": 3, "b a": 1}


def test_charlm_scores_separate_typical_from_gibberish(spark):
    from comm_detect_spark.operators.charlm import charlm_scores

    rows = [(i, "the cat sat on the mat and the dog sat too")
            for i in range(8)]
    rows.append((100, "zq xv jk wq zx qz kj vx"))
    rows.append((101, "ab"))  # too short for a trigram
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in charlm_scores(docs).collect()}
    typical = got[0]["lm_score"]
    weird = got[100]["lm_score"]
    assert typical is not None and weird is not None
    # corpus-typical text scores strictly higher than one-off gibberish
    assert typical > weird
    # every trigram is in the corpus by construction -> finite scores
    assert all(
        r["lm_score"] is not None for k, r in got.items() if k != 101
    )
    assert got[101]["n_trigrams"] == 0 and got[101]["lm_score"] is None


def test_containment_catches_subset_duplicate_jaccard_misses(spark):
    from comm_detect_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    page = quote + (
        " eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau"
        " upsilon phi chi psi omega one two three four five six seven"
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, page)], "doc_id long, text string"
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, "doc_id", "text").collect()
    }
    # the quote is fully contained in the page
    assert cont[(1, 2)] == 1.0
    # ...but the page is NOT contained in the quote at threshold 0.5
    assert (2, 1) not in cont
    # and Jaccard misses the pair entirely at the same threshold
    jac = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    assert jac.count() == 0


# ---------------------------------------------------------------------------
# walk cache release (ADVICE r5)
# ---------------------------------------------------------------------------


def test_walks_release_their_caches(spark):
    from comm_detect_spark.operators.walks import random_walks

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    e = _edges(spark, [(i, (i + 1) % 50) for i in range(50)])
    out = random_walks(e, walk_length=3)
    n = out.count()
    assert n > 0
    after = jsc.getPersistentRDDs().size()
    # the output localCheckpoint itself may register one entry, but the
    # adjacency + 3 per-step frontier caches must all be released
    assert after - before <= 1


# ---------------------------------------------------------------------------
# warm-start pagerank
# ---------------------------------------------------------------------------


def test_pagerank_warm_start_equals_cold_continuation(spark, jazz):
    from comm_detect_spark.operators.pagerank import pagerank

    n, s, d, w = jazz
    e = _edges(spark, list(zip(s.tolist(), d.tolist())),
               weights=w.tolist())
    cold3 = {
        r["vid"]: round(r["rank"], 9)
        for r in pagerank(spark, e, n, iterations=3).collect()
    }
    r2 = pagerank(spark, e, n, iterations=2)
    warm = {
        r["vid"]: round(r["rank"], 9)
        for r in pagerank(spark, e, n, iterations=1, init=r2).collect()
    }
    assert warm == cold3


def test_pagerank_warm_start_fills_new_vertices(spark):
    from comm_detect_spark.operators.pagerank import pagerank

    # init covers only vertex 0; vertices 1..3 are "newly crawled" and
    # must start at 1/n, not null
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    init = spark.createDataFrame([(0, 0.7)], "vid long, rank double")
    got = pagerank(spark, e, 4, iterations=1, init=init)
    assert got.where(F.col("rank").isNull()).count() == 0
    assert got.count() == 4


# ---------------------------------------------------------------------------
# edge diff (crawl delta)
# ---------------------------------------------------------------------------


def test_edge_diff_classifies_added_removed_kept(spark):
    from comm_detect_spark.operators.graphstats import edge_diff

    old = _edges(spark, [(0, 1), (1, 2), (2, 3), (2, 3)])  # dup collapses
    new = _edges(spark, [(0, 1), (2, 3), (3, 4)])
    got = {
        (r["src"], r["dst"]): r["status"]
        for r in edge_diff(old, new).collect()
    }
    assert got == {
        (0, 1): "kept",
        (2, 3): "kept",
        (1, 2): "removed",
        (3, 4): "added",
    }
    # row count is |old ∪ new| exactly (no dup from the parallel edge)
    assert edge_diff(old, new).count() == 4


# ---------------------------------------------------------------------------
# distributed RMAT source
# ---------------------------------------------------------------------------


def test_rmat_distributed_deterministic_and_plausible(spark):
    from comm_detect_spark.sources.rmat import rmat_edges_distributed

    a = rmat_edges_distributed(spark, scale=10, edge_factor=4,
                               num_partitions=4)
    b = rmat_edges_distributed(spark, scale=10, edge_factor=4,
                               num_partitions=4)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb  # pure function of the spec
    # multiplicities preserved: weights sum to the drawn edge count
    total = sum(w for _, _, w in ra)
    assert total == (1 << 10) * 4
    # power-law shape: the hottest vertex far exceeds the mean out-degree
    from pyspark.sql import functions as F

    deg = a.groupBy("src").agg(F.sum("weight").alias("d"))
    mx = deg.agg(F.max("d")).collect()[0][0]
    assert mx > 4 * 4  # mean out-degree is ~4


def test_rmat_distributed_partition_count_changes_stream(spark):
    """Different partition counts seed different PCG64 streams — the spec
    pins (scale, ef, seed, num_partitions) as the determinism key, so
    two partitionings are each internally deterministic but need not
    match each other."""
    from comm_detect_spark.sources.rmat import rmat_edges_distributed

    a = rmat_edges_distributed(spark, scale=9, edge_factor=4,
                               num_partitions=2)
    a2 = rmat_edges_distributed(spark, scale=9, edge_factor=4,
                                num_partitions=2)
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, a2.collect())
    )
