"""cc_min_labels contract: fixpoint certification and the
non-convergence warning (a silent partial result would mis-cluster
high-diameter components — ADVICE round 2)."""

from __future__ import annotations

import random
import warnings

import pytest

from flink_streaming_example_spark.operators.dedup import (
    cc_large_star_small_star,
    cc_min_labels,
)


def _path_edges(spark, n):
    rows = [(i, i + 1) for i in range(n - 1)]
    return spark.createDataFrame(rows, "doc_id_a long, doc_id_b long")


def test_cc_converges_on_path(spark):
    n = 30
    labels = cc_min_labels(_path_edges(spark, n), max_iter=60).collect()
    assert len(labels) == n
    assert {r.cluster_id for r in labels} == {0}


def test_cc_warns_when_iteration_budget_too_small(spark):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        cc_min_labels(_path_edges(spark, 30), max_iter=3).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "not converged" in str(w.message)
        for w in caught
    ), "partial propagation must not be silent"


def _labels_of(df):
    return {(r.doc_id, r.cluster_id) for r in df.collect()}


def test_lss_matches_min_labels_on_path(spark):
    """A 40-node path is the adversarial case for propagation
    (diameter 39); large-star/small-star must agree while converging
    in O(log n) rounds (max_iter=10 << 39)."""
    edges = _path_edges(spark, 40)
    got = _labels_of(cc_large_star_small_star(edges, max_iter=10))
    want = {(i, 0) for i in range(40)}
    assert got == want


def test_lss_matches_min_labels_on_random_graph(spark):
    """Seed-fixed Erdos-Renyi-ish graph: both algorithms elect the
    same component minimum for every node."""
    rnd = random.Random(7)
    nodes = list(range(120))
    rows = [
        (a, b)
        for a in nodes
        for b in nodes
        if a < b and rnd.random() < 0.02
    ]
    edges = spark.createDataFrame(rows, "doc_id_a long, doc_id_b long")
    assert _labels_of(cc_large_star_small_star(edges)) == _labels_of(
        cc_min_labels(edges, max_iter=60)
    )


def test_lss_disjoint_cliques_and_self_pairs(spark):
    """Two cliques + an isolated pair + a duplicated/reversed edge:
    dedup and orientation handling must not merge or drop
    components."""
    clique = lambda lo, n: [
        (lo + i, lo + j) for i in range(n) for j in range(i + 1, n)
    ]
    rows = clique(0, 5) + clique(10, 4) + [(20, 21), (21, 20), (20, 21)]
    edges = spark.createDataFrame(rows, "doc_id_a long, doc_id_b long")
    got = _labels_of(cc_large_star_small_star(edges))
    want = (
        {(i, 0) for i in range(5)}
        | {(10 + i, 10) for i in range(4)}
        | {(20, 20), (21, 20)}
    )
    assert got == want


def test_lss_stops_on_the_round_that_reaches_stars(spark):
    """A 3-node path becomes the star {1->0, 2->0} in one round.  The
    star-forest check must certify that round itself, so a budget of
    one round suffices — no extra no-change round, no warning."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = _labels_of(
            cc_large_star_small_star(_path_edges(spark, 3), max_iter=1)
        )
    assert got == {(0, 0), (1, 0), (2, 0)}
    assert not [
        w for w in caught if issubclass(w.category, RuntimeWarning)
    ], [str(w.message) for w in caught]
