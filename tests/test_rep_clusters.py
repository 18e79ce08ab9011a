"""Equivalence tests for the connected-components kernel and the rep-level
cluster-summary rewrite.

``graph.components`` labels small graphs with a driver union-find and
large ones with the distributed large-star/small-star loop; both paths
must give every node its component minimum. ``rep_cluster_summaries``
claims: CC over the rep pair graph + one membership expansion is
frame-identical to ``cluster_summaries`` over the fully expanded
member-level pair relation. Both are exercised on crafted graphs covering
the corners the proofs lean on: isolated within-only cliques,
cross-linked groups, gate-failing groups, singleton groups, chains that
merge under transitivity, a long chain with shuffled ids and an empty
relation.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators import graph
from oe_batch_processing_spark.operators.dedup import (
    cluster_summaries,
    content_rep_groups,
    expand_rep_pairs,
    rep_cluster_summaries,
    trigram_clique_reps,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _min_labels(edges):
    """Reference labeling: each node's component minimum, by DFS."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {}
    for start in adj:
        if start in labels:
            continue
        comp, stack = {start}, [start]
        while stack:
            for nb in adj[stack.pop()] - comp:
                comp.add(nb)
                stack.append(nb)
        labels.update((x, min(comp)) for x in comp)
    return sorted(labels.items())


def test_components_driver_and_star_paths_agree(spark, monkeypatch):
    # chain 1-2-3-4, clique 10-11-12, isolated edge 20-21, plus a merge
    # of two components through a late edge (7-1, 7-4)
    crafted = [
        (1, 2), (2, 3), (3, 4),
        (10, 11), (11, 12), (10, 12),
        (20, 21),
        (7, 4), (7, 1),
    ]
    # a 200-node chain with shuffled ids: one round per hop for label
    # propagation, a handful for the star loop
    ids = list(range(1, 201))
    random.Random(16).shuffle(ids)
    chain = list(zip(ids, ids[1:]))
    for edges in (crafted, chain, []):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        driver = _sorted_rows(graph.components(pairs))
        with monkeypatch.context() as m:
            m.setattr(graph, "_CC_DRIVER_PAIRS", 0)
            star = _sorted_rows(graph.components(pairs))
        assert driver == star == _min_labels(edges)


@pytest.mark.parametrize("cap", [100_000, 0], ids=["driver", "star"])
def test_components_releases_only_its_own_cache(spark, monkeypatch, cap):
    monkeypatch.setattr(graph, "_CC_DRIVER_PAIRS", cap)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    graph.components(pairs).collect()
    assert not pairs.storageLevel.useMemory  # its own cache is released
    pairs.persist()
    try:
        graph.components(pairs).collect()
        assert pairs.storageLevel.useMemory  # the caller's cache survives
    finally:
        pairs.unpersist()


def test_rep_cluster_summaries_matches_expanded(spark):
    # Crafted corpus: group A = replicas of a long text, cross-linked to
    # group B (single member) via a rep pair; group C = isolated replica
    # pair (within-only clique); group D = replicas of a 2-word text
    # (fails the trigram gate -> must NOT appear); group E = singleton
    # (no pairs -> must not appear).
    long_a = "alpha beta gamma delta epsilon zeta"
    long_b = "alpha beta gamma delta epsilon eta"
    iso_c = "one two three four five six seven"
    short_d = "tiny text"
    docs = spark.createDataFrame(
        [
            (1, long_a), (4, long_a), (9, long_a),
            (2, long_b),
            (5, iso_c), (6, iso_c),
            (7, short_d), (8, short_d),
            (3, "unique singleton content here okay"),
        ],
        "doc_id long, text string",
    )
    groups = content_rep_groups(docs)
    rep_pairs = spark.createDataFrame(
        [(1, 2, 0.9)], "rep_a long, rep_b long, jaccard double"
    )
    clique_reps = trigram_clique_reps(groups)

    expanded = expand_rep_pairs(groups, rep_pairs, "jaccard", F.lit(1.0))
    want = _sorted_rows(cluster_summaries(expanded.select("doc_a", "doc_b")))
    got = _sorted_rows(rep_cluster_summaries(groups, rep_pairs, clique_reps))
    assert got == want
    # shape spot-checks: component {1,4,9,2} labeled 1 with 4 members;
    # isolated clique {5,6} labeled 5; nothing for D (gate) or E (singleton)
    reps = {r[0]: r[1] for r in got}
    assert reps == {1: 4, 5: 2}


def test_rep_cluster_summaries_empty_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x")],
        "doc_id long, text string",
    )
    groups = content_rep_groups(docs)
    rep_pairs = spark.createDataFrame(
        [], "rep_a long, rep_b long, jaccard double"
    )
    got = _sorted_rows(
        rep_cluster_summaries(groups, rep_pairs, trigram_clique_reps(groups))
    )
    assert got == [(1, 2, "1,2")]
