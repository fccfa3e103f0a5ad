"""Connected-components dedup: transitive exactness on known graphs
(the rows-only counterpart check for the dedup_components query)."""

from __future__ import annotations

import pytest

from etl_work_flow_for_big_data_spark.operators.dedup import connected_components


def _cc(spark, edges, **kw):
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    return {
        r["id"]: r["component"] for r in connected_components(pairs, **kw).collect()
    }


def test_chain_collapses_transitively(spark):
    # 1-2, 2-3, 3-4: greedy would keep 3 (only d2s dropped); CC labels
    # the whole chain with min id 1
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components(spark):
    got = _cc(spark, [(1, 2), (5, 6), (6, 9), (20, 30)])
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 9: 5, 20: 20, 30: 20}


def test_star_and_cycle(spark):
    got = _cc(spark, [(10, 2), (10, 3), (10, 4), (2, 3), (3, 4), (4, 2)])
    assert set(got.values()) == {2}
    assert got[10] == 2


def test_long_chain_needs_iterations(spark):
    # label of the far end must propagate the full diameter (reference
    # algorithm); the two-phase default gets there in O(log n) rounds
    edges = [(i, i + 1) for i in range(0, 12)]
    got = _cc(spark, edges, max_iters=15, algorithm="label")
    assert set(got.values()) == {0}
    assert _cc(spark, edges) == got  # star default, default max_iters


def test_nonconvergence_raises(spark):
    # min-label propagation needs diameter rounds, so a 13-node chain
    # cannot converge in 2 — the safety cap must raise, not mislabel
    edges = [(i, i + 1) for i in range(0, 12)]
    with pytest.raises(RuntimeError, match="converge"):
        _cc(spark, edges, max_iters=2, algorithm="label")


def test_self_pair_nodes_are_labeled(spark):
    """Contract: exactly the nodes appearing in pairs are labeled — a
    node seen only in a self-pair (x, x) maps to itself under BOTH
    algorithms (the star path must not lose it to the self-loop
    filter)."""
    for algo in ("star", "label"):
        got = _cc(spark, [(5, 5), (1, 2)], algorithm=algo)
        assert got == {5: 5, 1: 1, 2: 1}, (algo, got)


def test_default_budget_covers_deep_chains(spark):
    """The star default exists for chain-shaped components; its default
    round budget must actually cover one far beyond the toy sizes (a
    1500-node chain needs ~12 large/small-star rounds — the old
    max_iters=10 default raised here)."""
    edges = [(i, i + 1) for i in range(1500)]
    got = _cc(spark, edges)  # default budget, default algorithm
    assert set(got.values()) == {0}
    assert len(got) == 1501


def test_star_nonconvergence_raises(spark):
    # a chain is not a star forest, so with a zero-round budget the
    # two-phase path must raise rather than return partial labels
    with pytest.raises(RuntimeError, match="converge"):
        _cc(spark, [(1, 2), (2, 3)], max_iters=0)


def test_unknown_algorithm_rejected(spark):
    with pytest.raises(ValueError, match="star|label"):
        _cc(spark, [(1, 2)], algorithm="greedy")


def _union_find_truth(edges):
    """Ground truth: every node appearing in a pair (self-pairs
    included) labeled with its component min."""
    nodes = {x for p in edges for x in p}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


try:
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    _EDGE_LISTS = st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(edges=_EDGE_LISTS)
    @example(edges=[(i, i + 1) for i in range(30)])  # deep chain: the
    # shape that motivates the two-phase default — min-label needs 29
    # rounds here, large-star/small-star a handful
    def test_property_star_equals_label_equals_truth(spark, edges):
        # self-pairs stay IN: both algorithms must label their nodes
        truth = _union_find_truth(edges)
        star = _cc(spark, edges)  # default max_iters: log-round budget
        label = _cc(spark, edges, max_iters=40, algorithm="label")
        assert star == truth
        assert label == truth

except ImportError:  # pragma: no cover — hypothesis is baked in
    pass


def test_against_fixture_pairs(spark, sf_dir):
    """On the documents fixture: every component label is the min doc_id
    of its member set, and components cover exactly the paired docs."""
    from etl_work_flow_for_big_data_spark.catalog import load_table
    from etl_work_flow_for_big_data_spark.operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", k=5, threshold=0.5)
    pair_rows = [(r["d1"], r["d2"]) for r in pairs.collect()]
    labels = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    nodes = {x for p in pair_rows for x in p}
    assert set(labels) == nodes
    assert labels == _union_find_truth(pair_rows)


def _broom_edges(n, rng):
    """Chain over 50% of nodes, star fan of 40% rooted at the chain's
    middle, isolated pairs over the rest — ids globally shuffled so
    no labeling shortcut follows from id locality."""
    ids = list(range(n))
    rng.shuffle(ids)
    n_chain = n // 2
    edges = [(ids[i - 1], ids[i]) for i in range(1, n_chain)]
    center = ids[n_chain // 2]
    n_star = int(n * 0.4)
    edges += [(center, ids[j]) for j in range(n_chain, n_chain + n_star)]
    rest = ids[n_chain + n_star:]
    edges += list(zip(rest[::2], rest[1::2]))
    return edges


def test_union_find_truth_labels_are_component_min_ids():
    """The ground truth labels every node with its component's
    smallest id, whatever the edge direction or order."""
    edges = [(9, 3), (5, 9), (8, 7), (4, 4), (12, 8)]
    assert _union_find_truth(edges) == {
        3: 3, 5: 3, 9: 3, 7: 7, 8: 7, 12: 7, 4: 4,
    }


def test_broom_edges_shape():
    """The broom fixture is what the round-count test assumes: one
    component of chain + star (90% of the nodes) plus isolated pairs,
    the same graph for the same seed."""
    import random

    n = 2_001
    edges = _broom_edges(n, random.Random(7))
    assert edges == _broom_edges(n, random.Random(7))
    n_chain, n_star = n // 2, int(n * 0.4)
    n_pairs = (n - n_chain - n_star) // 2
    assert len(edges) == (n_chain - 1) + n_star + n_pairs
    labels = _union_find_truth(edges)
    sizes: dict = {}
    for root in labels.values():
        sizes[root] = sizes.get(root, 0) + 1
    assert sorted(sizes.values(), reverse=True) == [n_chain + n_star] + [2] * n_pairs


def test_broom_graph_rounds_stay_logarithmic(spark):
    """The star-CC worst case at test scale: a shuffled-id chain
    (diameter = n/2 — min-label locality useless) whose middle node
    also roots a star fan of 40% of the nodes (the skew funnel), plus
    isolated pairs. Pins that the round count stays ~log n (the
    100-TB convergence claim; label propagation would need ~n/2
    rounds here) and that fast convergence is convergence to the TRUE
    labels."""
    import math
    import random

    n = 20_000
    edges = _broom_edges(n, random.Random(4242))
    stats: dict = {}
    got = _cc(spark, edges, stats=stats)
    assert got == _union_find_truth(edges)
    assert stats["rounds"] <= 2 * math.log2(n) + 4, stats
