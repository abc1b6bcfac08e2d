"""Connected components (SURVEY §2.5 D13): the star rounds and
``component_labels`` (driver union-find under the pair cap, star rounds
above it) against a driver-side union-find oracle on random graphs;
correct handling of cliques/chains/isolates, the diameter-independence
claim (a chain far deeper than a one-hop-per-round labeler's budget
labels correctly), and the survivors wiring over the cap."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kafka_cassandra_plugin_spark.operators import dedup as D
from kafka_cassandra_plugin_spark.operators import graph as G


def _union_find(n_nodes, edges):
    """Reference labels: component min per node, computed driver-side."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in range(n_nodes)}


def _touched(want, edges):
    """The oracle restricted to the nodes of non-self-loop edges - the
    rows the labelers return."""
    return {x: want[x] for e in edges if e[0] != e[1] for x in e}


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a: long, id_b: long"
    )


def _nodes(spark, n):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def _labels(df):
    return {r.node: r.label for r in df.collect()}


def _random_edges(seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return [e for e in edges if e[0] != e[1]]


class TestStarLabels:
    def test_two_cliques_and_an_isolate(self, spark):
        edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12)]
        got = _labels(G.connected_components_star(_pairs(spark, edges)))
        assert got[0] == got[1] == got[2] == 0
        assert got[10] == got[11] == got[12] == 10
        assert 13 not in got  # a node in no pair gets no row

    def test_empty_edge_set_all_singletons(self, spark):
        assert _labels(G.connected_components_star(_pairs(spark, []))) == {}

    def test_duplicate_and_reversed_edges_are_harmless(self, spark):
        edges = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3)]
        got = _labels(G.connected_components_star(_pairs(spark, edges)))
        assert got == {1: 1, 2: 1, 3: 1}

    @pytest.mark.parametrize("seed", [7, 21, 99])
    def test_random_graph_matches_union_find(self, spark, seed):
        n = 60
        edges = _random_edges(seed, n, 45)
        want = _touched(_union_find(n, edges), edges)
        assert _labels(G.connected_components_star(_pairs(spark, edges))) == want

    def test_deep_chain_beyond_propagation_budget(self, spark):
        # a 400-edge path: a labeler that moves the min one hop per round
        # would need 400 rounds; the star rounds contract it in ~2·log₂
        n = 401
        chain = [(i, i + 1) for i in range(n - 1)]
        got = _labels(G.connected_components_star(_pairs(spark, chain)))
        assert got == {i: 0 for i in range(n)}

    def test_nonconvergence_raises(self, spark, monkeypatch):
        monkeypatch.setattr(G, "MAX_STAR_ROUNDS", 1)
        with pytest.raises(RuntimeError, match="did not converge"):
            G.connected_components_star(
                _pairs(spark, [(i, i + 1) for i in range(64)])
            )


class TestSurvivorsWiring:
    """survivors_from_pairs over the cap (MAX_DRIVER_PAIRS = 1), so the
    star rounds run, against the default driver path and the oracle."""

    def test_over_cap_keeps_driver_path_rows(self, spark, monkeypatch):
        n = 50
        df = _nodes(spark, n)
        edges = _random_edges(11, n, 30)
        want = {x for x, lab in _union_find(n, edges).items() if x == lab}
        driver = {r.doc_id for r in
                  D.survivors_from_pairs(df, _pairs(spark, edges)).collect()}
        monkeypatch.setattr(D, "MAX_DRIVER_PAIRS", 1)
        star = {r.doc_id for r in
                D.survivors_from_pairs(df, _pairs(spark, edges)).collect()}
        assert driver == star == want

    def test_star_survivor_is_component_min(self, spark, monkeypatch):
        monkeypatch.setattr(D, "MAX_DRIVER_PAIRS", 1)
        df = _nodes(spark, 6)
        pairs = _pairs(spark, [(3, 5), (4, 3)])
        kept = {r.doc_id for r in D.survivors_from_pairs(df, pairs).collect()}
        assert kept == {0, 1, 2, 3}


class TestComponentLabelsAuto:
    """component_labels picks its path automatically: the driver
    union-find under MAX_DRIVER_PAIRS, the star rounds above it.  Both
    paths must return the oracle's labels for exactly the pair nodes."""

    @pytest.mark.parametrize("seed", [3, 17, 42])
    @pytest.mark.parametrize("cap", ["default", 1])
    def test_matches_union_find(self, spark, monkeypatch, cap, seed):
        if cap != "default":
            monkeypatch.setattr(D, "MAX_DRIVER_PAIRS", cap)
        n = 50
        edges = _random_edges(seed, n, 35)
        want = _touched(_union_find(n, edges), edges)
        assert _labels(D.component_labels(_pairs(spark, edges))) == want

    def test_isolated_nodes_label_themselves(self, spark):
        # no row for a node outside the pairs: consumers anti-join the
        # drops, so an isolate survives as its own component
        assert _labels(D.component_labels(_pairs(spark, [(0, 1)]))) == {
            0: 0, 1: 0}
        kept = D.survivors_from_pairs(_nodes(spark, 6), _pairs(spark, [(0, 1)]))
        assert {r.doc_id for r in kept.collect()} == {0, 2, 3, 4, 5}

    def test_over_cap_falls_back_to_distributed(self, spark, monkeypatch):
        # cap of 1: two edges must route through the star rounds, which
        # carry no broadcast hint (their table is unbounded)
        monkeypatch.setattr(D, "MAX_DRIVER_PAIRS", 1)
        labels = D.component_labels(_pairs(spark, [(0, 1), (1, 2)]))
        assert "ResolvedHint" not in labels._jdf.queryExecution().analyzed().toString()
        assert _labels(labels) == {0: 0, 1: 0, 2: 0}

    def test_driver_path_is_a_broadcast_literal(self, spark):
        # a hinted LocalRelation, not an RDD scan: the anti-join
        # broadcasts it with no collect job
        labels = D.component_labels(_pairs(spark, [(0, 1), (1, 2), (5, 5)]))
        assert "LocalRelation" in labels._jdf.queryExecution().optimizedPlan().toString()
        assert _labels(labels) == {0: 0, 1: 0, 2: 0}  # self-loop: no row
        kept = D.survivors_from_pairs(_nodes(spark, 4), _pairs(spark, [(0, 1)]))
        kept.collect()  # AQE shows its final plan once it has run
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    def test_empty_driver_literal_folds_out_of_the_join(self, spark):
        labels = D.component_labels(_pairs(spark, [(3, 3)]))
        assert _labels(labels) == {}
        kept = _nodes(spark, 4).join(
            labels.select(F.col("node").alias("doc_id")), "doc_id", "left_anti")
        assert "Join" not in kept._jdf.queryExecution().optimizedPlan().toString()

    def test_union_find_labels_matches_reference(self):
        n = 80
        edges = _random_edges(9, n, 60)
        want = _union_find(n, edges)
        assert D.union_find_labels(edges) == _touched(want, edges)
