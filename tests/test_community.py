"""Community detection: DataFrame LPA vs core spec, planted-cluster
fixtures (FIXTURES.md §5), hierarchy/id schema parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_rag_agent_spark.core import lpa as core_lpa
from graph_rag_agent_spark.operators.community import (
    detect_communities,
    lpa_level,
    projection_edges,
)


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "a string, b string, w double")


def _nodes_df(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node string")


TWO_CLUSTERS = (
    ["a1", "a2", "a3", "a4", "b1", "b2", "b3", "b4"],
    # dense cluster A, dense cluster B, one weak bridge
    [
        ("a1", "a2", 5.0), ("a1", "a3", 5.0), ("a1", "a4", 5.0),
        ("a2", "a3", 5.0), ("a2", "a4", 5.0), ("a3", "a4", 5.0),
        ("b1", "b2", 5.0), ("b1", "b3", 5.0), ("b1", "b4", 5.0),
        ("b2", "b3", 5.0), ("b2", "b4", 5.0), ("b3", "b4", 5.0),
        ("a4", "b1", 1.0),
    ],
)


def test_two_node_component_merges():
    # monotone rule: exactly one endpoint adopts → convergence, no
    # synchronous-swap oscillation
    labels = core_lpa.lpa_once(["x2", "x1"], [("x1", "x2", 1.0)])
    assert labels == {"x1": "x1", "x2": "x1"}


def test_lpa_level_matches_core_on_clusters(spark):
    nodes, edges = TWO_CLUSTERS
    got = {
        r["node"]: r["label"]
        for r in lpa_level(_nodes_df(spark, nodes), _edges_df(spark, edges)).collect()
    }
    want = core_lpa.lpa_once(nodes, edges)
    assert got == want
    # two dense clusters joined by one weak edge → ≥2 communities
    assert len(set(got.values())) >= 2
    # each cluster is internally uniform
    assert len({got[n] for n in ["a1", "a2", "a3", "a4"]}) == 1
    assert len({got[n] for n in ["b1", "b2", "b3", "b4"]}) == 1


def test_isolated_nodes_are_singletons(spark):
    nodes = ["x", "y", "lone1", "lone2"]
    edges = [("x", "y", 2.0)]
    got = {
        r["node"]: r["label"]
        for r in lpa_level(_nodes_df(spark, nodes), _edges_df(spark, edges)).collect()
    }
    assert got["lone1"] == "lone1" and got["lone2"] == "lone2"


@pytest.mark.parametrize("driver_threshold", [0, 10**6])
def test_detect_communities_schema_and_hierarchy(spark, driver_threshold):
    # 0 → distributed LPA loop; 10**6 → driver-side core fast path
    nodes, edges = TWO_CLUSTERS
    entities = spark.createDataFrame([(n,) for n in nodes], "entity_id string")
    triples = spark.createDataFrame(
        [(a, "R", b) for a, b, w in edges for _ in range(int(w))],
        "subj string, pred string, obj string",
    )
    membership, hierarchy = detect_communities(
        entities, triples, driver_threshold=driver_threshold
    )
    m = membership.collect()
    # ids follow "{level}-{n}" (leiden.py:107,126-128)
    assert all(
        r["community_id"] == f"{r['level']}-{r['community_id'].split('-', 1)[1]}"
        and r["community_id"].split("-", 1)[0] == str(r["level"])
        for r in m
    )
    level0 = {r["entity_id"]: r["community_id"] for r in m if r["level"] == 0}
    assert len(set(level0.values())) >= 2
    # hierarchy edges connect level l-1 → l and are consistent
    for h in hierarchy.collect():
        child_level = int(h["child_community"].split("-", 1)[0])
        parent_level = int(h["parent_community"].split("-", 1)[0])
        assert parent_level == child_level + 1

    # equivalence with core hierarchy
    want_levels = core_lpa.detect_hierarchy(nodes, edges)
    want = {
        (n, lvl, f"{lvl}-{num}")
        for lvl, mapping in enumerate(want_levels)
        for n, num in mapping.items()
    }
    got = {(r["entity_id"], r["level"], r["community_id"]) for r in m}
    assert got == want


def test_projection_edges_weight_count(spark):
    triples = spark.createDataFrame(
        [("a", "R1", "b"), ("b", "R2", "a"), ("a", "R1", "c"), ("a", "SELF", "a")],
        "subj string, pred string, obj string",
    )
    got = {
        (r["a"], r["b"]): r["w"] for r in projection_edges(triples).collect()
    }
    # undirected pair (a,b) counted twice; self-loop dropped
    assert got == {("a", "b"): 2.0, ("a", "c"): 1.0}


def test_edge_guard_routes_dense_graph_to_distributed_loop(spark):
    """A node count under the driver threshold must NOT take the
    driver path when the edge list is over the edge guard (a small
    similarity graph can carry a dense-clique edge list that would
    OOM the driver collect). edge_driver_threshold=0 forces the
    routing; results must equal the driver path's."""
    nodes, edges = TWO_CLUSTERS
    entities = spark.createDataFrame([(n,) for n in nodes], "entity_id string")
    triples = spark.createDataFrame(
        [(a, "R", b) for a, b, w in edges for _ in range(int(w))],
        "subj string, pred string, obj string",
    )
    m_dist, h_dist = detect_communities(
        entities, triples, driver_threshold=10**6, edge_driver_threshold=0
    )
    m_drv, h_drv = detect_communities(
        entities, triples, driver_threshold=10**6
    )
    assert {tuple(r) for r in m_dist.collect()} == {
        tuple(r) for r in m_drv.collect()
    }
    assert {tuple(r) for r in h_dist.collect()} == {
        tuple(r) for r in h_drv.collect()
    }


def test_plans_bind_no_community_operator_of_their_own():
    """The plans reach detection and the entity-row collapse only
    through plans.build.community_tables / canonical_entity_rows, which
    look the operators up at call time: no plan binds one of its own,
    so a wrapper installed on the operator module sees every call."""
    import importlib

    for mod in ("build", "incremental", "inmem"):
        plan = importlib.import_module(f"graph_rag_agent_spark.plans.{mod}")
        for name in (
            "detect_communities",
            "community_catalog",
            "localized_community_catalog",
            "canonical_entities",
        ):
            assert not hasattr(plan, name), f"plans.{mod}.{name}"
