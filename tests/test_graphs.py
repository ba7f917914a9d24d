"""Graph analytics: triangle counting (degree-ordered orientation),
degree stats, edge normalization, integer PageRank."""

from __future__ import annotations

import pytest

from dissertation_data_pipeline_spark.operators import graphs as g
from dissertation_data_pipeline_spark.operators.graphs import pagerank_int


@pytest.fixture(scope="module")
def spark():
    from dissertation_data_pipeline_spark.session import get_spark

    return get_spark()


def _edges(spark, pairs):
    return g.normalize_edges(
        spark.createDataFrame(pairs, "id_a long, id_b long")
    )


def _tri(spark, pairs, **kw):
    return g.triangle_count(_edges(spark, pairs), **kw).collect()[0]


def test_clique_triangles(spark):
    k5 = [(i, j) for i in range(5) for j in range(5) if i < j]
    r = _tri(spark, k5)
    assert (r["n_triangles"], r["n_nodes"], r["n_edges"]) == (10, 5, 10)


def test_path_and_star_have_no_triangles(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)])["n_triangles"] == 0
    assert _tri(spark, [(0, i) for i in range(1, 6)])["n_triangles"] == 0


def test_shared_edge_triangles(spark):
    # two triangles sharing edge (1,2)
    r = _tri(spark, [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)])
    assert r["n_triangles"] == 2


def test_normalization_collapses_duplicates_and_loops(spark):
    r = _tri(spark, [(1, 2), (2, 1), (1, 1), (2, 3), (3, 1), (1, 3)])
    assert r["n_edges"] == 3
    assert r["n_triangles"] == 1


def test_degree_cap_drops_hub(spark):
    # star hub 0 (degree 5) + one triangle (10,11,12)
    pairs = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12), (10, 12)]
    r = _tri(spark, pairs, max_degree=3)
    assert r["n_dropped_nodes"] == 1
    assert r["n_triangles"] == 1
    assert r["n_edges"] == 3  # hub edges gone


def test_degree_stats(spark):
    rows = {
        r["degree"]: r["n_nodes"]
        for r in g.degree_stats(_edges(spark, [(0, 1), (0, 2), (0, 3)])).collect()
    }
    assert rows == {3: 1, 1: 3}


# --- integer PageRank ------------------------------------------------------

def _ranks(spark, edges_rows, **kw):
    edges = spark.createDataFrame(edges_rows, "src string, dst string, w long")
    return {
        r["node"]: r["r"] for r in pagerank_int(edges, **kw).collect()
    }


def test_pagerank_symmetric_two_cycle_is_uniform(spark):
    r = _ranks(spark, [("a", "b", 1), ("b", "a", 1)])
    assert r["a"] == r["b"]


def test_pagerank_star_ranks_cycle_nodes_over_leaves(spark):
    # hub<->l1 form the recurrent core; l2/l3 only ever emit. A fixed
    # iteration count oscillates BETWEEN hub and l1 (the 2-cycle is
    # periodic), so assert the period-stable facts: both core nodes
    # outrank the pure leaves, and symmetric leaves tie bit-exactly.
    r = _ranks(
        spark,
        [("l1", "hub", 1), ("l2", "hub", 1), ("l3", "hub", 1), ("hub", "l1", 1)],
    )
    assert r["hub"] > r["l2"]
    assert r["l1"] > r["l2"]
    assert r["l2"] == r["l3"]  # symmetric leaves tie exactly (integer math)


def test_pagerank_partitioning_invariant(spark):
    rows = [
        ("a", "b", 3), ("b", "c", 2), ("c", "a", 5),
        ("a", "c", 1), ("c", "b", 2),
    ]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    r1 = {r["node"]: r["r"] for r in pagerank_int(edges).collect()}
    r2 = {
        r["node"]: r["r"]
        for r in pagerank_int(edges.repartition(7, "dst")).collect()
    }
    assert r1 == r2  # bit-identical under any partitioning


def test_pagerank_mass_is_bounded(spark):
    # floor divisions only LOSE mass: total <= scale, and not by much
    r = _ranks(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    total = sum(r.values())
    assert total <= 1_000_000_000
    assert total > 900_000_000
