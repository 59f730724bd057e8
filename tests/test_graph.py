"""PageRank operator laws — distribution, structure, determinism.

Asserted against the textbook formulation: ranks are a probability
distribution (dangling mass redistributed), hubs outrank leaves, and the
fixpoint is layout-independent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myrecommendsystem_spark.operators.graph import pagerank


def _ranks(df):
    return {r.id: r.rank for r in df.collect()}


@pytest.mark.parametrize("cap", [0, 5_000_000], ids=["distributed", "driver"])
def test_pagerank_is_probability_distribution(spark, cap):
    # star: every leaf points at the hub; hub has no out-edges (dangling)
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src int, dst int"
    )
    r = _ranks(pagerank(edges, iterations=15, driver_edge_cap=cap))
    assert abs(sum(r.values()) - 1.0) < 1e-6
    assert all(v > 0 for v in r.values())
    # the hub absorbs every leaf's full rank — it must dominate
    assert r[0] == max(r.values())
    assert r[0] > 3 * r[1]
    # leaves are symmetric
    leaf_vals = [r[i] for i in range(1, 6)]
    assert max(leaf_vals) - min(leaf_vals) < 1e-9


@pytest.mark.parametrize("cap", [0, 5_000_000], ids=["distributed", "driver"])
def test_pagerank_chain_orders_by_depth(spark, cap):
    # a -> b -> c: downstream nodes accumulate rank
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    r = _ranks(pagerank(edges, iterations=25, driver_edge_cap=cap))
    assert r[3] > r[2] > r[1]
    assert abs(sum(r.values()) - 1.0) < 1e-6


def test_pagerank_layout_invariant(spark):
    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(100) for _ in (0,)],
        "src int, dst int",
    )
    a = _ranks(pagerank(edges, iterations=8))
    b = _ranks(pagerank(edges.repartition(13), iterations=8))
    # the driver venue sorts edges by (dst, src) before folding, so it
    # is layout-invariant too — bit-identical, not just close
    av = _ranks(pagerank(edges, iterations=8, driver_edge_cap=0))
    bv = _ranks(pagerank(edges.repartition(13), iterations=8, driver_edge_cap=0))
    assert set(av) == set(bv)
    assert all(abs(av[k] - bv[k]) < 1e-9 for k in av)
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)


@pytest.mark.parametrize("cap", [0, 5_000_000], ids=["distributed", "driver"])
def test_pagerank_symmetric_graph_uniform(spark, cap):
    # 4-cycle with both directions: perfectly symmetric → uniform ranks
    cyc = [(i, (i + 1) % 4) for i in range(4)]
    edges = spark.createDataFrame(
        cyc + [(b, a) for a, b in cyc], "src int, dst int"
    )
    r = _ranks(pagerank(edges, iterations=10, driver_edge_cap=cap))
    assert all(abs(v - 0.25) < 1e-9 for v in r.values())


def test_pagerank_string_ids_both_venues(spark):
    """Non-integer vertex ids (string/UUID)
    must work on the driver venue too — the position map is
    searchsorted over sorted unique ids, not an int() dict."""
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    drv = _ranks(pagerank(edges, iterations=10))
    dist = _ranks(pagerank(edges, iterations=10, driver_edge_cap=0))
    assert set(drv) == {"a", "b", "c"}
    assert abs(sum(drv.values()) - 1.0) < 1e-6
    assert set(dist) == set(drv)
    assert all(abs(dist[k] - drv[k]) < 1e-12 for k in drv)


def test_pagerank_empty_edges_schema_matches_input_type(spark):
    """The empty-edge result must carry the INPUT's id
    type (was hardcoded int) so downstream unions don't break."""
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    out = pagerank(empty)
    assert out.schema["id"].dataType.simpleString() == "bigint"
    assert out.count() == 0
    empty_s = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty_s).schema["id"].dataType.simpleString() == "string"


def test_pagerank_venues_agree(spark):
    """The driver-side fold and the distributed loop are the same
    operator: identical arithmetic expressions, so ranks agree far
    inside the query's 6-digit rounding on an asymmetric graph with
    dangling nodes, cycles, and skewed in-degree."""
    edges = spark.createDataFrame(
        [(i, (i * i + 3) % 37) for i in range(200)]
        + [(i, (i * 5 + 1) % 37) for i in range(0, 200, 3)],
        "src int, dst int",
    )
    dist = _ranks(pagerank(edges, iterations=10, driver_edge_cap=0))
    drv = _ranks(pagerank(edges, iterations=10))
    assert set(dist) == set(drv)
    assert all(abs(dist[k] - drv[k]) < 1e-12 for k in dist)


# ---------------------------------------------------------------------------
# bfs_distances laws
# ---------------------------------------------------------------------------

from myrecommendsystem_spark.operators.graph import bfs_distances  # noqa: E402


def _dists(df):
    return {r["id"]: r["dist"] for r in df.collect()}


@pytest.mark.parametrize("cap", [0, 5_000_000], ids=["distributed", "driver"])
def test_bfs_chain_distances_exact(spark, cap):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    d = _dists(bfs_distances(edges, seed=1, max_hops=3, driver_edge_cap=cap))
    assert d == {1: 0, 2: 1, 3: 2, 4: 3}, "hop cap excludes node 5"


@pytest.mark.parametrize("cap", [0, 5_000_000], ids=["distributed", "driver"])
def test_bfs_shortest_path_wins_over_longer(spark, cap):
    # two routes 1→4: direct edge (1 hop) and via 2,3 (3 hops)
    edges = spark.createDataFrame(
        [(1, 4), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    d = _dists(bfs_distances(edges, seed=1, max_hops=4, driver_edge_cap=cap))
    assert d[4] == 1


@pytest.mark.parametrize("cap", [0, 5_000_000], ids=["distributed", "driver"])
def test_bfs_cycle_terminates_and_unreachable_excluded(spark, cap):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (7, 8)], "src long, dst long"
    )
    d = _dists(bfs_distances(edges, seed=1, max_hops=4, driver_edge_cap=cap))
    assert d == {1: 0, 2: 1}, "cycle settles; disconnected 7/8 excluded"


@pytest.mark.parametrize("cap", [0, 5_000_000], ids=["distributed", "driver"])
def test_bfs_string_ids_both_venues(spark, cap):
    """String ids traverse on both venues — the
    distributed hop no longer casts dst to long (which nulled strings),
    and the driver venue never coerced via int()."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    d = _dists(bfs_distances(edges, seed="a", max_hops=3, driver_edge_cap=cap))
    assert d == {"a": 0, "b": 1, "c": 2}


def test_bfs_layout_invariant(spark):
    edges = spark.createDataFrame(
        [(i, (i * 3) % 17) for i in range(50)], "src long, dst long"
    )
    a = _dists(bfs_distances(edges, seed=0, max_hops=4))
    b = _dists(bfs_distances(edges.repartition(13), seed=0, max_hops=4))
    assert a == b
    # BFS is integer-exact: the two venues agree bit-for-bit
    c = _dists(bfs_distances(edges, seed=0, max_hops=4, driver_edge_cap=0))
    assert a == c
