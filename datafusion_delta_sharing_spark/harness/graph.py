"""Graph queries over the part co-purchase graph (parts sharing an
order): triangles with and without the hot-vertex cut, integer PageRank,
BFS hop counts, bounded Bellman-Ford, label propagation and k-core, each
against its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.harness import load_table
from datafusion_delta_sharing_spark.operators import graph as GR


# every graph query reads the part co-purchase graph of this order
# subset. The pin is LOAD-BEARING, not an optimization target: the
# synthetic corpus' co-occurrence graph is near-COMPLETE (every part
# co-occurs with most others), so an unpinned edge list grows
# quadratically in parts and says nothing a real sparse graph would.
# Growth is covered by the sf1 probe (1.39×, SCALING.md); the operators
# themselves are linear in edges per round on any graph.
_PIN = 2000
_PIN_SQL = f"(SELECT * FROM lineitem WHERE l_orderkey < {_PIN})"
_ITEMS_SQL = (f"SELECT DISTINCT l_orderkey AS g, l_partkey AS i "
              f"FROM lineitem WHERE l_orderkey < {_PIN}")


def _pinned(spark, sf_dir):
    return (load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") < _PIN))


def _copurchase(spark, sf_dir):
    return GR.cooccurrence_edges(_pinned(spark, sf_dir), "l_orderkey",
                                 "l_partkey")


def _seeds(spark, sf_dir, mod):
    return (_pinned(spark, sf_dir).filter(F.col("l_partkey") % mod == 0)
            .select(F.col("l_partkey").alias("v")).distinct())


def _seeds_sql(mod):
    return (f"SELECT DISTINCT l_partkey AS v FROM lineitem "
            f"WHERE l_orderkey < {_PIN} "
            f"AND l_partkey % {mod} = 0")


def q_triangles(spark, sf_dir):
    """Triangle count of the part co-purchase graph."""
    return GR.triangle_count(_copurchase(spark, sf_dir))


_TRI_MAX_DEGREE = 12  # drops ~60% of vertices at sf0.01, ~3% at sf0.1


def q_triangles_degcut(spark, sf_dir):
    """Triangle count with the hot-vertex guard ENGAGED: the plain
    `triangles` row proves the wedge math; this row proves the
    max_degree cut — the thing that keeps the wedge join alive at 100 TB —
    against a cut-aware oracle. n_dropped_vertices is part of the result,
    so a vacuous cut is visible in the correctness artifact itself."""
    edges_all = _copurchase(spark, sf_dir)
    deg = GR.vertex_degrees(edges_all)
    edges_cut = GR.degree_cut(edges_all, _TRI_MAX_DEGREE, degrees=deg)
    return (GR.triangle_count(edges_cut)
            .crossJoin(GR.dropped_vertex_count(edges_all, _TRI_MAX_DEGREE,
                                               degrees=deg)))


def q_pagerank(spark, sf_dir):
    """3-iteration integer PageRank over the part co-purchase graph."""
    return GR.pagerank_int(_copurchase(spark, sf_dir), iterations=3,
                           top_k=50)


# -- graph BFS ----------------------------------------------------------------
_BFS_SEED_MOD = 17   # seeds: parts with partkey % 17 == 0 in the subgraph
_BFS_HOPS = 3


def q_bfs_hops(spark, sf_dir):
    """Multi-source BFS hop histogram over the part co-occurrence graph
    (:func:`..operators.graph.bfs_hop_counts`)."""
    return GR.bfs_hop_counts(_copurchase(spark, sf_dir),
                             _seeds(spark, sf_dir, _BFS_SEED_MOD), _BFS_HOPS)


_BFS_ITEMS_SQL = (f"SELECT DISTINCT l_orderkey, l_partkey FROM lineitem "
                  f"WHERE l_orderkey < {_PIN}")
_BFS_EDGES_SQL = f"""
    SELECT DISTINCT l.l_partkey AS a, r.l_partkey AS b
    FROM ({_BFS_ITEMS_SQL}) l
    JOIN ({_BFS_ITEMS_SQL}) r
      ON l.l_orderkey = r.l_orderkey AND l.l_partkey < r.l_partkey
"""


# -- weighted shortest paths (bounded Bellman-Ford) -----------------------------
_SP_SEED_MOD = 23
_SP_HOPS = 4
_SP_SCALE = 1_000_000  # edge cost = max(1, SCALE // co-occurrence count)


def q_shortest_paths(spark, sf_dir):
    edges = GR.weighted_cooccurrence_edges(
        _pinned(spark, sf_dir), "l_orderkey", "l_partkey", _SP_SCALE)
    return GR.bellman_ford_dists(edges, _seeds(spark, sf_dir, _SP_SEED_MOD),
                                 _SP_HOPS)


_SP_EDGES_SQL = f"""
    SELECT a, b, CAST(greatest(1, {_SP_SCALE} // cnt) AS BIGINT) AS cost
    FROM (
        SELECT l.i AS a, r.i AS b, count(*) AS cnt
        FROM ({_ITEMS_SQL}) l
        JOIN ({_ITEMS_SQL}) r
          ON l.g = r.g AND l.i < r.i
        GROUP BY l.i, r.i
    )
"""

# -- majority label propagation --------------------------------------------------

_LP_ROUNDS = 3


def q_label_propagation(spark, sf_dir):
    return GR.label_propagation(_copurchase(spark, sf_dir),
                                rounds=_LP_ROUNDS)


_LP_EDGES_SQL = f"""
    SELECT DISTINCT l.i AS a, r.i AS b
    FROM ({_ITEMS_SQL}) l
    JOIN ({_ITEMS_SQL}) r
      ON l.g = r.g AND l.i < r.i
"""


# -- k-core ----------------------------------------------------------------------

# k=3, 4 peel rounds with the in-plan fixpoint flag attesting the budget
# sufficed
_KC_K, _KC_ROUNDS = 3, 4

_KC_EDGES_SQL = f"""
    SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
                    greatest(a.l_partkey, b.l_partkey) AS b
    FROM (SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_orderkey < {_PIN}) a
    JOIN (SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_orderkey < {_PIN}) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def q_kcore(spark, sf_dir):
    """3-core of the pinned part co-occurrence graph after 4
    synchronous peel rounds: summary (n_core_vertices, n_core_edges,
    fixpoint_reached) — the flag is computed IN-PLAN from the last two
    rounds, so an insufficient round budget is visible in the driver
    row, never silent."""
    return GR.kcore(_copurchase(spark, sf_dir), _KC_K, _KC_ROUNDS)


ORACLES = {
    "triangles": GR.triangle_count_sql(_PIN_SQL, "l_orderkey", "l_partkey"),
    "triangles_degcut": GR.triangle_count_degcut_sql(
        _PIN_SQL, "l_orderkey", "l_partkey", _TRI_MAX_DEGREE),
    "pagerank": GR.pagerank_int_sql(
        _PIN_SQL, "l_orderkey", "l_partkey", iterations=3, top_k=50),
    "bfs_hops": GR.bfs_hop_counts_sql(
        _BFS_EDGES_SQL, _seeds_sql(_BFS_SEED_MOD), _BFS_HOPS),
    "shortest_paths": GR.bellman_ford_dists_sql(
        _SP_EDGES_SQL, _seeds_sql(_SP_SEED_MOD), _SP_HOPS),
    "label_propagation": GR.label_propagation_sql(
        _LP_EDGES_SQL, _LP_ROUNDS),
    "kcore": GR.kcore_sql(_KC_EDGES_SQL, _KC_K, _KC_ROUNDS),
}
