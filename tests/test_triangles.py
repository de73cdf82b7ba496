import math
import random

import pytest

from linkgraph.algorithms import (
    clustering_coefficient,
    global_triangle_count,
    k_core_ids,
    local_clustering_coefficient,
    local_triangle_count,
    per_edge_triangles,
    triplet_count,
)
from linkgraph.graph import LinkGraph

from tests import fixtures as FX
from tests.oracles import per_node_triangles_oracle, triangle_oracle


def test_triangle_count_1(spark):
    g = LinkGraph.from_edge_list(spark, FX.TRIANGLE_GRAPH_1)
    assert global_triangle_count(g) == 4
    with pytest.raises(ValueError, match="'auto', 'csr', 'jvm'"):
        global_triangle_count(g, kernel="numpy")


def test_triangle_count_motif_graph(spark):
    g = LinkGraph.from_edge_list(spark, FX.TRIANGLE_GRAPH_3)
    assert global_triangle_count(g) == 8


def test_triangle_2core_prune_same_result(spark):
    from linkgraph.algorithms.triangles import triangles_df

    g = LinkGraph.from_edge_list(spark, FX.TRIANGLE_GRAPH_1)
    assert triangles_df(g, prune_2core=True).count() == 4


def test_per_edge_sum_matches_global(spark):
    g = LinkGraph.from_edge_list(spark, FX.TRIANGLE_GRAPH_3)
    per_edge = per_edge_triangles(g)
    assert per_edge.agg({"triangles": "sum"}).first()[0] == 8


def test_local_triangle_windowed(spark):
    """local_triangle_count.rs:85-101: window [0,5) → nodes 1,2,3 each 1."""
    g = LinkGraph.from_edge_list(spark, FX.LOCAL_TRIANGLE).window(0, 5)
    got = {r.name: r.triangles for r in local_triangle_count(g).collect()}
    assert got == {"1": 1, "2": 1, "3": 1}


def test_local_vs_oracle_randomized(spark):
    rng = random.Random(11)
    edges = [(t, str(rng.randrange(25)), str(rng.randrange(25))) for t in range(90)]
    g = LinkGraph.from_edge_list(spark, edges)
    got = {r.name: r.triangles for r in local_triangle_count(g).collect()}
    want = per_node_triangles_oracle([(s, d) for _, s, d in edges])
    assert got == want
    assert global_triangle_count(g) == triangle_oracle([(s, d) for _, s, d in edges])


def test_triplets_and_clustering(spark):
    """triplet_count.rs / clustering_coefficient.rs goldens: the 2-triangle
    graph has 20 triplets and coefficient 3*2/20 = 0.3."""
    edges = [
        (1, "1", "2"), (1, "1", "3"), (1, "2", "3"),
        (1, "1", "4"), (1, "3", "4"),
        (1, "1", "5"), (1, "3", "5"), (1, "4", "5"),
    ]
    g = LinkGraph.from_edge_list(spark, edges)
    tc = global_triangle_count(g)
    tp = triplet_count(g)
    assert clustering_coefficient(g) == 3.0 * tc / tp
    # self-consistency on the motif graph too
    g2 = LinkGraph.from_edge_list(spark, FX.MOTIF_GRAPH)
    assert clustering_coefficient(g2) == 3.0 * 8 / triplet_count(g2)


def test_local_clustering_coefficient(spark):
    # triangle on 1-2-3 plus pendant 4: node 1 has deg 3 (2,3,4), 1 triangle
    edges = [(0, "1", "2"), (0, "2", "3"), (0, "3", "1"), (0, "1", "4")]
    g = LinkGraph.from_edge_list(spark, edges)
    got = {r.name: r.coefficient for r in local_clustering_coefficient(g).collect()}
    assert math.isclose(got["1"], 1 / 3)
    assert got["2"] == 1.0 and got["3"] == 1.0 and got["4"] == 0.0


def test_k_core(spark):
    # triangle (2-core) + tail 3-4-5 that peels away
    edges = [(0, "1", "2"), (0, "2", "3"), (0, "3", "1"), (0, "3", "4"), (0, "4", "5")]
    g = LinkGraph.from_edge_list(spark, edges)
    core = {r.id for r in k_core_ids(g, 2).collect()}
    assert core == {1, 2, 3}


def test_square_count_golden(spark):
    """C4 1-2-3-4 with a chord and a pendant: K4-minus-nothing checks —
    hand-enumerated squares per node."""
    from linkgraph.algorithms.structure import square_count
    from linkgraph.graph import LinkGraph
    from linkgraph.synth import source_table

    # square 1-2-3-4-1 plus chord 1-3 and pendant 5 on node 1:
    # the only 4-cycle is (1,2,3,4) -> every member counts 1, others 0
    edges = [("1", "2"), ("2", "3"), ("3", "4"), ("4", "1"), ("1", "3"),
             ("1", "5")]
    g = LinkGraph.from_source_table(
        source_table(spark, [(0, s, d) for s, d in edges])
    )
    got = {r["id"]: r["n_squares"] for r in square_count(g).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 0}


def test_square_count_k4(spark):
    """K4 contains 3 distinct 4-cycles, each node on all 3."""
    from linkgraph.algorithms.structure import square_count
    from linkgraph.graph import LinkGraph
    from linkgraph.synth import source_table

    edges = [(a, b) for a in "1234" for b in "1234" if a < b]
    g = LinkGraph.from_source_table(
        source_table(spark, [(0, s, d) for s, d in edges])
    )
    got = {r["id"]: r["n_squares"] for r in square_count(g).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_new_triangles_incremental_parity(spark):
    from linkgraph.algorithms.triangles import new_triangles

    # before: square 1-2-3-4 (no triangles); after: + diagonals 1-3, 2-4
    # and a fresh K3 on 5,6,7 -> new triangles: 4 in the K4 + 1 = 5
    before_e = [(0, "1", "2"), (1, "2", "3"), (2, "3", "4"), (3, "4", "1")]
    delta_e = [(4, "1", "3"), (5, "2", "4"),
               (6, "5", "6"), (7, "6", "7"), (8, "5", "7")]
    gb = LinkGraph.from_edge_list(spark, before_e)
    ga = LinkGraph.from_edge_list(spark, before_e + delta_e)
    tri = {(r["a"], r["b"], r["c"]) for r in new_triangles(gb, ga).collect()}
    assert tri == {(1, 2, 3), (1, 3, 4), (1, 2, 4), (2, 3, 4), (5, 6, 7)}
    # count parity with the full recount
    assert len(tri) == global_triangle_count(ga) - global_triangle_count(gb)
    # containment violation is refused loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="before"):
        new_triangles(ga, gb)


def test_local_bridges_triangle_plus_tail(spark):
    from linkgraph.algorithms.triangles import local_bridges
    from linkgraph.graph import LinkGraph

    # triangle a-b-c plus tail c-d and bridge d-e: tail+bridge edges are
    # local bridges, triangle edges are not
    ev = [(0, "a", "b"), (1, "b", "c"), (2, "c", "a"),
          (3, "c", "d"), (4, "d", "e")]
    g = LinkGraph.from_edge_list(spark, ev)
    id_of = {r["name"]: r["id"] for r in g.ids().collect()}
    got = {
        tuple(sorted((r["lo"], r["hi"])))
        for r in local_bridges(g).collect()
    }
    want = {
        tuple(sorted((id_of["c"], id_of["d"]))),
        tuple(sorted((id_of["d"], id_of["e"]))),
    }
    assert got == want


def test_edge_geometry_triangle_with_tail(spark):
    from linkgraph.algorithms.triangles import edge_geometry
    from linkgraph.graph import LinkGraph

    # triangle a-b-c with tail c-d
    ev = [(0, "a", "b"), (1, "b", "c"), (2, "c", "a"), (3, "c", "d")]
    g = LinkGraph.from_edge_list(spark, ev)
    id_of = {r["name"]: r["id"] for r in g.ids().collect()}
    rows = {
        tuple(sorted((r["lo"], r["hi"]))): r
        for r in edge_geometry(g).collect()
    }
    ab = rows[tuple(sorted((id_of["a"], id_of["b"])))]
    # deg a=2, b=2, t=1: curvature 4-2-2+3 = 3; overlap 1/(2+2-2-1)=1
    assert (ab["n_common"], ab["curvature"], ab["overlap_ppm"]) == (3 - 2, 3, 1_000_000)
    bc = rows[tuple(sorted((id_of["b"], id_of["c"])))]
    # deg b=2, c=3, t=1: curvature 4-2-3+3 = 2; overlap 1/(2+3-2-1) = 0.5
    assert (bc["curvature"], bc["overlap_ppm"]) == (2, 500_000)
    cd = rows[tuple(sorted((id_of["c"], id_of["d"])))]
    # deg c=3, d=1, t=0: curvature 4-3-1 = 0; overlap 0/(3+1-2) = 0
    assert (cd["n_common"], cd["curvature"], cd["overlap_ppm"]) == (0, 0, 0)
