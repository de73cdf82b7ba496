"""Borůvka minimum spanning forest + nominal (categorical) assortativity.

Beyond-reference operators: the MSF is checked against a pure-python
Kruskal union-find under the same (w, lo, hi) total order — the order
makes effective weights distinct, so the MSF is unique and the two
algorithms must agree edge-for-edge.
"""

import random

from pyspark.sql import functions as F

from linkgraph.algorithms import (
    minimum_spanning_forest,
    nominal_assortativity,
    weakly_connected_components,
)
from linkgraph.graph import LinkGraph


def _kruskal(weighted_edges):
    """Unique-MSF reference: Kruskal over (w, lo, hi)-sorted edges."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    picked = set()
    for w, lo, hi in sorted((w, lo, hi) for lo, hi, w in weighted_edges):
        a, b = find(lo), find(hi)
        if a != b:
            parent[a] = b
            picked.add((lo, hi, w))
    return picked


def _random_graph(spark, n=60, m=150, seed=7, components=2):
    rng = random.Random(seed)
    rows = []
    # `components` disjoint id ranges so the forest has several trees
    span = n // components
    for i in range(m):
        grp = rng.randrange(components)
        base = grp * span
        a = base + rng.randrange(span)
        b = base + rng.randrange(span)
        if a == b:
            continue
        rows.append((i, str(a), str(b)))
    g = LinkGraph(
        spark.createDataFrame(rows, "time long, src string, dst string")
    )
    return g


def test_msf_matches_kruskal(spark):
    g = _random_graph(spark)
    got = {
        (r["lo"], r["hi"], r["w"])
        for r in minimum_spanning_forest(g).collect()
    }
    # same default weights the engine uses: event count per canonical edge
    from linkgraph.algorithms import edge_event_weights

    ew = [
        (r["lo"], r["hi"], r["w"]) for r in edge_event_weights(g).collect()
    ]
    assert got == _kruskal(ew)


def test_msf_is_spanning_forest(spark):
    g = _random_graph(spark, seed=13, components=3)
    msf = minimum_spanning_forest(g).collect()
    n_nodes = g.count_nodes()
    n_components = (
        weakly_connected_components(g)
        .agg(F.countDistinct("component"))
        .first()[0]
    )
    # tree count per component: |F| = n - c (acyclic + spanning)
    assert len(msf) == n_nodes - n_components
    # the forest reaches every non-isolated node's component: WCC over the
    # forest edges must equal WCC over the full graph
    forest_edges = [(str(r["lo"]), str(r["hi"])) for r in msf]
    gf = LinkGraph(
        spark.createDataFrame(
            [(i, s, d) for i, (s, d) in enumerate(forest_edges)],
            "time long, src string, dst string",
        )
    )
    full = {
        r["id"]: r["component"]
        for r in weakly_connected_components(g).collect()
    }
    forest = {
        r["id"]: r["component"]
        for r in weakly_connected_components(gf).collect()
    }
    for node, comp in forest.items():
        assert full[node] == comp


def test_msf_explicit_weights_prefer_cheap_edges(spark):
    # triangle 1-2-3 with weights 1,2,3 -> the w=3 edge is excluded
    g = LinkGraph(
        spark.createDataFrame(
            [(0, "1", "2"), (1, "2", "3"), (2, "1", "3")],
            "time long, src string, dst string",
        )
    )
    w = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (1, 3, 3)], "lo long, hi long, w long"
    )
    got = {
        (r["lo"], r["hi"]) for r in minimum_spanning_forest(g, weights=w).collect()
    }
    assert got == {(1, 2), (2, 3)}


def test_msf_long_merge_chain_is_not_cut_by_max_rounds(spark):
    # path 0 - n - (n-1) - ... - 1 with weights rising along it: round 0
    # picks every edge, and in the label merge the 0-label moves one hop
    # per round, so the merge needs about n rounds — far above the
    # Borůvka max_rounds, which must not bound it
    n = 70
    order = [0] + list(range(n, 0, -1))
    path = [
        (min(a, b), max(a, b), w + 1)
        for w, (a, b) in enumerate(zip(order, order[1:]))
    ]
    g = LinkGraph(
        spark.createDataFrame(
            [(i, str(lo), str(hi)) for i, (lo, hi, _) in enumerate(path)],
            "time long, src string, dst string",
        )
    )
    w = spark.createDataFrame(path, "lo long, hi long, w long")
    got = minimum_spanning_forest(g, weights=w, max_rounds=32).collect()
    assert {(r["lo"], r["hi"], r["w"]) for r in got} == _kruskal(path)
    assert {r["round"] for r in got} == {0}


# ------------------------------------------------- nominal assortativity


def _labeled(spark, edges, cats):
    g = LinkGraph(
        spark.createDataFrame(
            [(i, s, d) for i, (s, d) in enumerate(edges)],
            "time long, src string, dst string",
        )
    )
    labels = g.ids().join(
        spark.createDataFrame(
            [(k, v) for k, v in cats.items()], "name string, category string"
        ),
        "name",
    ).select("id", "category")
    return g, labels


def test_nominal_assortativity_perfectly_assortative(spark):
    # two disjoint triangles, one category each -> r = 1
    edges = [("1", "2"), ("2", "3"), ("1", "3"), ("4", "5"), ("5", "6"), ("4", "6")]
    cats = {str(i): ("A" if i <= 3 else "B") for i in range(1, 7)}
    g, labels = _labeled(spark, edges, cats)
    row = nominal_assortativity(g, labels).first()
    assert row["same_pairs"] == row["total_pairs"] == 12
    assert row["r_ppm"] == 1_000_000


def test_nominal_assortativity_perfectly_disassortative(spark):
    # complete bipartite K_{2,2} across categories -> r = -1
    edges = [("1", "3"), ("1", "4"), ("2", "3"), ("2", "4")]
    cats = {"1": "A", "2": "A", "3": "B", "4": "B"}
    g, labels = _labeled(spark, edges, cats)
    row = nominal_assortativity(g, labels).first()
    assert row["same_pairs"] == 0
    assert row["r_ppm"] == -1_000_000


def test_nominal_assortativity_single_category_undefined(spark):
    edges = [("1", "2"), ("2", "3")]
    cats = {"1": "A", "2": "A", "3": "A"}
    g, labels = _labeled(spark, edges, cats)
    row = nominal_assortativity(g, labels).first()
    assert row["r_ppm"] is None  # denominator 0: no between-category variance
