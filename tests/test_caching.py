"""The graph's caching contract: ``materialize()`` caches the mined edge
table and the tables forced from it, and no algorithm uncaches them."""

from pyspark import StorageLevel

from linkgraph.algorithms import (
    k_core_ids,
    k_truss_edges,
    pagerank,
    personalized_pagerank,
    weakly_connected_components,
)
from linkgraph.graph import LinkGraph
from linkgraph.synth import source_table


def _uncached(g: LinkGraph) -> list[str]:
    tables = {"edges_t": g.edges_t, "ids": g.ids(), "edge_ids": g.edge_ids()}
    return [name for name, df in tables.items() if df.storageLevel == StorageLevel.NONE]


def test_algorithms_keep_the_materialized_caches(spark):
    edges = [(1, "a", "b"), (2, "b", "c"), (3, "c", "a"), (4, "c", "d"),
             (5, "d", "a"), (6, "d", "b"), (7, "e", "a")]
    g = LinkGraph.from_source_table(source_table(spark, edges)).materialize()
    assert _uncached(g) == []
    runs = {
        "pagerank superstep": lambda: pagerank(g, max_iter=3, kernel="superstep"),
        "pagerank local": lambda: pagerank(g, max_iter=3, kernel="local"),
        "personalized_pagerank": lambda: personalized_pagerank(g, ["a"], max_iter=3),
        "wcc superstep": lambda: weakly_connected_components(g, kernel="superstep"),
        "k_core": lambda: k_core_ids(g, 2),
        "k_truss": lambda: k_truss_edges(g, 3),
    }
    try:
        for name, run in runs.items():
            run().collect()
            assert _uncached(g) == [], f"{name} dropped a graph cache"
    finally:
        for df in (g.ids(), g.edge_ids(), g.undirected_edge_ids(), g.edges_t):
            df.unpersist()
