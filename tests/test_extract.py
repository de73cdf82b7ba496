import pytest

from linkgraph.extract import ContentShaMismatch, mine_edges
from linkgraph.graph import LinkGraph
from linkgraph.synth import source_table

from tests.fixtures import GEN_GRAPH


def test_mine_edges_roundtrip(spark):
    """Synth table → extractor reproduces the exact fixture edge list."""
    src = source_table(spark, GEN_GRAPH)
    edges_t = mine_edges(src)
    got = sorted((r.time, r.src, r.dst) for r in edges_t.collect())
    assert got == sorted((t, s, d) for t, s, d in GEN_GRAPH)


def test_sha_mismatch_raises(spark):
    src = source_table(spark, GEN_GRAPH).withColumn(
        "commit", __import__("pyspark").sql.functions.lit("deadbeef" * 5)
    )
    with pytest.raises(Exception) as ei:
        mine_edges(src).collect()
    assert "sha256" in str(ei.value)


@pytest.mark.parametrize(
    "commit", ["", None, "short-prefix"], ids=["empty", "null", "short"]
)
def test_sha_check_refuses_unbound_commits(spark, commit):
    """A null, empty or under-40-char commit never passes the sha check
    (an empty one used to pass as a prefix of every hash)."""
    from pyspark.sql import functions as F

    src = source_table(spark, [(1, "a", "b")])
    if commit == "short-prefix":
        commit_col = F.substring("commit", 1, 39)
    else:
        commit_col = F.lit(commit).cast("string")
    with pytest.raises(Exception) as ei:
        mine_edges(src.withColumn("commit", commit_col)).collect()
    assert ContentShaMismatch.__name__ in str(ei.value)


def test_sha_check_accepts_full_digest(spark):
    from pyspark.sql import functions as F

    src = source_table(spark, [(1, "a", "b")]).withColumn(
        "commit", F.sha2("content", 256)
    )
    assert [(r.src, r.dst) for r in mine_edges(src).collect()] == [("a", "b")]


def test_node_only_rows_become_isolated_nodes(spark):
    src = source_table(spark, [(1, "a", "b")], node_only=["lonely"])
    g = LinkGraph.from_source_table(src)
    assert g.count_nodes() == 3
    assert g.count_edges() == 1
    assert g.has_node("lonely")


def test_graph_counts_and_views(spark):
    g = LinkGraph.from_edge_list(spark, GEN_GRAPH)
    assert g.count_nodes() == 8
    # duplicate logical edges 1->2 (x3) and 4->7 (x2) collapse
    assert g.count_edges() == 9
    assert g.count_temporal_edges() == 12
    assert g.earliest_time() == 5
    assert g.latest_time() == 15
    # half-open window [10, 13): events (10,1,3) (11,1,2) (12,1,2) (12,2,4)
    # (10,4,7) (10,5,8)
    w = g.window(10, 13)
    assert w.count_temporal_edges() == 6
    assert sorted(r.name for r in w.names().collect()) == sorted(
        {"1", "3", "2", "4", "7", "5", "8"}
    )
    # subgraph induction
    sub = g.subgraph(["1", "2", "4"])
    assert sub.count_edges() == 2  # 1->2, 2->4


def test_degrees_dedup_and_selfloops(spark):
    g = LinkGraph.from_edge_list(spark, GEN_GRAPH)
    deg = {r.name: (r.out_degree, r.in_degree, r.degree)
           for r in g.degrees().join(g.ids(), "id").collect()}
    # node 1: out {3,2}, in {}, both {3,2}
    assert deg["1"] == (2, 0, 2)
    # node 5: out {5,4,8} (self-loop), in {2,5} → both {5,4,8,2}
    assert deg["5"] == (3, 2, 4)
    # node 4: out {6,7}, in {2,5}, both {6,7,2,5}
    assert deg["4"] == (2, 2, 4)
