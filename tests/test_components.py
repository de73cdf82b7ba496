import json
import random

import pytest

from linkgraph.algorithms import weakly_connected_components
from linkgraph.algorithms.components import scc_groups, strongly_connected_components
from linkgraph.graph import LinkGraph

from tests import fixtures as FX
from tests.oracles import wcc_oracle


def run_wcc(spark, edges, **kw):
    g = LinkGraph.from_edge_list(spark, edges)
    return {r.name: r.component for r in weakly_connected_components(g, **kw).collect()}


def test_two_components(spark):
    got = run_wcc(spark, FX.WCC_TWO_COMPONENTS)
    assert got == FX.WCC_TWO_COMPONENTS_EXPECTED


def test_motif_graph_single_component(spark):
    got = run_wcc(spark, FX.MOTIF_GRAPH)
    assert set(got) == {str(i) for i in range(1, 12)}
    assert set(got.values()) == {1}


def test_self_loop(spark):
    got = run_wcc(spark, FX.WCC_SELF_LOOP)
    assert got == {"1": 1}


def test_windowed_components(spark):
    """connected_components.rs:221-250 — window re-derives the node set."""
    g = LinkGraph.from_edge_list(spark, FX.WCC_WINDOWED)
    full = {r.name: r.component for r in weakly_connected_components(g).collect()}
    assert full == {"1": 1, "2": 1, "3": 3, "4": 3}
    w = g.window(0, 2)
    got = {r.name: r.component for r in weakly_connected_components(w).collect()}
    assert got == {"1": 1, "2": 1}


def test_circle_graph_property(spark):
    """Reference quickcheck (connected_components.rs:252-308): a circle of
    unique random ids is one component labelled by the min id."""
    rng = random.Random(123)
    ids = rng.sample(range(10, 10_000_000), 40)
    edges = [(t, str(ids[t]), str(ids[(t + 1) % len(ids)])) for t in range(len(ids))]
    got = run_wcc(spark, edges)
    assert len(got) == 40
    assert set(got.values()) == {min(ids)}


@pytest.mark.parametrize("kernel", ["local", "superstep"])
def test_randomized_vs_oracle(spark, kernel):
    rng = random.Random(7)
    edges = [(t, str(rng.randrange(60)), str(rng.randrange(60))) for t in range(70)]
    got = run_wcc(spark, edges, kernel=kernel)
    want = wcc_oracle([(s, d) for _, s, d in edges])
    assert got == want


def test_wcc_checkpoint_resume(spark, tmp_path):
    ck = str(tmp_path / "wcc_ckpt")
    g = LinkGraph.from_edge_list(spark, FX.WCC_TWO_COMPONENTS)
    weakly_connected_components(g, max_iter=1, checkpoint_dir=ck)
    g2 = LinkGraph.from_edge_list(spark, FX.WCC_TWO_COMPONENTS)
    got = {
        r.name: r.component
        for r in weakly_connected_components(
            g2, checkpoint_dir=ck, resume=True
        ).collect()
    }
    assert got == FX.WCC_TWO_COMPONENTS_EXPECTED
    # one metrics record per completed iteration, with its changed count
    from linkgraph.superstep import CheckpointStore

    with open(f"{ck}/metrics.jsonl") as f:
        metrics = [json.loads(line) for line in f]
    assert [m["iteration"] for m in metrics] == list(range(1, len(metrics) + 1))
    assert len(metrics) >= 2  # resumed past the killed run
    assert all(m["algorithm"] == "wcc" for m in metrics)
    assert metrics[-1]["changed"] == 0 < metrics[0]["changed"]
    # snapshots hold the state's own columns, not the carried previous label
    assert CheckpointStore(spark, ck).load(len(metrics)).columns == ["id", "component"]


def test_scc_reference_golden(spark):
    """components/scc.rs:180-208 — one non-trivial SCC {2,5,6,7,8}."""
    from linkgraph.graph import LinkGraph
    from linkgraph.synth import source_table

    edges = [(1, 1, 2), (1, 2, 3), (1, 2, 5), (1, 3, 4), (1, 5, 6), (1, 6, 4),
             (1, 6, 7), (1, 7, 8), (1, 8, 6), (1, 6, 2)]
    g = LinkGraph.from_source_table(
        source_table(spark, [(t, str(s), str(d)) for t, s, d in edges])
    )
    groups = [sorted(r["members"]) for r in scc_groups(g).collect()]
    assert groups == [[2, 5, 6, 7, 8]]
    labels = {r["name"]: r["scc"] for r in strongly_connected_components(g).collect()}
    assert labels == {"1": 1, "2": 2, "3": 3, "4": 4, "5": 2, "6": 2, "7": 2, "8": 2}


def test_scc_self_loop_singleton(spark):
    from linkgraph.graph import LinkGraph
    from linkgraph.synth import source_table

    g = LinkGraph.from_source_table(
        source_table(spark, [(0, "1", "2"), (0, "2", "2"), (0, "2", "3")])
    )
    groups = {tuple(sorted(r["members"])) for r in scc_groups(g).collect()}
    assert groups == {(2,)}


def test_scc_two_cycles_and_chain(spark):
    from linkgraph.graph import LinkGraph
    from linkgraph.synth import source_table

    # 1<->2 -> 3 -> 4<->5, plus isolated chain 6->7
    edges = [(0, 1, 2), (0, 2, 1), (0, 2, 3), (0, 3, 4), (0, 4, 5), (0, 5, 4),
             (0, 6, 7)]
    g = LinkGraph.from_source_table(
        source_table(spark, [(t, str(s), str(d)) for t, s, d in edges])
    )
    labels = {r["name"]: r["scc"] for r in strongly_connected_components(g).collect()}
    assert labels == {"1": 1, "2": 1, "3": 3, "4": 4, "5": 4, "6": 6, "7": 7}


def test_wcc_warm_start_same_labels_fewer_supersteps(spark):
    from linkgraph.algorithms.components import weakly_connected_components
    from linkgraph.synth import source_table

    # long chain in the "old" window, one new edge appended later
    old = [(i, f"n{i:03d}", f"n{i+1:03d}") for i in range(0, 30)]
    new = [(100, "n030", "n031"), (101, "x1", "x2")]
    g_old = LinkGraph.from_source_table(source_table(spark, old))
    g_all = LinkGraph.from_source_table(source_table(spark, old + new))

    labels = weakly_connected_components(
        g_old, kernel="superstep"
    ).select("id", "component")
    cold_it, warm_it = {}, {}
    cold = {
        r["name"]: r["component"]
        for r in weakly_connected_components(
            g_all, kernel="superstep", iters_out=cold_it
        ).collect()
    }
    warm = {
        r["name"]: r["component"]
        for r in weakly_connected_components(
            g_all, init_labels=labels, iters_out=warm_it
        ).collect()
    }
    assert warm == cold
    assert warm_it["iterations"] < cold_it["iterations"]


def test_condensation_dag(spark):
    """1<->2 -> 3 -> 4<->5 plus 6->7: condensation has one node per SCC
    and the cross-component edges only; parallel logical edges count."""
    from linkgraph.algorithms.components import condensation
    from linkgraph.graph import LinkGraph
    from linkgraph.synth import source_table

    edges = [(0, 1, 2), (0, 2, 1), (0, 2, 3), (1, 1, 3), (0, 3, 4),
             (0, 4, 5), (0, 5, 4), (0, 6, 7)]
    g = LinkGraph.from_source_table(
        source_table(spark, [(t, str(s), str(d)) for t, s, d in edges])
    )
    dag = {
        (r["src_scc"], r["dst_scc"]): r["n_edges"]
        for r in condensation(g).collect()
    }
    # SCC labels: {1,2}->1, {3}->3, {4,5}->4, {6}->6, {7}->7
    assert dag == {(1, 3): 2, (3, 4): 1, (6, 7): 1}


def test_condensation_reuses_labels(spark):
    from linkgraph.algorithms.components import (
        condensation,
        strongly_connected_components,
    )
    from linkgraph.graph import LinkGraph
    from linkgraph.synth import source_table

    g = LinkGraph.from_source_table(
        source_table(spark, [(0, "1", "2"), (0, "2", "1"), (0, "2", "3")])
    )
    labels = strongly_connected_components(g)
    dag = condensation(g, labels=labels).collect()
    assert [(r["src_scc"], r["dst_scc"], r["n_edges"]) for r in dag] == [(1, 3, 1)]
