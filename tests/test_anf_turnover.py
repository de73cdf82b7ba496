"""HyperBall/ANF sketch (bit-exact python replay) and windowed edge
turnover (hand goldens).  The engine↔DuckDB replay of both is covered by
the __spark_entry__ oracles."""

import hashlib

import pytest
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.algorithms import anf_estimate, hyperball_anf
from linkgraph.algorithms.metrics import edge_turnover

DAY = 86_400_000

PATH_PLUS_PAIR = [
    (0, "1", "2"), (1, "2", "3"), (2, "3", "4"), (3, "5", "6"),
]


def _fm_mask(seed: int, r: int, v: int) -> int:
    d = int(hashlib.md5(f"{seed}|{r}|{v}".encode()).hexdigest()[:15], 16)
    tz = ((d & -d) - 1).bit_count() if d else 64
    return 1 << min(tz, 31)


def _r_sum(masks: list[int]) -> int:
    return sum((((~m) & (m + 1)) - 1).bit_count() for m in masks)


def _hyperball_py(edges, m, depth, seed):
    """Driver-side replay of the distributed sketch, infinite-precision
    python ints (two's-complement & matches BIGINT for these ranges)."""
    und = {}
    nodes = set()
    for _, s, d in edges:
        s, d = int(s), int(d)
        nodes.update((s, d))
        und.setdefault(s, set()).add(d)
        und.setdefault(d, set()).add(s)
    masks = {v: [_fm_mask(seed, r, v) for r in range(m)] for v in nodes}
    hist = {}
    for h in range(1, depth + 1):
        new = {}
        for v in nodes:
            ms = list(masks[v])
            for u in und.get(v, ()):
                for r in range(m):
                    ms[r] |= masks[u][r]
            new[v] = ms
        masks = new
        level = {}
        for v in nodes:
            rs = _r_sum(masks[v])
            level[rs] = level.get(rs, 0) + 1
        hist[h] = level
    return hist


def test_hyperball_matches_python_replay(spark):
    g = LinkGraph.from_edge_list(spark, PATH_PLUS_PAIR)
    got = hyperball_anf(g, n_replicas=8, max_depth=4, seed=42)
    want = _hyperball_py(PATH_PLUS_PAIR, m=8, depth=4, seed=42)
    rows = {}
    for r in got.collect():
        rows.setdefault(r["dist"], {})[r["r_sum"]] = r["n_nodes"]
    assert rows == want


def test_hyperball_estimate_monotone_and_saturates(spark):
    # star: everything is within distance 2 of everything (via the hub)
    star = [(i, "0", str(i + 1)) for i in range(6)]
    g = LinkGraph.from_edge_list(spark, star)
    hist = hyperball_anf(g, n_replicas=16, max_depth=4, seed=1)
    est = anf_estimate(hist, n_replicas=16)
    assert sorted(est) == [1, 2, 3, 4]
    vals = [est[h] for h in sorted(est)]
    assert all(b >= a - 1e-9 for a, b in zip(vals, vals[1:]))
    # balls saturate at the diameter: depths 2..4 give the SAME registers
    assert est[2] == est[3] == est[4]
    assert est[1] > 0


def test_edge_turnover_hand_example(spark):
    # K * DAY is past 2^53: one ms before it (or past its negation) a
    # float division rounds onto the bucket boundary, floor(t / DAY) is off
    # by one, and the bucket must come from exact integer arithmetic
    K = 104_249_992
    edges = [
        (0, "a", "b"), (1 * DAY, "a", "b"), (1 * DAY, "c", "d"),
        (3 * DAY, "a", "b"),
        (-K * DAY - 1, "x", "y"), (K * DAY - 1, "x", "y"),
    ]
    g = LinkGraph.from_edge_list(spark, edges)
    got = {r["bucket"]: r for r in edge_turnover(g, bucket_ms=DAY).collect()}
    # bucket 2 has no events: no row
    assert set(got) == {-K - 1, 0, 1, 3, K - 1}
    for b in (-K - 1, K - 1):
        r = got[b]
        assert (r["n_edges"], r["births"], r["deaths"], r["survived"]) == (1, 1, 0, 0)
    b0 = got[0]
    assert (b0["n_edges"], b0["births"], b0["deaths"], b0["survived"]) == (1, 1, 0, 0)
    assert b0["jaccard"] == 0.0
    b1 = got[1]
    assert (b1["n_edges"], b1["births"], b1["deaths"], b1["survived"]) == (2, 1, 0, 1)
    assert b1["jaccard"] == pytest.approx(0.5)
    # bucket 3 follows the EMPTY bucket 2: everything is a birth
    b3 = got[3]
    assert (b3["n_edges"], b3["births"], b3["deaths"], b3["survived"]) == (1, 1, 0, 0)


def test_mis_independent_and_maximal(spark):
    from linkgraph.algorithms import maximal_independent_set

    star_plus = [(i, "0", str(i + 1)) for i in range(5)] + [
        (9, "1", "2"), (10, "6", "7"),
    ]
    g = LinkGraph.from_edge_list(spark, star_plus)
    mis = {r["node"] for r in maximal_independent_set(g, seed=3).collect()}
    adj = {}
    for r in g.undirected_edge_ids().collect():
        adj.setdefault(r["id"], set()).add(r["nbr_id"])
    # independence: no edge inside the set
    for v in mis:
        assert not (adj.get(v, set()) & mis)
    # maximality: every outside node has a neighbour inside
    for v in adj:
        if v not in mis:
            assert adj[v] & mis
    # determinism
    again = {r["node"] for r in maximal_independent_set(g, seed=3).collect()}
    assert again == mis


def test_densest_subgraph_finds_the_clique(spark):
    from itertools import combinations

    from linkgraph.algorithms import densest_subgraph

    # K5 (density 2.0) plus a long path (density -> 1/2-ish)
    k5 = [(i, a, b) for i, (a, b) in enumerate(combinations("abcde", 2))]
    path = [(100 + i, f"p{i}", f"p{i+1}") for i in range(8)]
    g = LinkGraph.from_edge_list(spark, k5 + path)
    out = densest_subgraph(g, epsilon=0.1).collect()
    ids = {r["name"]: r["id"] for r in g.ids().collect()}
    members = {r["node"] for r in out}
    assert {ids[c] for c in "abcde"} <= members
    # density reported is |E|/|V| of the chosen round and >= the clique's
    # share within the round-0 graph; the peel must strictly beat round 0
    d0 = len(k5 + path) / len(ids)
    assert out[0]["density"] >= d0
    # the member count matches the reported subgraph size
    assert len(members) == out[0]["n_nodes"]


def test_maximal_matching_valid_and_maximal(spark):
    from linkgraph.algorithms import maximal_matching

    edges = [(i, "0", str(i + 1)) for i in range(5)] + [
        (9, "1", "2"), (10, "6", "7"), (11, "2", "6"),
    ]
    g = LinkGraph.from_edge_list(spark, edges)
    matched = [(r["lo"], r["hi"]) for r in maximal_matching(g, seed=5).collect()]
    used = [n for e in matched for n in e]
    assert len(used) == len(set(used))  # each node in at most one edge
    canon = {(r["lo"], r["hi"]) for r in g.canonical_edge_ids().collect()}
    assert set(matched) <= canon
    # maximality: every unmatched edge touches a matched node
    for lo, hi in canon - set(matched):
        assert lo in used or hi in used
    again = [
        (r["lo"], r["hi"]) for r in maximal_matching(g, seed=5).collect()
    ]
    assert set(again) == set(matched)


def test_butterflies_k23(spark):
    from linkgraph.algorithms import (
        bipartite_projection,
        butterfly_counts,
        global_butterfly_count,
    )

    # K_{2,3}: customers c1,c2 each buy from suppliers s1,s2,s3
    edges = [
        (i * 3 + j, f"100{i}", f"200000{j}")
        for i in range(2)
        for j in range(3)
    ]
    g = LinkGraph.from_edge_list(spark, edges)
    proj = {
        (r["a"], r["b"]): r["shared"]
        for r in bipartite_projection(g, onto="dst").collect()
    }
    # all 3 supplier pairs share both customers
    assert len(proj) == 3 and set(proj.values()) == {2}
    per = {
        r["node"]: r["butterflies"]
        for r in butterfly_counts(g, onto="dst").collect()
    }
    # each supplier sits in 2 of the 3 single-butterfly pairs
    assert set(per.values()) == {2}
    assert global_butterfly_count(g, onto="dst") == 3
    # wedge-degree cap: capping customers below their degree kills all pairs
    assert (
        bipartite_projection(g, onto="dst", max_wedge_degree=2).count() == 0
    )


def test_wl_refinement_respects_symmetry(spark):
    from linkgraph.algorithms import wl_refinement

    # path a-b-c-d-e: mirror-symmetric positions share a label
    path = [(i, x, y) for i, (x, y) in enumerate(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])]
    g = LinkGraph.from_edge_list(spark, path)
    ids = {r["name"]: r["id"] for r in g.ids().collect()}
    lab = {r["node"]: r["wl_label"] for r in wl_refinement(g, depth=3).collect()}
    assert lab[ids["a"]] == lab[ids["e"]]
    assert lab[ids["b"]] == lab[ids["d"]]
    assert len({lab[ids[n]] for n in "abc"}) == 3  # a, b, c all distinct
    # two disjoint isomorphic triangles: ALL nodes indistinguishable
    tri2 = [(0, "p", "q"), (1, "q", "r"), (2, "r", "p"),
            (3, "x", "y"), (4, "y", "z"), (5, "z", "x")]
    g2 = LinkGraph.from_edge_list(spark, tri2)
    labs = {r["wl_label"] for r in wl_refinement(g2, depth=4).collect()}
    assert len(labs) == 1


def test_hyperball_centrality_dyadic_exact_replay(spark):
    """The float ball/harmonic estimates replay BIT-EXACTLY in python when
    computed with the same dyadic factorisation — no tolerance needed."""
    from linkgraph.algorithms import hyperball_centrality
    from linkgraph.algorithms.centrality import _POW2_EIGHTHS

    g = LinkGraph.from_edge_list(spark, PATH_PLUS_PAIR)
    got = {
        r["node"]: (r["ball"], r["harmonic_est"])
        for r in hyperball_centrality(g, max_depth=3, seed=42).collect()
    }

    # python replay on top of the engine-verified registers
    und, nodes = {}, set()
    for _, s, d in PATH_PLUS_PAIR:
        s, d = int(s), int(d)
        nodes.update((s, d))
        und.setdefault(s, set()).add(d)
        und.setdefault(d, set()).add(s)
    masks = {v: [_fm_mask(42, r, v) for r in range(8)] for v in nodes}
    C = [float(x) for x in _POW2_EIGHTHS]

    def est(ms):
        rs = _r_sum(ms)
        return (float(1 << (rs // 8)) * C[rs % 8]) / float("0.77351")

    b0 = {v: est(masks[v]) for v in nodes}
    balls = {v: [] for v in nodes}
    for _h in range(3):
        new = {}
        for v in nodes:
            ms = list(masks[v])
            for u in und.get(v, ()):
                for r in range(8):
                    ms[r] |= masks[u][r]
            new[v] = ms
        masks = new
        for v in nodes:
            balls[v].append(est(masks[v]))
    for v in nodes:
        # Boldi-Vigna: the lag baseline is B_0 — the node's OWN depth-0
        # register estimate — so self-ball noise never counts as dist-1
        prev, acc = b0[v], 0.0
        for h, b in enumerate(balls[v], 1):
            acc += (b - prev) / float(h)
            prev = b
        assert got[v] == (balls[v][-1], acc)  # EXACT equality


def test_topological_levels_dag_and_cycle(spark):
    from linkgraph.algorithms import topological_levels

    # diamond DAG a->b, a->c, b->d, c->d, d->e plus 2-cycle x<->y fed by e
    edges = [(0, "a", "b"), (1, "a", "c"), (2, "b", "d"), (3, "c", "d"),
             (4, "d", "e"), (5, "e", "x"), (6, "x", "y"), (7, "y", "x")]
    g = LinkGraph.from_edge_list(spark, edges)
    ids = {r["name"]: r["id"] for r in g.ids().collect()}
    lv = {r["node"]: r["level"] for r in topological_levels(g).collect()}
    assert lv[ids["a"]] == 0
    assert lv[ids["b"]] == 1 and lv[ids["c"]] == 1
    assert lv[ids["d"]] == 2 and lv[ids["e"]] == 3
    # x, y sit on a cycle: never peel
    assert lv[ids["x"]] == -1 and lv[ids["y"]] == -1


def test_greedy_coloring_proper_complete_deterministic(spark):
    from itertools import combinations

    from linkgraph.algorithms import greedy_coloring

    # K4 (forces 4 colors) + a 6-path (2 colors) + a bridge between them
    k4 = [(i, a, b) for i, (a, b) in enumerate(combinations("abcd", 2))]
    path = [(100 + i, f"p{i}", f"p{i+1}") for i in range(6)]
    bridge = [(200, "d", "p0")]
    g = LinkGraph.from_edge_list(spark, k4 + path + bridge)
    out = greedy_coloring(g, seed=3).collect()
    colors = {r["node"]: r["color"] for r in out}
    all_ids = {r["id"] for r in g.ids().collect()}
    assert set(colors) == all_ids  # complete
    und = g.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id")).collect()
    deg = {}
    for r in und:
        deg[r["id"]] = deg.get(r["id"], 0) + 1
        assert colors[r["id"]] != colors[r["nbr_id"]]  # proper
    # greedy bound: color(v) <= deg(v); K4 members use exactly {0,1,2,3}
    for v, c in colors.items():
        assert c <= deg.get(v, 0)
    ids = {r["name"]: r["id"] for r in g.ids().collect()}
    assert {colors[ids[x]] for x in "abcd"} == {0, 1, 2, 3}
    # determinism across runs
    again = {r["node"]: r["color"] for r in greedy_coloring(g, seed=3).collect()}
    assert again == colors


def test_knn_curve_star_golden(spark):
    from linkgraph.algorithms.metrics import avg_neighbor_degree_curve

    # star S3: center degree 3 (avg nbr deg 1), leaves degree 1 (avg 3)
    star = [(i, "hub", f"l{i}") for i in range(3)]
    g = LinkGraph.from_edge_list(spark, star)
    got = {r["degree"]: (r["knn_ppm"], r["n_nodes"])
           for r in avg_neighbor_degree_curve(g).collect()}
    assert got == {1: (3_000_000, 3), 3: (1_000_000, 1)}
    # 4-path p0-p1-p2-p3: ends deg1 (nbr deg 2), middles deg2
    # p1's nbrs are p0(1), p2(2) -> 1_500_000; same for p2
    path = [(10 + i, f"p{i}", f"p{i+1}") for i in range(3)]
    g2 = LinkGraph.from_edge_list(spark, path)
    got2 = {r["degree"]: (r["knn_ppm"], r["n_nodes"])
            for r in avg_neighbor_degree_curve(g2).collect()}
    assert got2 == {1: (2_000_000, 2), 2: (1_500_000, 2)}


def test_spinner_partition_balanced_and_cut(spark):
    from itertools import combinations

    from linkgraph.algorithms.partitioning import spinner_partition

    # two K4 cliques + one bridge: the ideal 2-partition cuts only the
    # bridge and is perfectly balanced
    k4a = [(i, a, b) for i, (a, b) in enumerate(combinations(
        ["a1", "a2", "a3", "a4"], 2))]
    k4b = [(10 + i, a, b) for i, (a, b) in enumerate(combinations(
        ["b1", "b2", "b3", "b4"], 2))]
    g = LinkGraph.from_edge_list(spark, k4a + k4b + [(20, "a1", "b1")])
    res = spinner_partition(g, k=2, rounds=6, seed=42).collect()
    parts = {r["node"]: r["part"] for r in res}
    all_ids = {r["id"] for r in g.ids().collect()}
    assert set(parts) == all_ids  # every node exactly once
    sizes = {}
    for p in parts.values():
        sizes[p] = sizes.get(p, 0) + 1
    cap = (len(all_ids) * 11) // (2 * 10) + 1
    assert all(s <= cap for s in sizes.values())  # capacity respected
    und = [(r["id"], r["nbr_id"]) for r in g.undirected_edge_ids().collect()
           if r["id"] < r["nbr_id"]]
    cut = sum(1 for a, b in und if parts[a] != parts[b])
    assert cut == 1  # only the bridge is cut
    assert sorted(sizes.values()) == [4, 4]
    again = {r["node"]: r["part"]
             for r in spinner_partition(g, k=2, rounds=6, seed=42).collect()}
    assert again == parts  # pure function of (graph, k, seed)


def test_reciprocation_latency_hand_example(spark):
    from linkgraph.algorithms.metrics import reciprocation_latency
    from linkgraph.graph import LinkGraph

    ev = [
        (0, "a", "b"),    # answered by b->a@7 (latency 7)
        (5, "a", "b"),    # answered by b->a@7 (latency 2)
        (7, "b", "a"),    # answered by a->b@9 (latency 2)
        (9, "a", "b"),    # never answered
        (3, "c", "d"),    # same-instant mutual events do NOT reciprocate
        (3, "d", "c"),
        (4, "e", "e"),    # self-loop excluded entirely
        (1, "f", "g"),    # one-way only: never reciprocated
    ]
    g = LinkGraph.from_edge_list(spark, ev)
    rows = {
        (r["src"], r["dst"]): r
        for r in reciprocation_latency(g).collect()
    }
    ab = rows[("a", "b")]
    assert (ab["n_events"], ab["n_reciprocated"]) == (3, 2)
    assert (ab["min_latency"], ab["sum_latency"]) == (2, 9)
    ba = rows[("b", "a")]
    assert (ba["n_events"], ba["n_reciprocated"]) == (1, 1)
    assert (ba["min_latency"], ba["sum_latency"]) == (2, 2)
    assert rows[("c", "d")]["n_reciprocated"] == 0
    assert rows[("d", "c")]["n_reciprocated"] == 0
    assert rows[("f", "g")]["n_reciprocated"] == 0
    assert rows[("f", "g")]["min_latency"] is None
    assert ("e", "e") not in rows
