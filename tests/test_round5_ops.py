"""Hand-verified goldens for the round-5 operators: bow-tie decomposition,
paragraph dedup, product-quantization codes, last-touch attribution."""

import datetime as dt

import pytest


def test_bowtie_textbook(spark):
    """The canonical Broder picture: every one of the eight classes is
    exercised by construction."""
    from linkgraph.algorithms import bowtie_decomposition
    from linkgraph.graph import LinkGraph

    ev = [
        (0, "10", "11"), (1, "11", "10"),   # SCC {10,11}
        (2, "1", "10"),                     # IN {1}
        (3, "10", "20"),                    # OUT {20}
        (4, "1", "30"), (5, "30", "20"),    # TUBE {30}
        (6, "1", "40"),                     # TENDRIL_IN {40}
        (7, "50", "20"),                    # TENDRIL_OUT {50}
        (8, "60", "61"),                    # DISCONNECTED {60,61}
    ]
    g = LinkGraph.from_edge_list(spark, ev)
    got = {r["cls"]: r["n_nodes"] for r in bowtie_decomposition(g).collect()}
    assert got == {
        "SCC": 2, "IN": 1, "OUT": 1, "TUBE": 1, "TENDRIL_IN": 1,
        "TENDRIL_OUT": 1, "OTHER": 0, "DISCONNECTED": 2,
    }


def test_bowtie_largest_scc_tiebreak(spark):
    """Two SCCs of equal size: the one with the smaller ``scc`` label (its
    smallest node id) must be chosen — engine-independent determinism."""
    from linkgraph.algorithms import bowtie_decomposition
    from linkgraph.graph import LinkGraph

    ev = [
        (0, "5", "6"), (1, "6", "5"),      # SCC A {5,6}
        (2, "8", "9"), (3, "9", "8"),      # SCC B {8,9}
        (4, "6", "8"),                     # A -> B: B becomes OUT-side
    ]
    g = LinkGraph.from_edge_list(spark, ev)
    got = {r["cls"]: r["n_nodes"] for r in bowtie_decomposition(g).collect()}
    # A (min name 5) is the core; B is fully reachable from it -> OUT
    assert got["SCC"] == 2 and got["OUT"] == 2 and got["IN"] == 0


def test_bowtie_empty_graph_is_all_zero(spark):
    from linkgraph.algorithms import bowtie_decomposition
    from linkgraph.graph import LinkGraph

    got = {
        r["cls"]: r["n_nodes"]
        for r in bowtie_decomposition(LinkGraph.from_edge_list(spark, [])).collect()
    }
    assert got == {
        "SCC": 0, "IN": 0, "OUT": 0, "TUBE": 0, "TENDRIL_IN": 0,
        "TENDRIL_OUT": 0, "OTHER": 0, "DISCONNECTED": 0,
    }


def test_bowtie_non_numeric_names(spark):
    """Names that are not decimal integers (repository names, say) hash to
    their ids; the tie-break must not cast them."""
    from linkgraph.algorithms import bowtie_decomposition
    from linkgraph.graph import LinkGraph

    got = {
        r["cls"]: r["n_nodes"]
        for r in bowtie_decomposition(
            LinkGraph.from_edge_list(spark, [(1, "a", "a")])
        ).collect()
    }
    # the self-loop is dropped: one singleton SCC, nothing else
    assert got["SCC"] == 1 and sum(got.values()) == 1

    ev = [
        (0, "org/x", "org/y"), (1, "org/y", "org/x"),   # SCC {x, y}
        (2, "org/in", "org/x"),                         # IN
        (3, "org/y", "org/out"),                        # OUT
    ]
    got = {
        r["cls"]: r["n_nodes"]
        for r in bowtie_decomposition(LinkGraph.from_edge_list(spark, ev)).collect()
    }
    assert (got["SCC"], got["IN"], got["OUT"]) == (2, 1, 1)
    assert sum(got.values()) == 4


def test_paragraph_dedup_keep_first(spark):
    from linkgraph.pipeline.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (0, "alpha beta\n\nshared para"),
            (1, "shared para\n\ngamma"),       # later copy -> removed
            (2, "shared para"),                # later copy -> removed
            (3, "   \n\nunique"),              # whitespace para never counted
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert (rows[0]["n_paras"], rows[0]["removed_paras"]) == (2, 0)
    assert (rows[1]["n_paras"], rows[1]["removed_paras"]) == (2, 1)
    assert (rows[2]["n_paras"], rows[2]["removed_paras"]) == (1, 1)
    assert rows[2]["clean_chars"] == 0
    # whitespace-only paragraph survives and still joins with \n\n
    assert (rows[3]["n_paras"], rows[3]["removed_paras"]) == (2, 0)
    import hashlib

    assert rows[1]["clean_md5"] == hashlib.md5(b"gamma").hexdigest()
    assert rows[0]["clean_md5"] == hashlib.md5(
        b"alpha beta\n\nshared para"
    ).hexdigest()


def test_pq_codes_hand(spark):
    """4-dim vectors, m=2, codebook of 2: assignments computable by eye."""
    from linkgraph.pipeline.simsearch import pq_codes

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 10.0, 10.0], 0),   # codeword 0
            (1, [5.0, 5.0, 0.0, 0.0], 0),     # codeword 1
            (2, [0.1, 0.1, 0.2, 0.3], 0),     # sub0 -> cw0, sub1 -> cw1
            (3, [4.0, 4.0, 9.0, 9.0], 0),     # sub0 -> cw1, sub1 -> cw0
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in pq_codes(emb, m=2, codebook_size=2).collect()
    }
    assert got[(2, 0)] == 0 and got[(2, 1)] == 1
    assert got[(3, 0)] == 1 and got[(3, 1)] == 0
    # codebook members quantize to themselves at distance 0
    assert got[(0, 0)] == 0 and got[(1, 1)] == 1

    with pytest.raises(ValueError, match="not divisible"):
        pq_codes(emb, m=3)

    empty = pq_codes(emb.limit(0), m=2, codebook_size=2)
    assert empty.collect() == []
    assert empty.schema.simpleString() == (
        "struct<vec_id:bigint,subspace:int,code:bigint,dist6:double>"
    )


def test_last_touch_attribution_hand(spark):
    from linkgraph.pipeline.analytics import last_touch_attribution

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1: clicks at :00 and :30 (two at :30 -> highest id wins),
        # buy at :40 -> attributed to click id 3
        (1, T(0), 1, "click", 0.0, "{}"),
        (2, T(30), 1, "click", 0.0, "{}"),
        (3, T(30), 1, "click", 0.0, "{}"),
        (4, T(40), 1, "buy", 1.0, "{}"),
        # u2: click 90 min before buy -> outside 1h horizon -> -1
        (5, T(0), 2, "click", 0.0, "{}"),
        (6, dt.datetime(2024, 1, 1, 1, 30), 2, "buy", 1.0, "{}"),
        # u3: buy with no click at all
        (7, T(10), 3, "buy", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    got = {
        r["trigger_id"]: (r["touch_id"], r["gap_ms"])
        for r in last_touch_attribution(
            ev, trigger="buy", touch="click", horizon_ms=3_600_000
        ).collect()
    }
    assert got[4] == (3, 10 * 60 * 1000)
    assert got[6] == (-1, -1)
    assert got[7] == (-1, -1)


def test_temporal_closure_rate_hand(spark):
    """Triangle with causal ordering: only the wedge whose closing edge
    arrives at-or-after both legs counts as closed_after."""
    from linkgraph.algorithms.triangles import temporal_closure_rate
    from linkgraph.graph import LinkGraph

    # a-b@1, b-c@5, a-c@10: wedges (a,c) via b [wt=5, closes@10 -> after],
    # (b,c) via a [wt=10, edge@5 -> ever only], (a,b) via c [wt=10,
    # edge@1 -> ever only]; d-e@3 contributes no wedge
    ev = [(1, "a", "b"), (5, "b", "c"), (10, "a", "c"), (3, "d", "e")]
    r = temporal_closure_rate(LinkGraph.from_edge_list(spark, ev)).collect()[0]
    assert (r["n_wedges"], r["closed_ever"], r["closed_after"]) == (3, 3, 1)
    assert (r["ever_ppm"], r["closure_ppm"]) == (1_000_000, 333_333)
    # open wedge: a-b@1, b-c@5, no a-c edge
    ev2 = [(1, "a", "b"), (5, "b", "c")]
    r2 = temporal_closure_rate(LinkGraph.from_edge_list(spark, ev2)).collect()[0]
    assert (r2["n_wedges"], r2["closed_ever"], r2["closed_after"]) == (1, 0, 0)
    assert r2["closure_ppm"] == 0


def test_rich_core_hand(spark):
    """Star-plus-chain: sigma peaks at node 5 (rank 3), so the core is
    {1, 4, 5} and the degree-1 leaves are periphery."""
    from linkgraph.algorithms.metrics import rich_core
    from linkgraph.graph import LinkGraph

    ev = [(0, "1", "2"), (1, "1", "3"), (2, "1", "4"), (3, "1", "5"),
          (4, "4", "5")]
    out = {
        r["node"]: (r["degree"], r["sigma"], r["in_core"])
        for r in rich_core(LinkGraph.from_edge_list(spark, ev)).collect()
    }
    assert out == {
        1: (4, 0, True), 4: (2, 1, True), 5: (2, 2, True),
        2: (1, 1, False), 3: (1, 1, False),
    }


def test_percolation_profile_hand(spark):
    """Monotonicity + endpoint invariants on a small graph: kept edges,
    touched nodes, and giant size are non-decreasing in p, and p=100
    recovers the full graph exactly."""
    from linkgraph.algorithms.metrics import percolation_profile
    from linkgraph.graph import LinkGraph

    ev = [(0, str(a), str(b)) for a, b in
          [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1), (7, 8)]]
    g = LinkGraph.from_edge_list(spark, ev)
    rows = {r["p_pct"]: r for r in
            percolation_profile(g, ps=(25, 50, 75, 100)).collect()}
    ks = sorted(rows)
    for a, b in zip(ks, ks[1:]):
        assert rows[a]["n_edges_kept"] <= rows[b]["n_edges_kept"]
        assert rows[a]["giant_size"] <= rows[b]["giant_size"]
    full = rows[100]
    assert full["n_edges_kept"] == 7
    assert full["n_nodes_touched"] == 8
    assert full["giant_size"] == 6          # the 6-cycle
    assert full["giant_ppm"] == 6 * 1_000_000 // 8
    # determinism: same quenched hash -> identical profile on re-run
    again = {r["p_pct"]: r["n_edges_kept"] for r in
             percolation_profile(g, ps=(25, 50, 75, 100)).collect()}
    assert again == {p: rows[p]["n_edges_kept"] for p in rows}
