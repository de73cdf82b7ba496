"""Global structure primitives: densest subgraph and maximal independent
set — the two classic log-round distributed-graph peels the rest of §2.6
doesn't cover.

Both are deterministic by construction here (no RNG state): the densest
peel has no randomness at all, and Luby's MIS uses quenched md5 priorities,
so results replay bit-identically across engines, partitionings, and
cluster sizes — each has a level-unrolled DuckDB oracle in
__spark_entry__.

Plan shape per round (shared with the k-core/coreness family): one degree
aggregate over the surviving adjacency + one semi/anti join; the adjacency
shrinks monotonically and each round's survivors are localCheckpoint'd so
plans stay linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import LinkGraph, persist_once
from ..superstep import fixpoint, iteration_conf, pick_partitions


def densest_subgraph(
    graph: LinkGraph, epsilon: float = 0.1, max_rounds: int = 64
) -> DataFrame:
    """2(1+ε)-approximate densest subgraph (Bahmani, Kumar & Vassilvitskii,
    VLDB 2012) — ``(node, density, n_nodes, round)``: the member nodes of
    the densest prefix of the peel, carrying the subgraph's density
    |E|/|V| (undirected), size, and the peel round that attained it.

    Each round removes EVERY node of degree ≤ 2(1+ε)·ρ(current), so the
    peel finishes in O(log n) rounds regardless of graph size — the
    MapReduce-era answer to the sequential Charikar peel (which removes
    one min-degree node per step and is unrunnable distributed).  The
    densest intermediate subgraph across rounds is within 2(1+ε) of
    optimal.  Deterministic: no randomness anywhere; density ties pick the
    EARLIEST round.
    """
    spark = graph.spark
    und = graph.canonical_edge_ids()  # (lo, hi), self-loops dropped
    release_und = persist_once(und)
    P = pick_partitions(spark, und.count())
    snapshots: list[tuple[int, int, int]] = []  # (round, n_nodes, n_edges)
    with iteration_conf(spark, shuffle_partitions=P):
        edges = und.localCheckpoint(eager=True)
        release_und()
        removed_at: DataFrame | None = None  # (id, peeled_round)
        rnd = 0
        while rnd < int(max_rounds):
            deg = (
                edges.select(F.col("lo").alias("id"))
                .unionByName(edges.select(F.col("hi").alias("id")))
                .groupBy("id")
                .agg(F.count("*").alias("deg"))
                .localCheckpoint(eager=True)
            )
            counts = deg.agg(
                F.count("*").alias("n"), F.sum("deg").alias("deg_sum")
            ).first()
            n_nodes = counts["n"] or 0
            n_edges = (counts["deg_sum"] or 0) // 2
            if n_nodes == 0:
                break
            snapshots.append((rnd, n_nodes, n_edges))
            # peel everything at or below 2(1+eps) * density
            thresh = 2.0 * (1.0 + float(epsilon)) * (n_edges / n_nodes)
            peeled = deg.filter(F.col("deg") <= F.lit(thresh)).select(
                "id", F.lit(rnd).alias("peeled_round")
            )
            removed_at = (
                peeled
                if removed_at is None
                else removed_at.unionByName(peeled)
            ).localCheckpoint(eager=True)
            survivors = deg.filter(F.col("deg") > F.lit(thresh)).select("id")
            edges = (
                edges.join(
                    survivors.withColumnRenamed("id", "lo"), "lo", "left_semi"
                )
                .join(
                    survivors.withColumnRenamed("id", "hi"), "hi", "left_semi"
                )
                .localCheckpoint(eager=True)
            )
            # a survivor whose neighbours were ALL peeled drops to degree 0
            # and silently leaves the degree table — record it as leaving
            # this round too, or the member set would disagree with the
            # per-round n_nodes counts
            nxt_nodes = (
                edges.select(F.col("lo").alias("id"))
                .unionByName(edges.select(F.col("hi").alias("id")))
                .distinct()
            )
            vanished = survivors.join(nxt_nodes, "id", "left_anti").select(
                "id", F.lit(rnd).alias("peeled_round")
            )
            removed_at = removed_at.unionByName(vanished).localCheckpoint(
                eager=True
            )
            rnd += 1
        if not snapshots:
            return spark.createDataFrame(
                [], "node long, density double, n_nodes long, round long"
            )
        best_round, best_n, best_e = max(
            snapshots, key=lambda s: (s[2] / s[1], -s[0])
        )
        density = best_e / best_n
        # members of the best round = initial edge-bearing nodes NOT yet
        # removed (peeled or vanished) before it
        nodes0 = (
            und.select(F.col("lo").alias("id"))
            .unionByName(und.select(F.col("hi").alias("id")))
            .distinct()
        )
        members = nodes0.join(
            removed_at.filter(F.col("peeled_round") < best_round),
            "id",
            "left_anti",
        )
    return members.select(
        F.col("id").alias("node"),
        F.lit(density).alias("density"),
        F.lit(best_n).cast("long").alias("n_nodes"),
        F.lit(best_round).cast("long").alias("round"),
    )


def maximal_independent_set(
    graph: LinkGraph, seed: int = 42, max_rounds: int = 64
) -> DataFrame:
    """Luby's maximal independent set (Luby, STOC 1985) — ``(node,
    round)``: one row per MIS member with the round it joined.

    Per round, an active node joins the MIS iff its quenched md5 priority
    is strictly smaller than every ACTIVE neighbour's; joiners and their
    neighbours deactivate.  O(log n) rounds w.h.p. over the (quenched)
    priorities; with the draw fixed by (seed, node) the whole run is a
    pure function of the input — the same determinism contract as the
    walk/sampling family.  Independence and maximality are guaranteed by
    construction; tests assert both.

    Priorities are 60-bit md5 draws; a collision between NEIGHBOURS would
    stall those two nodes (neither strictly smallest) — probability
    ≤ m·2⁻⁶⁰, and the round cap turns a stall into a loud error rather
    than silence.
    """
    spark = graph.spark
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    raw = und.persist()
    P = pick_partitions(spark, raw.count())
    prio = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit(str(seed)), F.col("id").cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    with iteration_conf(spark, shuffle_partitions=P):
        adj = raw.localCheckpoint(eager=True)
        raw.unpersist()
        active = (
            graph.ids().select("id", prio.alias("p")).localCheckpoint(eager=True)
        )
        mis_parts: list[DataFrame] = []
        rnd = 0
        while rnd < int(max_rounds):
            if active.isEmpty():
                break
            # min active-neighbour priority per node (NULL = isolated)
            nbr_min = (
                adj.join(
                    active.select(
                        F.col("id").alias("nbr_id"), F.col("p").alias("np")
                    ),
                    "nbr_id",
                )
                .groupBy("id")
                .agg(F.min("np").alias("min_np"))
            )
            winners = (
                active.join(nbr_min, "id", "left")
                .filter(F.col("min_np").isNull() | (F.col("p") < F.col("min_np")))
                .select("id")
                .localCheckpoint(eager=True)
            )
            if winners.isEmpty():
                raise RuntimeError(
                    "Luby MIS stalled: no strictly-smallest active priority "
                    "(md5 collision between neighbours, p <= m*2^-60)"
                )
            mis_parts.append(
                winners.select("id", F.lit(rnd).cast("long").alias("round"))
            )
            # deactivate winners and their neighbours
            killed = winners.unionByName(
                adj.join(
                    winners.withColumnRenamed("id", "nbr_id"), "nbr_id"
                ).select("id")
            ).distinct()
            active = active.join(killed, "id", "left_anti").localCheckpoint(
                eager=True
            )
            adj = (
                adj.join(active.select("id"), "id", "left_semi")
                .join(
                    active.select(F.col("id").alias("nbr_id")),
                    "nbr_id",
                    "left_semi",
                )
                .localCheckpoint(eager=True)
            )
            rnd += 1
        if not active.isEmpty():
            raise RuntimeError(
                f"Luby MIS did not converge in {max_rounds} rounds"
            )
    out = mis_parts[0]
    for p_ in mis_parts[1:]:
        out = out.unionByName(p_)
    return out.select(F.col("id").alias("node"), "round")


def maximal_matching(
    graph: LinkGraph, seed: int = 42, max_rounds: int = 64
) -> DataFrame:
    """Deterministic maximal matching (the edge analogue of Luby — Israeli
    & Itai 1986 style) — ``(lo, hi, round)``: one row per matched edge.

    Each canonical edge carries a quenched md5 priority; per round an
    active edge joins the matching iff its priority is the strict minimum
    among active edges at BOTH endpoints, then all edges touching matched
    nodes deactivate.  O(log n) rounds w.h.p. over the quenched
    priorities; a pure function of the input, replayed level-for-level by
    the SQL oracle.  Per round: one endpoint-min aggregate + one join +
    one anti-join.
    """
    spark = graph.spark
    prio = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(seed)),
                    F.col("lo").cast("string"),
                    F.col("hi").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    raw = graph.canonical_edge_ids().select("lo", "hi", prio.alias("p")).persist()
    P = pick_partitions(spark, raw.count())
    with iteration_conf(spark, shuffle_partitions=P):
        edges = raw.localCheckpoint(eager=True)
        raw.unpersist()
        matched_parts: list[DataFrame] = []
        rnd = 0
        while rnd < int(max_rounds):
            if edges.isEmpty():
                break
            node_min = (
                edges.select(F.col("lo").alias("id"), "p")
                .unionByName(edges.select(F.col("hi").alias("id"), "p"))
                .groupBy("id")
                .agg(F.min("p").alias("mn"))
            )
            winners = (
                edges.join(
                    node_min.select(F.col("id").alias("lo"), F.col("mn").alias("mn_lo")),
                    "lo",
                )
                .join(
                    node_min.select(F.col("id").alias("hi"), F.col("mn").alias("mn_hi")),
                    "hi",
                )
                .filter((F.col("p") == F.col("mn_lo")) & (F.col("p") == F.col("mn_hi")))
                .select("lo", "hi")
                .localCheckpoint(eager=True)
            )
            if winners.isEmpty():
                raise RuntimeError(
                    "maximal matching stalled: no edge is the strict min at "
                    "both endpoints (md5 collision, p <= m*2^-60)"
                )
            matched_parts.append(
                winners.select("lo", "hi", F.lit(rnd).cast("long").alias("round"))
            )
            touched = (
                winners.select(F.col("lo").alias("id"))
                .unionByName(winners.select(F.col("hi").alias("id")))
                .distinct()
            )
            edges = (
                edges.join(
                    touched.withColumnRenamed("id", "lo"), "lo", "left_anti"
                )
                .join(touched.withColumnRenamed("id", "hi"), "hi", "left_anti")
                .localCheckpoint(eager=True)
            )
            rnd += 1
        if not edges.isEmpty():
            raise RuntimeError(
                f"maximal matching did not converge in {max_rounds} rounds"
            )
    if not matched_parts:
        return spark.createDataFrame([], "lo long, hi long, round long")
    out = matched_parts[0]
    for p_ in matched_parts[1:]:
        out = out.unionByName(p_)
    return out


def wl_refinement(
    graph: LinkGraph, depth: int = 3, partitions: int | None = None
) -> DataFrame:
    """Weisfeiler–Lehman colour refinement (1-WL) — ``(node, wl_label)``
    after ``depth`` rounds: the canonical structural fingerprint behind
    graph kernels and GNN expressiveness tests (Shervashidze et al., JMLR
    2011).  ``label₀ = md5(degree)``; each round re-labels with
    ``md5(own || '|' || sorted(neighbour labels) joined by ',')``.

    Nodes with identical labels are 1-WL-indistinguishable: symmetric
    positions collapse to one class, so the label histogram is a graph
    signature and per-node labels feed isomorphism-aware dedup/features.
    One join + one sort-within-group aggregate per round (the sort is per
    neighbourhood, bounded by max degree); md5 canonicalisation makes the
    labels engine-exact, so the oracle replays them verbatim.
    """
    spark = graph.spark
    raw = graph.undirected_edge_ids()
    release_raw = persist_once(raw)
    P = partitions or pick_partitions(spark, raw.count())
    with iteration_conf(spark, shuffle_partitions=P):
        adj = (
            raw.repartition(P, "nbr_id")
            .sortWithinPartitions("nbr_id")
            .persist()
        )
        adj.count()
        release_raw()
        labels = (
            graph.degrees()
            .select(
                "id", F.md5(F.col("degree").cast("string")).alias("lab")
            )
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
        for _ in range(int(depth)):
            nbrl = (
                adj.join(
                    labels.select(
                        F.col("id").alias("nbr_id"), F.col("lab").alias("nl")
                    ),
                    "nbr_id",
                )
                .groupBy("id")
                .agg(
                    F.array_join(
                        F.array_sort(F.collect_list("nl")), ","
                    ).alias("ns")
                )
            )
            labels = (
                labels.join(nbrl, "id", "left")
                .select(
                    "id",
                    F.md5(
                        F.concat(
                            F.col("lab"),
                            F.lit("|"),
                            F.coalesce(F.col("ns"), F.lit("")),
                        )
                    ).alias("lab"),
                )
                .repartition(P, "id")
                .localCheckpoint(eager=True)
            )
        adj.unpersist()
    return labels.select(F.col("id").alias("node"), F.col("lab").alias("wl_label"))


def topological_levels(
    graph: LinkGraph, max_rounds: int = 256
) -> DataFrame:
    """Kahn layering over the directed simple graph — ``(node, level)``:
    level 0 = sources (in-degree 0), level k = nodes whose in-edges all
    come from levels < k; nodes trapped on/behind cycles never peel and
    report ``level = -1`` (the cyclic core — its members are exactly the
    nodes SCC condensation puts in or downstream of a non-trivial SCC's
    cycle).  Each round is one in-degree aggregate + one anti-join over
    the shrinking edge set; rounds = longest chain length (the DAG depth),
    loudly erroring past ``max_rounds`` rather than spinning.
    """
    spark = graph.spark
    e = graph.edge_ids().filter(F.col("src_id") != F.col("dst_id"))
    raw = e.persist()
    P = pick_partitions(spark, raw.count())
    with iteration_conf(spark, shuffle_partitions=P):
        edges = raw.localCheckpoint(eager=True)
        raw.unpersist()
        remaining = graph.ids().select("id").localCheckpoint(eager=True)
        parts: list[DataFrame] = []
        lvl = 0
        while lvl < int(max_rounds):
            if remaining.isEmpty():
                break
            with_in = edges.select(F.col("dst_id").alias("id")).distinct()
            sources = remaining.join(with_in, "id", "left_anti").localCheckpoint(
                eager=True
            )
            if sources.isEmpty():
                # every remaining node has an in-edge from a remaining
                # node: the cyclic core and its downstream
                parts.append(
                    remaining.select(
                        "id", F.lit(-1).cast("long").alias("level")
                    )
                )
                remaining = remaining.limit(0)
                break
            parts.append(
                sources.select("id", F.lit(lvl).cast("long").alias("level"))
            )
            remaining = remaining.join(sources, "id", "left_anti").localCheckpoint(
                eager=True
            )
            edges = edges.join(
                sources.withColumnRenamed("id", "src_id"), "src_id", "left_anti"
            ).localCheckpoint(eager=True)
            lvl += 1
        if not remaining.isEmpty():
            raise RuntimeError(
                f"topological_levels did not converge in {max_rounds} rounds"
            )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.select(F.col("id").alias("node"), "level")


def greedy_coloring(
    graph: LinkGraph, seed: int = 42, max_rounds: int = 64
) -> DataFrame:
    """Speculative greedy graph coloring (Gebremedhin & Manne, Concurrency
    2000; the distributed-DataFrame analogue of their iterative
    speculate-then-resolve scheme) — ``(node, color, round)``: a proper
    coloring of the undirected simple graph, one row per node with the
    round it finalized in.

    Per round, EVERY uncolored node speculatively picks the smallest
    color absent from its already-finalized neighbourhood (the "mex",
    computed JVM-side as one ``aggregate`` fold over the sorted distinct
    neighbour-color set — no UDF), then finalizes iff no uncolored
    neighbour with a strictly smaller quenched md5 priority picked the
    same color.  Properness is by construction (finalized neighbours are
    avoided via the mex; same-round collisions are vetoed by priority);
    the global minimum-priority active node always finalizes, and in
    expectation a constant fraction of conflicts resolve per round, so
    rounds are O(log n) — measured: 3 rounds on the dense sf0.01 trade
    graph where classic Jones–Plassmann (only local priority minima
    color per round) needs 136, its priority-DAG depth.  Colors ≤
    max-degree+1 by the greedy bound; completeness, properness and
    determinism are asserted in tests.

    A pure function of (graph, seed): priorities are quenched per node,
    so the coloring replays bit-identically across partitionings and
    engines — the DuckDB oracle unrolls rounds with the mex expressed as
    a min over a candidate range anti-joined against used colors.

    Plan shape per round: one semi-join + hash agg over the static
    adjacency restricted to active nodes (the mex), one self-join of the
    candidate table through the surviving active×active adjacency (the
    conflict veto), two anti/semi joins to shrink state.  The active
    adjacency shrinks monotonically; colored state is O(n) and
    localCheckpoint'd per round.
    """
    spark = graph.spark
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    raw = und.persist()
    P = pick_partitions(spark, raw.count())
    prio = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit(str(seed)), F.col("id").cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    mex = F.aggregate(
        F.col("used"),
        F.lit(0),
        lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
    )
    with iteration_conf(spark, shuffle_partitions=P):
        full_adj = raw.localCheckpoint(eager=True)
        raw.unpersist()
        act_adj = full_adj
        active = (
            graph.ids().select("id", prio.alias("p")).localCheckpoint(eager=True)
        )
        colored = active.select("id").limit(0).withColumn("color", F.lit(0))
        parts: list[DataFrame] = []
        rnd = 0
        while rnd < int(max_rounds):
            if active.isEmpty():
                break
            used = (
                full_adj.join(active.select("id"), "id", "left_semi")
                .join(
                    colored.select(F.col("id").alias("nbr_id"), "color"),
                    "nbr_id",
                )
                .groupBy("id")
                .agg(F.array_sort(F.collect_set("color")).alias("used"))
            )
            cand = (
                active.join(used, "id", "left")
                .select(
                    "id", "p", F.coalesce(mex, F.lit(0)).alias("c")
                )
                .localCheckpoint(eager=True)
            )
            # veto: an active neighbour picked the same color with a
            # strictly smaller priority
            conf = (
                act_adj.join(
                    cand.select(
                        F.col("id").alias("nbr_id"),
                        F.col("c").alias("nc"),
                        F.col("p").alias("np"),
                    ),
                    "nbr_id",
                )
                .join(cand.select("id", "c", "p"), "id")
                .filter((F.col("nc") == F.col("c")) & (F.col("np") < F.col("p")))
                .select("id")
                .distinct()
            )
            fin = cand.join(conf, "id", "left_anti").localCheckpoint(eager=True)
            if fin.isEmpty():
                raise RuntimeError(
                    "greedy_coloring stalled: every active node vetoed "
                    "(md5 collision between neighbours)"
                )
            parts.append(
                fin.select(
                    "id",
                    F.col("c").alias("color"),
                    F.lit(rnd).cast("long").alias("round"),
                )
            )
            colored = colored.unionByName(
                fin.select("id", F.col("c").alias("color"))
            ).localCheckpoint(eager=True)
            active = active.join(fin.select("id"), "id", "left_anti").localCheckpoint(
                eager=True
            )
            act_adj = (
                act_adj.join(active.select("id"), "id", "left_semi")
                .join(
                    active.select(F.col("id").alias("nbr_id")),
                    "nbr_id",
                    "left_semi",
                )
                .localCheckpoint(eager=True)
            )
            rnd += 1
        if not active.isEmpty():
            raise RuntimeError(
                f"greedy_coloring did not converge in {max_rounds} rounds"
            )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.select(F.col("id").alias("node"), "color", "round")


def square_count(graph: LinkGraph) -> DataFrame:
    """Per-node 4-cycle (square) counts — ``(id, n_squares)`` for every
    node of the undirected simple graph.

    A square through node ``u`` is determined by its OPPOSITE corner
    ``w`` and an unordered pair of distinct common neighbours, so
    ``squares(u) = sum over w != u of C(cn(u, w), 2)`` — the square
    analogue of the triangle-intersection formulation
    (motifs/local_triangle_count.rs anchors the triangle version; the
    bipartite-only butterfly counter in bipartite.py is the special case
    where corners alternate sides).  Self-loops are excluded by the
    deduplicated neighbour view, degenerate "squares" by the distinct
    pair (``C(cn, 2)``) and the ``u < w`` canonical pairing.

    Shape: one wedge self-join through the middle vertex (volume
    sum-of-degrees-squared — the same budget every common-neighbour
    operator here pays; cap or sample hubs upstream if that binds), one
    hash aggregate to common-neighbour counts, pure integer arithmetic
    (``c*(c-1) div 2``), one per-node sum.  No floats, no UDFs.
    """
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    a = und.select(F.col("nbr_id").alias("m"), F.col("id").alias("u"))
    b = und.select(F.col("id").alias("m"), F.col("nbr_id").alias("w"))
    cn = (
        a.join(b, "m")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    pair_sq = cn.select(
        "u", "w", F.expr("(c * (c - 1)) div 2").alias("sq")
    )
    per_node = (
        pair_sq.select(F.col("u").alias("id"), "sq")
        .unionByName(pair_sq.select(F.col("w").alias("id"), "sq"))
        .groupBy("id")
        .agg(F.sum("sq").alias("n_squares"))
    )
    return (
        graph.ids()
        .select("id")
        .join(per_node, "id", "left")
        .select("id", F.coalesce("n_squares", F.lit(0)).alias("n_squares"))
    )


def k4_counts(graph: LinkGraph) -> DataFrame:
    """Per-node 4-clique (K4) counts — ``(id, n_k4)`` for every node of
    the undirected simple graph.

    Degree-ordered orientation (the Chiba–Nishizeki discipline the
    triangle kernels use, triangles.py): each edge points from the
    (degree, id)-smaller endpoint, so every K4 is enumerated exactly
    once as an oriented triangle ``(u, v, w)`` plus an apex ``x`` with
    oriented edges from all three.  Out-degrees under this orientation
    are bounded by O(sqrt(m)) on any graph (arboricity argument), which
    is what keeps the candidate volume polynomial at scale — the joins
    are all 2-column hash joins on oriented edge keys, and the apex
    probe starts from ``w`` (the highest-ranked corner, hence the
    fewest oriented out-neighbours).  Pure integer counting: no floats,
    no UDFs; the final explode is four slim long columns.
    """
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    deg = und.groupBy("id").agg(F.count("*").alias("d"))
    e = (
        und.join(deg, "id")
        .join(
            deg.select(F.col("id").alias("nbr_id"), F.col("d").alias("d2")),
            "nbr_id",
        )
        .filter(
            (F.col("d") < F.col("d2"))
            | ((F.col("d") == F.col("d2")) & (F.col("id") < F.col("nbr_id")))
        )
        .select(F.col("id").alias("lo"), F.col("nbr_id").alias("hi"))
    )
    e12 = e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    e23 = e.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    e13 = e.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    tri = e12.join(e23, "v").join(e13, ["u", "w"])
    ewx = e.select(F.col("lo").alias("w"), F.col("hi").alias("x"))
    evx = e.select(F.col("lo").alias("v"), F.col("hi").alias("x"))
    eux = e.select(F.col("lo").alias("u"), F.col("hi").alias("x"))
    k4 = tri.join(ewx, "w").join(evx, ["v", "x"]).join(eux, ["u", "x"])
    per_node = (
        k4.select(F.col("u").alias("id"))
        .unionByName(k4.select(F.col("v").alias("id")))
        .unionByName(k4.select(F.col("w").alias("id")))
        .unionByName(k4.select(F.col("x").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("n_k4"))
    )
    return (
        graph.ids()
        .select("id")
        .join(per_node, "id", "left")
        .select("id", F.coalesce("n_k4", F.lit(0)).alias("n_k4"))
    )


def role_features(graph: LinkGraph) -> DataFrame:
    """ReFeX-style recursive structural role features — per node:
    ``(id, deg, in_deg, out_deg, r1_sum, r1_mean_ppm, r2_sum,
    r2_mean_ppm)``.

    Base features are the distinct-neighbour degrees (degree.rs:49-90
    semantics); recursive rounds aggregate over the BOTH-direction
    deduplicated neighbourhood: round 1 sums/means the neighbours' base
    degree, round 2 sums/means the neighbours' round-1 sums (Henderson
    et al., ReFeX KDD 2011 — the sum/mean recursion that separates
    structural roles hubs/bridges/peripheral without any labels).

    Means are integer micro-units (``(1e6·sum) div count`` — floor
    division), so every engine computes bit-identical features: no
    float representation drift between Spark and the SQL replay, and
    downstream role clustering (k-means on the feature table) sees
    identical inputs.  Shape: each round is one join of the slim
    (id, feature) table onto the cached undirected pair list + one hash
    aggregate — two rounds, two shuffles, no iteration state.
    """
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    deg = graph.degrees().select(
        "id",
        F.col("degree").alias("deg"),
        F.col("in_degree").alias("in_deg"),
        F.col("out_degree").alias("out_deg"),
    )
    nbr_deg = und.join(
        deg.select(F.col("id").alias("nbr_id"), F.col("deg").alias("nd")),
        "nbr_id",
    )
    r1 = nbr_deg.groupBy("id").agg(
        F.sum("nd").alias("r1_sum"),
        F.expr("(1000000 * sum(nd)) div count(*)").alias("r1_mean_ppm"),
    )
    nbr_r1 = und.join(
        r1.select(F.col("id").alias("nbr_id"), F.col("r1_sum").alias("ns")),
        "nbr_id",
    )
    r2 = nbr_r1.groupBy("id").agg(
        F.sum("ns").alias("r2_sum"),
        F.expr("(1000000 * sum(ns)) div count(*)").alias("r2_mean_ppm"),
    )
    return (
        deg.join(r1, "id", "left")
        .join(r2, "id", "left")
        .select(
            "id", "deg", "in_deg", "out_deg",
            F.coalesce("r1_sum", F.lit(0)).alias("r1_sum"),
            F.coalesce("r1_mean_ppm", F.lit(0)).alias("r1_mean_ppm"),
            F.coalesce("r2_sum", F.lit(0)).alias("r2_sum"),
            F.coalesce("r2_mean_ppm", F.lit(0)).alias("r2_mean_ppm"),
        )
    )


def contract_chains(graph: LinkGraph, max_rounds: int = 40) -> DataFrame:
    """Topology compression: collapse every maximal degree-2 path into a
    single weighted edge — ``(lo, hi, n_edges, n_chains)``: chain
    endpoints (branch nodes, i.e. degree ≠ 2), the chain's edge count,
    and how many parallel chains share that signature.  A direct
    branch–branch edge is a chain of ``n_edges = 1``; a "petal" (chain
    leaving and re-entering the same branch node) has ``lo = hi``.
    PURE cycles (every node degree 2) have no branch ends and are
    excluded — count them with :func:`~linkgraph.algorithms.metrics.
    component_cycle_ranks` on the residual.

    The workhorse is **pointer doubling** on the half-edge successor
    function (list ranking): each directed half-edge ``(u→v)`` has at
    most one successor (``v``'s other neighbour when ``deg(v) = 2``),
    so the state ``(ptr, len, end)`` halves every chain in each round —
    ``ptr ← ptr(ptr)``, ``len ← len + len(ptr)`` — and the whole
    contraction costs O(log L) self-joins for maximal chain length L,
    not O(L) frontier steps.  No merge conflicts: the successor map is
    functional, so doubling is schedule-free and deterministic.  Each
    chain is discovered from both ends; the canonical (lo, hi) fold
    halves the traversal count.  Pure-cycle half-edges are detected by
    wraparound — their accumulated ``len`` exceeds the graph's total
    edge count, which no real chain can — and dropped.  The loud
    ``max_rounds`` guard fires only if a chain outruns 2^max_rounds
    edges.
    """
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    deg = und.groupBy("id").agg(F.count("*").alias("d"))
    interior = deg.filter(F.col("d") == 2).select(F.col("id").alias("v"))
    half = und.select(F.col("id").alias("u"), F.col("nbr_id").alias("v"))
    # v interior: successor of (u -> v) is (v -> w), w = v's other neighbour
    succ = (
        half.join(interior, "v")
        .join(
            und.select(
                F.col("id").alias("v2"), F.col("nbr_id").alias("w")
            ),
            F.col("v") == F.col("v2"),
        )
        .filter(F.col("w") != F.col("u"))
        .select("u", "v", "w")
    )
    # state keyed by half-edge (u, v): ptr = next half-edge head (the node
    # the chain continues toward) or NULL, len = edges covered, end = the
    # terminal node once known
    state = (
        half.join(succ, ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.col("w").alias("ptr_v"),
            F.when(F.col("w").isNotNull(), F.col("v")).alias("ptr_u"),
            F.lit(1).cast("long").alias("len"),
            F.when(F.col("w").isNull(), F.col("v")).alias("end"),
        )
        .localCheckpoint(eager=True)
    )
    m_edges = und.count() // 2
    rounds = 0
    while True:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"contract_chains: chains longer than 2^{max_rounds} edges "
                "— raise max_rounds"
            )
        live = state.filter(F.col("end").isNull())
        if live.isEmpty():
            break
        nxt = state.select(
            F.col("u").alias("ptr_u"),
            F.col("v").alias("ptr_v"),
            F.col("ptr_u").alias("n_ptr_u"),
            F.col("ptr_v").alias("n_ptr_v"),
            F.col("len").alias("n_len"),
            F.col("end").alias("n_end"),
        )
        state = (
            state.join(nxt, ["ptr_u", "ptr_v"], "left")
            .select(
                "u",
                "v",
                F.when(F.col("end").isNull(), F.col("n_ptr_v"))
                .otherwise(F.lit(None))
                .alias("ptr_v"),
                F.when(F.col("end").isNull(), F.col("n_ptr_u"))
                .otherwise(F.lit(None))
                .alias("ptr_u"),
                (
                    F.col("len")
                    + F.when(
                        F.col("end").isNull(), F.coalesce("n_len", F.lit(0))
                    ).otherwise(F.lit(0))
                ).alias("len"),
                F.coalesce("end", "n_end").alias("end"),
            )
            # wraparound ⇒ pure cycle: no chain can cover more edges than
            # the graph has, so these half-edges can never terminate
            .filter(
                F.col("end").isNotNull() | (F.col("len") <= F.lit(m_edges))
            )
            .localCheckpoint(eager=True)
        )
    branch = deg.filter(F.col("d") != 2).select(F.col("id").alias("u"))
    rooted = state.join(branch, "u", "left_semi")
    return (
        rooted.select(
            F.least("u", "end").alias("lo"),
            F.greatest("u", "end").alias("hi"),
            F.col("len").alias("n_edges"),
        )
        .groupBy("lo", "hi", "n_edges")
        .agg((F.count("*") / 2).cast("long").alias("n_chains"))
    )


def vertex_cover_2approx(graph: LinkGraph, seed: int = 42) -> DataFrame:
    """2-approximation vertex cover — ``(node, partner, round)``: BOTH
    endpoints of every edge of the deterministic maximal matching
    (:func:`maximal_matching`).  Matching maximality means every edge
    touches a matched node, so the endpoint set covers all edges; it is
    within 2x of the optimum because any cover must take ≥ 1 endpoint
    per matched edge (the Gavril/Yannakakis argument).  ``partner`` is
    the mate whose matched edge put the node in the cover — useful when
    auditing why a node was selected.  Cost: the matching itself; this
    is a projection."""
    m = maximal_matching(graph, seed=seed)
    return m.select(
        F.col("lo").alias("node"), F.col("hi").alias("partner"), "round"
    ).unionByName(
        m.select(F.col("hi").alias("node"), F.col("lo").alias("partner"), "round")
    )


def dag_path_counts(graph: LinkGraph, max_rounds: int = 64) -> DataFrame:
    """Source-to-node path counting on the id-oriented DAG —
    ``(node, n_paths)``: the number of distinct directed paths from any
    source (in-degree-0 node) to each node, over the acyclic
    orientation ``lo → hi`` of the canonical edge set.

    The dependency-fan-in readout ("how many build orders reach this
    module"); id orientation guarantees acyclicity on ANY graph, so
    the count is always finite.  Pure-join DP: ``P(v) = 1_source(v) +
    Σ_{u→v} P(u)`` iterated synchronously — on a DAG the sequence
    stabilises once rounds exceed the longest path, and the
    sum-aggregate equality is the convergence check (counts only
    grow).  One join + one aggregate per round over slim (id, count)
    state; loud ``max_rounds`` guard.  Counts can be exponential in
    depth on dense DAGs — they fit BIGINT far beyond any fixture here,
    and overflow raises under ANSI mode rather than wrapping.
    """
    edges = graph.canonical_edge_ids()
    nodes = (
        edges.select(F.col("lo").alias("id"))
        .unionByName(edges.select(F.col("hi").alias("id")))
        .distinct()
    )
    targets = edges.select(F.col("hi").alias("id")).distinct()
    src_flag = nodes.join(targets, "id", "left_anti").select(
        "id", F.lit(1).cast("long").alias("s")
    )
    base = nodes.join(src_flag, "id", "left").select(
        "id", F.coalesce("s", F.lit(0)).cast("long").alias("s")
    ).localCheckpoint(eager=True)

    def propagate(state: DataFrame) -> DataFrame:
        contrib = (
            edges.join(state.select(F.col("id").alias("lo"), "p"), "lo")
            .groupBy(F.col("hi").alias("id"))
            .agg(F.sum("p").alias("inc"))
        )
        return base.join(contrib, "id", "left").select(
            "id", (F.col("s") + F.coalesce("inc", F.lit(0))).alias("p")
        )

    state, _ = fixpoint(
        "dag_path_counts",
        base.select("id", F.col("s").alias("p")),
        propagate,
        F.sum("p"),
        max_rounds=max_rounds,
    )
    # isolated nodes (in graph.ids() but touching no edge) are trivially
    # in-degree-0 sources: exactly one path (the empty one) reaches them —
    # same convention as sibling operators (k4_counts, role_features) that
    # left-join the full id universe instead of the edge-endpoint set
    isolated = (
        graph.ids()
        .select("id")
        .join(nodes, "id", "left_anti")
        .select("id", F.lit(1).cast("long").alias("p"))
    )
    return state.unionByName(isolated).select(
        F.col("id").alias("node"), F.col("p").alias("n_paths")
    )
