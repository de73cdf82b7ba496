"""k-core — iterative peeling on the undirected simple graph.

Matches raphtory/src/algorithms/cores/k_core.rs:43-118: a node is alive
iff it has ≥ k alive BOTH-direction distinct neighbours; start from
degree ≥ k and peel until stable. ``k_core_subgraph`` returns the induced
subgraph view (k_core.rs:104-118).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, persist_once
from linkgraph.superstep import (
    fixpoint,
    iteration_conf,
    lazy_cut,
    pick_partitions,
    release_cut,
)


def k_core_ids(graph: LinkGraph, k: int, max_iter: int = sys.maxsize) -> DataFrame:
    """Ids of nodes in the k-core — ``(id)``.

    ``max_iter`` is a loud guard: the peel raises ``RuntimeError`` if it has
    not converged after that many rounds (the default never binds)."""
    with iteration_conf(graph.spark):
        return _peel(graph, k, max_iter)


def _peel(graph: LinkGraph, k: int, max_iter: int) -> DataFrame:
    und = graph.undirected_edge_ids()
    release_und = persist_once(und)

    def peel(alive: DataFrame) -> DataFrame:
        return (
            und.join(alive, "id", "left_semi")
            .join(alive.withColumnRenamed("id", "nbr_id"), "nbr_id", "left_semi")
            .groupBy("id")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select("id")
        )

    alive = (
        und.groupBy("id").agg(F.count("*").alias("d")).filter(F.col("d") >= k).select("id")
    )
    alive, _ = fixpoint(
        "k_core_ids", alive, peel, F.count("*"), max_rounds=max_iter
    )
    release_und()
    return alive


def k_truss_edges(graph: LinkGraph, k: int, max_iter: int = sys.maxsize) -> DataFrame:
    """Edges of the k-truss — ``(lo, hi)``, canonical lo<hi orientation.

    The k-truss is the maximal subgraph where every edge closes ≥ k-2
    triangles *within the subgraph* — the edge analogue of the reference's
    k-core peel (k_core.rs:43-118), one rung up the cohesion ladder.
    Peeling loop: recompute per-edge support on the surviving edge set
    (one self-join per round, the triangle-intersection primitive,
    triangle_count.rs:82-107), drop edges below k-2, repeat to fixpoint.

    Support counting uses the BOTH-direction view of the surviving
    canonical edges; an inner join means zero-support edges drop
    implicitly for k ≥ 3.  The rounds run on :func:`fixpoint`, which cuts
    each round's lineage — round r's plan would otherwise nest r triangle
    joins.  ``max_iter`` is a loud guard: the peel raises ``RuntimeError``
    if it has not converged after that many rounds (the default never
    binds).
    """
    if k < 3:
        raise ValueError("k-truss requires k >= 3")

    def peel(edges: DataFrame) -> DataFrame:
        und = edges.select(F.col("lo").alias("id"), F.col("hi").alias("nbr")).unionByName(
            edges.select(F.col("hi").alias("id"), F.col("lo").alias("nbr"))
        )
        a = und.select(F.col("id").alias("lo"), F.col("nbr").alias("w"))
        b = und.select(F.col("id").alias("hi"), F.col("nbr").alias("w"))
        return (
            edges.join(a, "lo")
            .join(b, ["hi", "w"])
            .groupBy("lo", "hi")
            .agg(F.count("*").alias("support"))
            .filter(F.col("support") >= k - 2)
            .select("lo", "hi")
        )

    with iteration_conf(graph.spark):
        edges, _ = fixpoint(
            "k_truss_edges",
            graph.canonical_edge_ids(),
            peel,
            F.count("*"),
            max_rounds=max_iter,
        )
    return edges


def hindex_stage(und: DataFrame, state: DataFrame) -> DataFrame:
    """One coreness superstep: join the (pre-partitioned) adjacency with
    the neighbour values and take each node's h-index as one hash
    aggregate — ``max_i min(i, v_i)`` over the values sorted descending,
    via an indexed transform (no window-sort pass).  Factored out so
    tests/test_plan_shape.py asserts the no-reshuffle property on the
    PRODUCTION plan, not a lookalike."""
    nbr_vals = und.join(
        state.select(F.col("id").alias("nbr_id"), "v"), "nbr_id"
    ).select("id", "v")
    return nbr_vals.groupBy("id").agg(
        F.array_max(
            F.transform(
                F.sort_array(F.collect_list("v"), asc=False),
                lambda x, i: F.least(i + F.lit(1), x),
            )
        )
        .cast("int")
        .alias("v")
    )


def coreness(graph: LinkGraph, max_iter: int = sys.maxsize) -> DataFrame:
    """Full core decomposition — ``(id, coreness)`` for every node.

    Distributed h-index fixpoint (Lü et al., "The H-index of a network
    node and its relation to degree and coreness", Nat. Commun. 2016):
    start from BOTH-degree and repeatedly set each node's value to the
    h-index of its neighbours' values (``max_i min(i, v_i)`` over values
    sorted descending); the fixpoint is exactly the peel-based coreness,
    with no sequential peel.  Values are non-increasing, so the one-row
    ``sum`` aggregate doubles as the convergence check (one driver action
    per iteration); the per-node h-index is one hash aggregate
    (:func:`hindex_stage`) that shuffles on ``id`` only.  ``max_iter`` is
    a loud guard: the fixpoint raises ``RuntimeError`` if it has not
    converged after that many rounds (the default never binds).

    Consistency with the reference's k-core (k_core.rs:43-118):
    ``coreness >= k``  ⇔  membership in ``k_core_ids(graph, k)``
    (asserted in test_centrality.py).
    """
    spark = graph.spark
    raw_und = graph.undirected_edge_ids()
    release_raw = persist_once(raw_und)
    P = pick_partitions(spark, raw_und.count())
    with iteration_conf(spark, shuffle_partitions=P):
        # the adjacency is the big, static side: hash-partition it on the
        # JOIN key once so every iteration's join re-shuffles only the
        # n-row state, never the m-row edge table (the pagerank cache
        # discipline; this took the sf0.1 bench wall 45.9s -> ~half)
        und = (
            raw_und.repartition(P, "nbr_id")
            .sortWithinPartitions("nbr_id")
            .persist()
        )
        und.count()
        release_raw()
        state, _ = fixpoint(
            "coreness",
            und.groupBy("id").agg(F.count("*").cast("int").alias("v")),
            lambda state: hindex_stage(und, state),
            F.sum("v"),
            max_rounds=max_iter,
        )
        und.unpersist()
    return state.withColumnRenamed("v", "coreness")


def onion_layers(graph: LinkGraph, max_rounds: int = 256) -> DataFrame:
    """Onion decomposition — ``(id, layer, coreness)`` for every node with
    at least one BOTH-direction neighbour.

    Batch min-degree peel (Hébert-Dufresne, Grochow & Allard, "Multi-scale
    structure and topological anomaly detection via a new network
    statistic: the onion decomposition", Sci. Rep. 2016): per round,
    ``k = max(k_prev, min alive degree)`` and EVERY node whose remaining
    degree is ≤ k peels simultaneously; ``layer`` is the 1-based round
    index, ``coreness`` the k in force when the node peeled.  The layer
    refines the core number — two nodes of equal coreness can sit in very
    different layers (periphery vs deep core), which is the
    core-periphery readout plain ``coreness`` cannot give.

    Because the peel removes min-degree nodes in batches, the coreness
    column is exactly the peel-based core number, so
    ``onion_layers(g).select('id', 'coreness')`` must equal
    ``coreness(g)`` — asserted in tests/test_centrality.py as a
    cross-kernel check against the h-index fixpoint.

    Scale shape: each round is one semi-joined degree aggregate (shuffles
    ``id``-keyed counts only, never the edge payload) plus one two-column
    driver scalar; round count = layer count (bounded by peel depth —
    tens on heavy-tailed graphs, but Θ(n) on a pure path, hence the loud
    ``max_rounds`` guard instead of a silent truncation).  Degree
    semantics are BOTH-distinct with self-loops counted once, matching
    ``NodeStore::degree`` (node_store.rs:245-257) and ``coreness``.
    """
    spark = graph.spark
    with iteration_conf(spark):
        und = graph.undirected_edge_ids()
        release_und = persist_once(und)
        alive_stats = (F.min("d"), F.count("*"))
        deg, (mind, n_alive) = lazy_cut(
            und.groupBy("id").agg(F.count("*").alias("d")), *alive_stats
        )
        k = 0
        layer = 0
        result: DataFrame | None = None
        while n_alive:
            layer += 1
            if layer > max_rounds:
                raise RuntimeError(
                    f"onion_layers: not converged after {max_rounds} rounds "
                    f"({n_alive} nodes alive) — raise max_rounds"
                )
            k = max(k, int(mind))
            # each round's layer slice is tiny (≤ n id rows): cut it so the
            # final union is flat and never re-derives a peeled deg
            peeled, (n_peel,) = lazy_cut(
                deg.filter(F.col("d") <= k).select(
                    "id",
                    F.lit(layer).cast("long").alias("layer"),
                    F.lit(k).cast("long").alias("coreness"),
                ),
                F.count("*"),
            )
            result = peeled if result is None else result.unionByName(peeled)
            # subtract formulation: a survivor's new degree is its old
            # degree minus its edges INTO the peeled layer, so the edge
            # table is only map-scanned against the (small, broadcast)
            # layer — never re-shuffled per round like a recount over the
            # survivor set would.  Zero-degree survivors (star centres)
            # fall out naturally at d = 0 and peel in a later round.
            pid = peeled.select(F.col("id").alias("nbr_id"))
            if n_peel <= 2_000_000:  # ~16 MB of longs — broadcastable
                pid = F.broadcast(pid)
            drops = und.join(pid, "nbr_id").groupBy("id").agg(
                F.count("*").alias("c")
            )
            old_deg = deg
            deg, (mind, n_alive) = lazy_cut(
                deg.filter(F.col("d") > k)
                .join(drops, "id", "left")
                .select(
                    "id",
                    (F.col("d") - F.coalesce("c", F.lit(0))).alias("d"),
                ),
                *alive_stats,
            )
            release_cut(old_deg)
        release_und()
        release_cut(deg)
    if result is None:
        schema = "id long, layer long, coreness long"
        return spark.createDataFrame([], schema)
    return result


def k_core_subgraph(graph: LinkGraph, k: int) -> LinkGraph:
    """Induced subgraph on the k-core node set."""
    ids = k_core_ids(graph, k)
    names = ids.join(graph.ids(), "id").select("name")
    return graph.subgraph(names)


def truss_decomposition(
    graph: LinkGraph, max_rounds: int = 64
) -> DataFrame:
    """Full truss decomposition — ``(lo, hi, trussness)`` for every
    canonical edge: the largest k such that the edge survives in the
    k-truss (edges in no triangle get the trivial trussness 2).

    Computed as the **local h-index-style fixpoint** (Sariyuce et al.,
    PVLDB 2018) rather than the ascending per-k peel: each edge starts
    at ``support + 2`` and synchronously updates to the largest k such
    that at least k-2 of its triangles have BOTH other edges at >= k —
    with triangle strengths ``rho = min(tau_f, tau_g)`` sorted
    descending, that is ``max_i min(rho_i, i + 2)``, the same indexed
    fold as the coreness h-index (:func:`hindex_stage`).  Updates are
    monotone non-increasing from the support bound, so the loop
    converges to the greatest fixpoint, which IS the trussness — in a
    handful of TOTAL rounds instead of sum-over-k peel rounds (the
    ascending peel pays Sigma_k rounds(k) of scheduler latency; this
    formulation measured ~10x faster on the same fixture).

    Shape per round: the triangle-edge incidence (computed ONCE, 3 rows
    per triangle) joins the tau state twice, one per-edge sorted fold,
    one sum-aggregate convergence check — state and incidence are slim
    id columns only.  Loud ``max_rounds`` guard.
    """
    spark = graph.spark
    with iteration_conf(spark):
        edges = graph.canonical_edge_ids().localCheckpoint(eager=True)
        e12 = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        e23 = edges.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
        e13 = edges.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
        tri = e12.join(e23, "v").join(e13, ["u", "w"])
        # incidence: each triangle contributes one row per member edge,
        # carrying the OTHER two edges' keys
        inc = (
            tri.select(
                F.col("u").alias("lo"), F.col("v").alias("hi"),
                F.col("u").alias("o1l"), F.col("w").alias("o1h"),
                F.col("v").alias("o2l"), F.col("w").alias("o2h"),
            )
            .unionByName(
                tri.select(
                    F.col("u").alias("lo"), F.col("w").alias("hi"),
                    F.col("u").alias("o1l"), F.col("v").alias("o1h"),
                    F.col("v").alias("o2l"), F.col("w").alias("o2h"),
                )
            )
            .unionByName(
                tri.select(
                    F.col("v").alias("lo"), F.col("w").alias("hi"),
                    F.col("u").alias("o1l"), F.col("v").alias("o1h"),
                    F.col("u").alias("o2l"), F.col("w").alias("o2h"),
                )
            )
            .localCheckpoint(eager=True)
        )
        state = edges.join(
            inc.groupBy("lo", "hi").agg(F.count("*").alias("sup")),
            ["lo", "hi"],
            "left",
        ).select(
            "lo", "hi",
            (F.coalesce("sup", F.lit(0)) + F.lit(2)).cast("long").alias("tau"),
        )

        def refine(state: DataFrame) -> DataFrame:
            rho = (
                inc.join(
                    state.select(
                        F.col("lo").alias("o1l"), F.col("hi").alias("o1h"),
                        F.col("tau").alias("t1"),
                    ),
                    ["o1l", "o1h"],
                )
                .join(
                    state.select(
                        F.col("lo").alias("o2l"), F.col("hi").alias("o2h"),
                        F.col("tau").alias("t2"),
                    ),
                    ["o2l", "o2h"],
                )
                .select("lo", "hi", F.least("t1", "t2").alias("rho"))
            )
            hvals = rho.groupBy("lo", "hi").agg(
                F.array_max(
                    F.transform(
                        F.reverse(F.array_sort(F.collect_list("rho"))),
                        lambda x, i: F.least(x, i + F.lit(3)),
                    )
                ).alias("h")
            )
            return state.join(hvals, ["lo", "hi"], "left").select(
                "lo", "hi",
                F.greatest(
                    F.lit(2).cast("long"), F.coalesce("h", F.lit(2))
                ).alias("tau"),
            )

        state, _ = fixpoint(
            "truss_decomposition",
            state,
            refine,
            F.sum("tau"),
            max_rounds=max_rounds,
        )
    return state.select("lo", "hi", F.col("tau").alias("trussness"))
