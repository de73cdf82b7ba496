"""HITS (hubs & authorities) — iterative message joins + global normalisation.

Semantics match the reference exactly
(raphtory/src/algorithms/centrality/hits.rs:49-176):

- init ``hub = auth = 1.0`` for every node (hits.rs:29-36);
- per superstep (Jacobi — both reads are the previous iteration):
  ``recv_hub(v)  = Σ_{u ∈ in(v)}  hub(u)``   (step2, hits.rs:78-88 — each
  node pushes its hub score to its deduplicated out-neighbours),
  ``recv_auth(v) = Σ_{w ∈ out(v)} auth(w)``  (each node pushes its auth
  score to its in-neighbours);
- normalise by the **global received totals** (step3+4, hits.rs:90-117):
  ``auth(v) = recv_hub(v) / Σ_x recv_hub(x)``,
  ``hub(v)  = recv_auth(v) / Σ_x recv_auth(x)``;
- converge when ``max|Δhub| ≤ 0.01`` AND ``max|Δauth| ≤ 0.01``
  (step5, hits.rs:119-131); default 20 iterations
  (python/packages/algorithms.rs hits wrapper).

Spark-first: both message families ride ONE union'd, pre-partitioned message
-edge table (``from_id → to_id`` tagged by kind), so each superstep is a
single join + hash aggregate, joined back to the state, and one one-row
aggregate of the new state (totals + convergence) — one Spark job per
superstep (:func:`linkgraph.superstep.supersteps`).  A round is normalised
by its own totals, which its job only yields at the end, so the next
round's job normalises it and measures its change: the loop runs one
message round past the converged one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.superstep import iteration_conf, pick_partitions, supersteps


def hits(
    graph: LinkGraph,
    max_iter: int = 20,
    tol: float = 0.01,
    partitions: int | None = None,
    broadcast_threshold: int = 1_000_000,
    iters_out: dict | None = None,
    kernel: str = "auto",
) -> DataFrame:
    """Run HITS; returns ``(name, id, hub, auth)``.

    ``kernel``: ``"superstep"`` — distributed BSP loop (scale path);
    ``"local"`` — gathered-CSR numpy power iteration, identical semantics
    (see pagerank.DRIVER_KERNEL_MAX for the budget rationale); ``"auto"``
    picks ``local`` under the budget."""
    spark = graph.spark

    ids = graph.ids().persist()
    n = ids.count()
    if n == 0:
        return ids.select(
            "name", "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )

    e = graph.edge_ids()
    if kernel == "auto":
        from linkgraph.algorithms.pagerank import DRIVER_KERNEL_MAX

        m = e.count()
        kernel = "local" if max(n, m) <= DRIVER_KERNEL_MAX else "superstep"
    if kernel == "local":
        res = _hits_local(spark, ids, e, n, max_iter, tol, iters_out)
        return res.join(ids, "id").select("name", "id", "hub", "auth")
    # message edges: kind 'a' carries hub(u) from u to each out-neighbour v
    # (feeds auth(v)); kind 'h' carries auth(w) from w to each in-neighbour v
    # (feeds hub(v)).  Zero-weight self-messages keep every node in the
    # aggregate so isolated/one-sided nodes stay present with score 0.
    msgs_edges = (
        e.select(
            F.col("src_id").alias("from_id"),
            F.col("dst_id").alias("to_id"),
            F.lit("a").alias("kind"),
            F.lit(1.0).alias("w"),
        )
        .unionByName(
            e.select(
                F.col("dst_id").alias("from_id"),
                F.col("src_id").alias("to_id"),
                F.lit("h").alias("kind"),
                F.lit(1.0).alias("w"),
            )
        )
        .unionByName(
            ids.select(
                F.col("id").alias("from_id"),
                F.col("id").alias("to_id"),
                F.lit("a").alias("kind"),
                F.lit(0.0).alias("w"),
            )
        )
        .persist()
    )
    P = partitions or pick_partitions(spark, msgs_edges.count())
    with iteration_conf(spark, shuffle_partitions=P):
        raw_msgs = msgs_edges
        msgs_edges = (
            msgs_edges.repartition(P, "from_id")
            .sortWithinPartitions("from_id")
            .persist()
        )
        msgs_edges.count()
        raw_msgs.unpersist()  # the pre-repartition copy is no longer needed

        use_broadcast = n <= broadcast_threshold

        def sent(state, row):
            # the scores ``state``'s round ends with: what it received,
            # normalised by the round's own totals (its witness row); the
            # initial state received nothing (NULL): the reference's 1.0 seeds
            th = (row["th"] if row else None) or 1.0
            ta = (row["ta"] if row else None) or 1.0
            return state.select(
                "id",
                F.coalesce(F.col("recv_auth") / F.lit(ta), F.lit(1.0)).alias("hub"),
                F.coalesce(F.col("recv_hub") / F.lit(th), F.lit(1.0)).alias("auth"),
                F.col("hub").alias("prev_hub"),
                F.col("auth").alias("prev_auth"),
            )

        def step(state, row):
            cur = sent(state, row)
            sender = cur.select(F.col("id").alias("from_id"), "hub", "auth")
            if use_broadcast:
                sender = F.broadcast(sender)
            recv = (
                msgs_edges.join(sender, "from_id")
                .groupBy(F.col("to_id").alias("id"))
                .agg(
                    F.sum(
                        F.when(F.col("kind") == "a", F.col("w") * F.col("hub"))
                    ).alias("recv_hub"),
                    F.sum(
                        F.when(F.col("kind") == "h", F.col("w") * F.col("auth"))
                    ).alias("recv_auth"),
                )
            )
            return cur.join(recv, "id", "left").select(
                "id",
                "hub",
                "auth",
                "prev_hub",
                "prev_auth",
                F.coalesce("recv_hub", F.lit(0.0)).alias("recv_hub"),
                F.coalesce("recv_auth", F.lit(0.0)).alias("recv_auth"),
            )

        # Round r's state carries the scores round r sent (round r-1's
        # result), the ones before them, and what round r received.  Its
        # totals normalise round r only inside round r+1's job, so that job
        # measures round r-1's change: convergence shows one round late,
        # and the converged round's scores are the state's ``hub, auth``.
        state = ids.select(
            "id",
            *[
                F.lit(None).cast("double").alias(c)
                for c in ("hub", "auth", "prev_hub", "prev_auth", "recv_hub", "recv_auth")
            ],
        ).repartition(P, "id")
        row = None
        for it, state, row in supersteps(
            "hits",
            state,
            step,
            F.sum("recv_hub").alias("th"),
            F.sum("recv_auth").alias("ta"),
            F.max(F.abs(F.col("hub") - F.col("prev_hub"))).alias("dh"),
            F.max(F.abs(F.col("auth") - F.col("prev_auth"))).alias("da"),
            rounds=range(1, max_iter + 1),
        ):
            if it > 1 and row["dh"] <= tol and row["da"] <= tol:
                it -= 1  # that round converged
                break
        else:
            state = sent(state, row)  # the cap: the last round's scores
        if iters_out is not None and row is not None:
            iters_out["iterations"] = it
    return state.join(ids, "id").select("name", "id", "hub", "auth")


def _hits_local(spark, ids, edge_ids, n, max_iter, tol, iters_out=None):
    """Gathered-CSR HITS — hits.rs:49-131 semantics in two ``bincount``
    scatters per superstep; same convergence rule (max-|Δ| on BOTH families
    ≤ tol, checked after global-total normalisation)."""
    import numpy as np
    import pandas as pd

    id_sorted = np.sort(ids.select("id").toPandas()["id"].to_numpy(np.int64))
    e = edge_ids.select("src_id", "dst_id").toPandas()
    src = np.searchsorted(id_sorted, e["src_id"].to_numpy(np.int64))
    dst = np.searchsorted(id_sorted, e["dst_id"].to_numpy(np.int64))

    hub = np.ones(n)
    auth = np.ones(n)
    for it in range(1, max_iter + 1):
        if iters_out is not None:
            iters_out["iterations"] = it
        recv_hub = np.bincount(dst, weights=hub[src], minlength=n)
        recv_auth = np.bincount(src, weights=auth[dst], minlength=n)
        th = float(recv_hub.sum()) or 1.0
        ta = float(recv_auth.sum()) or 1.0
        new_auth = recv_hub / th
        new_hub = recv_auth / ta
        dh = float(np.abs(new_hub - hub).max()) if n else 0.0
        da = float(np.abs(new_auth - auth).max()) if n else 0.0
        hub, auth = new_hub, new_auth
        if dh <= tol and da <= tol:
            break
    return spark.createDataFrame(
        pd.DataFrame({"id": id_sorted, "hub": hub, "auth": auth})
    )


def salsa(graph: LinkGraph) -> DataFrame:
    """SALSA hub/authority scores (Lempel & Moran, WWW 2000) —
    ``(node, kind, deg, comp_nodes, comp_deg_sum, score)``: one ``auth``
    row per node with in-degree > 0 and one ``hub`` row per node with
    out-degree > 0.

    SALSA's Markov chains (authority chain: back along a random in-link,
    forward along a random out-link; hub chain symmetric) have a CLOSED
    FORM stationary distribution — within each connected component of the
    bipartite support graph the stationary weight is proportional to the
    node's degree, and components are weighted by their share of the
    side's nodes (Lempel–Moran §3.2):

        score(v) = (|C_v ∩ side| / |side|) · deg(v) / Σ_{w ∈ C_v ∩ side} deg(w)

    so no power iteration is needed: the whole computation is degree
    aggregates + ONE connected-components run over the bipartite support
    (hub copies 2u, authority copies 2v+1 — integer id encoding keeps the
    standard WCC kernel reusable), then two broadcast-size joins.  The
    score is a single IEEE division of two exact integer products
    (exact for deg products < 2^53), so the float surface is bit-exact
    across engines.

    This is the degree-normalised cousin of :func:`hits` — resistant to
    the TKC (tightly-knit community) effect that inflates HITS scores.
    """
    from linkgraph.algorithms.components import weakly_connected_components

    spark = graph.spark
    e = graph.edge_ids().persist()
    # bipartite support: hub copy 2u  --  authority copy 2v+1
    from linkgraph.graph import LinkGraph as _LG

    support = e.select(
        (F.col("src_id") * 2).cast("string").alias("src"),
        (F.col("dst_id") * 2 + 1).cast("string").alias("dst"),
        F.lit(0).cast("long").alias("time"),
    )
    comp = weakly_connected_components(_LG(support)).select(
        F.col("id").alias("bid"), "component"
    )
    out_d = e.groupBy(F.col("src_id").alias("node")).agg(
        F.count("*").alias("deg")
    ).withColumn("kind", F.lit("hub")).withColumn(
        "bid", F.col("node") * 2
    )
    in_d = e.groupBy(F.col("dst_id").alias("node")).agg(
        F.count("*").alias("deg")
    ).withColumn("kind", F.lit("auth")).withColumn(
        "bid", F.col("node") * 2 + 1
    )
    sides = out_d.unionByName(in_d).join(comp, "bid")
    per_comp = sides.groupBy("kind", "component").agg(
        F.count("*").alias("comp_nodes"), F.sum("deg").alias("comp_deg_sum")
    )
    per_side = sides.groupBy("kind").agg(F.count("*").alias("side_nodes"))
    return (
        sides.join(F.broadcast(per_comp), ["kind", "component"])
        .join(F.broadcast(per_side), "kind")
        .select(
            "node",
            "kind",
            F.col("deg").cast("long").alias("deg"),
            F.col("comp_nodes").cast("long").alias("comp_nodes"),
            F.col("comp_deg_sum").cast("long").alias("comp_deg_sum"),
            F.round(
                (F.col("comp_nodes") * F.col("deg")).cast("double")
                / (F.col("side_nodes") * F.col("comp_deg_sum")).cast("double"),
                6,
            ).alias("score"),
        )
    )
