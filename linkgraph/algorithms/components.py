"""Weakly connected components — iterative min-label hash-join propagation.

Semantics match the reference exactly
(raphtory/src/algorithms/components/connected_components.rs:36-97):

- labels are external node ids (numeric names parse to their value);
- init: ``label(v) = min(id(v), min id over BOTH-direction neighbours)``
  (connected_components.rs:45-51);
- each superstep: ``label(v) = min(prev label over BOTH-neighbours)`` taken
  only if smaller than v's own previous label (:53-68); fixpoint when no
  node changes. The component id is therefore the minimum external id in
  the component.

Spark-first execution: the undirected adjacency, plus a self-message edge
per node, is hash-partitioned once and cached; each superstep is one join +
min-aggregate whose self-message also yields the node's previous label as
``prev_component``, so the "changed" count is a one-row aggregate of the
new state, taken by the one Spark job that computes and cuts it
(:func:`linkgraph.superstep.supersteps`; checkpoints keep ``id,
component``).  Convergence takes O(diameter)
supersteps — fine for web-scale link graphs (small diameter); a
large-star/small-star contraction variant is a possible follow-up that
must preserve min-id labels.
"""

from __future__ import annotations

import sys
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.superstep import (
    CheckpointStore,
    fixpoint,
    iteration_conf,
    lazy_cut,
    pick_partitions,
    release_cut,
    seminaive,
    supersteps,
)


def weakly_connected_components(
    graph: LinkGraph,
    max_iter: int = sys.maxsize,
    partitions: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    kernel: str = "auto",
    init_labels: DataFrame | None = None,
    iters_out: dict | None = None,
) -> DataFrame:
    """Run WCC; returns ``(name, id, component)``.

    ``kernel``: ``"superstep"`` — distributed min-label propagation (scale
    path, O(diameter) supersteps); ``"local"`` — gathered edge list +
    vectorized pointer-jumping on the driver, identical min-id labels
    (see pagerank.DRIVER_KERNEL_MAX); ``"auto"`` picks ``local`` under the
    budget when no checkpointing is requested.

    ``init_labels`` (``(id, component)`` from a previous run) warm-starts
    the propagation — the incremental temporal-analytics path: when a
    window EXPANDS (edges only arrive), seeding from the previous
    window's labels collapses already-discovered chains, so the loop
    needs supersteps proportional to the NEW data's diameter, and the
    fixpoint provably equals the cold run (every previous label is the
    id of a node still in the same component).  Soundness contract:
    label values must be ids of CURRENT nodes — true for expanding
    windows / append-only ingestion; after deletions run cold instead
    (a departed minimum would leak a stale label).  Forces the
    superstep kernel.  ``iters_out['iterations']`` reports the
    superstep count when a dict is passed.
    """
    spark = graph.spark

    ids = graph.ids().persist()
    if kernel == "auto":
        from linkgraph.algorithms.pagerank import DRIVER_KERNEL_MAX

        if init_labels is not None:
            kernel = "superstep"
        else:
            n_ids = ids.count()
            m = graph.edge_ids().count()
            kernel = (
                "local"
                if checkpoint_dir is None and max(n_ids, m) <= DRIVER_KERNEL_MAX
                else "superstep"
            )
    if kernel == "local":
        res = _wcc_local(spark, ids, graph.edge_ids())
        return res.join(ids, "id").select("name", "id", "component")
    # adjacency + a self-message edge per node: folding the node's own label
    # into the min as a message keeps each superstep's plan reading the
    # state once, and the self-message is the node's previous label
    raw_und = (
        graph.undirected_edge_ids()
        .unionByName(ids.select("id", F.col("id").alias("nbr_id")))
        .persist()
    )
    P = partitions or pick_partitions(spark, raw_und.count())
    with iteration_conf(spark, shuffle_partitions=P):
        # pre-sorted cache built under the loop conf (AQE off): elides the
        # adjacency-side Sort of the per-superstep sort-merge join
        und = (
            raw_und.repartition(P, "nbr_id").sortWithinPartitions("nbr_id").persist()
        )
        und.count()
        raw_und.unpersist()

        # init: own id; the first superstep then computes min(own, nbrs),
        # matching the reference's init (connected_components.rs:45-51).
        # A warm start projects the previous labels onto the current node
        # set (absentees seed with their own id) and keeps min(own, prev)
        # so the invariant label ≤ own-id holds from superstep 0.
        if init_labels is None:
            init = ids.select("id", F.col("id").alias("component"))
        else:
            prev = init_labels.select(
                "id", F.col("component").alias("_prev")
            )
            init = ids.join(prev, "id", "left").select(
                "id",
                F.least(
                    F.col("id"), F.coalesce("_prev", F.col("id"))
                ).alias("component"),
            )
        init = init.repartition(P, "id")

        store = CheckpointStore(spark, checkpoint_dir) if checkpoint_dir else None
        if store is not None:
            edge_sum = und.agg(
                F.sum(F.xxhash64("id", "nbr_id").bitwiseAND(F.lit(0xFFFFFFFF)))
            ).first()[0]
            meta = {"algorithm": "wcc", "edge_checksum": int(edge_sum or 0)}
            store.validate_meta(meta)
            store.write_meta(meta)

        def step(state, _row):
            # messages INTO v: neighbours' previous labels, plus the
            # self-message carrying v's own, kept as ``prev_component``
            labels = state.select(
                F.col("id").alias("nbr_id"), F.col("component").alias("nbr_label")
            )
            return (
                und.join(labels, "nbr_id")
                .groupBy("id")
                .agg(
                    F.min("nbr_label").alias("component"),
                    F.min(
                        F.when(F.col("nbr_id") == F.col("id"), F.col("nbr_label"))
                    ).alias("prev_component"),
                )
            )

        def save(it, state, row):
            store.save(
                state.drop("prev_component"), it,
                {"algorithm": "wcc", "changed": row["changed"]},
            )

        state, start = (init, 1) if store is None or not resume else store.resume(init)
        for it, state, row in supersteps(
            "wcc",
            state.select(
                "id", "component", F.lit(None).cast("long").alias("prev_component")
            ),
            step,
            F.count(
                F.when(F.col("component") < F.col("prev_component"), 1)
            ).alias("changed"),
            rounds=range(start, max_iter + 1),
            save=None if store is None else save,
        ):
            if iters_out is not None:
                iters_out["iterations"] = it
            if row["changed"] == 0:
                break
    return state.join(ids, "id").select("name", "id", "component")


def min_label_merge(pairs: DataFrame, name: str, max_rounds: int) -> DataFrame:
    """``(c, l)``: every endpoint ``c`` of the SYMMETRIC pair list ``(a, b)``
    labelled with the smallest id in its connected component.

    Distributed hook + pointer-jump rounds on :func:`fixpoint`: each round
    hooks every label to the minimum over its neighbours' labels (and its
    own), then shortcuts ``l <- label[l]``.  Labels only decrease, so the
    exact (decimal) label sum is the fixpoint witness — no row-diff join.
    Every label reaches its component minimum within diameter rounds, so
    ``max_rounds`` = largest component diameter + 1 always suffices.
    Pass ``pairs`` cached or checkpointed: every round reads it.
    """

    def hook_jump(m: DataFrame) -> DataFrame:
        nbr_min = (
            pairs.join(m.select(F.col("c").alias("b"), F.col("l").alias("lb")), "b")
            .groupBy("a")
            .agg(F.min("lb").alias("nm"))
        )
        hooked = m.join(
            nbr_min.select(F.col("a").alias("c"), "nm"), "c", "left"
        ).select("c", F.least("l", F.coalesce("nm", F.col("l"))).alias("l"))
        return hooked.join(
            hooked.select(F.col("c").alias("l"), F.col("l").alias("l2")),
            "l",
            "left",
        ).select("c", F.coalesce("l2", F.col("l")).alias("l"))

    own = pairs.select(F.col("a").alias("c")).distinct().select(
        "c", F.col("c").alias("l")
    )
    m, _ = fixpoint(
        name,
        own,
        hook_jump,
        F.sum(F.col("l").cast("decimal(38,0)")),
        max_rounds=max_rounds,
    )
    return m


def _wcc_local(spark, ids, edge_ids) -> DataFrame:
    """Gathered WCC — min-propagation + pointer jumping over dense indices.

    ``id_sorted`` is ascending, so the minimum dense index in a component
    maps back to the minimum external id — exactly the reference's label
    (connected_components.rs:36-97).  Each round scatters labels across
    edges both ways (``minimum.at``) then collapses label chains by
    repeated ``lab[lab]``; rounds needed = O(log diameter)."""
    import numpy as np
    import pandas as pd

    id_sorted = np.sort(ids.select("id").toPandas()["id"].to_numpy(np.int64))
    n = len(id_sorted)
    e = edge_ids.select("src_id", "dst_id").toPandas()
    src = np.searchsorted(id_sorted, e["src_id"].to_numpy(np.int64))
    dst = np.searchsorted(id_sorted, e["dst_id"].to_numpy(np.int64))

    lab = np.arange(n, dtype=np.int64)
    while True:
        new = lab.copy()
        np.minimum.at(new, dst, lab[src])
        np.minimum.at(new, src, lab[dst])
        while True:
            hop = new[new]
            if np.array_equal(hop, new):
                break
            new = hop
        if np.array_equal(new, lab):
            break
        lab = new
    return spark.createDataFrame(
        pd.DataFrame({"id": id_sorted, "component": id_sorted[lab]}),
        "id long, component long",
    )


def _directional_components(
    graph: LinkGraph, direction: str, max_iter: int = sys.maxsize
) -> DataFrame:
    """Transitive in/out reachability sets per node
    (components/in_components.rs:36-95, out_components.rs:35-95: per-node
    BFS over in-/out-neighbours collecting ancestor/descendant id sets).

    The reference runs one quadratic BFS per node; distributed we compute
    the full closure once as semi-naive Datalog — pair relation
    ``reach(node, member)`` grown frontier-by-frontier with the new pairs
    only (Δ join, :func:`~linkgraph.superstep.seminaive`, loud past
    ``max_iter``), so each superstep shuffles only undiscovered pairs.
    Returns ``(name, id, members array<long> sorted, n_members)``.  The
    closure can be quadratic in cluster size — same asymptotics as the
    reference, fine for the sparse DAG-ish graphs it's meant for.
    """
    ids = graph.ids().persist()
    e = graph.edge_ids()
    if direction == "in":
        # reach(v, m): m is an ancestor of v ⇒ walk edges dst→src
        step = e.select(F.col("dst_id").alias("id"), F.col("src_id").alias("member"))
    else:
        step = e.select(F.col("src_id").alias("id"), F.col("dst_id").alias("member"))
    hop = step.select(F.col("id").alias("prev"), F.col("member")).persist()

    def grow(frontier: DataFrame, seen: DataFrame) -> DataFrame:
        return (
            frontier.alias("f")
            .join(hop.alias("h"), F.col("f.member") == F.col("h.prev"))
            .select(F.col("f.id").alias("id"), F.col("h.member").alias("member"))
            .distinct()
            .join(seen, ["id", "member"], "left_anti")
        )

    # no self-filter: a node on a cycle (or with a self-loop) is a member of
    # its own in/out component, as in the reference's BFS
    with iteration_conf(graph.spark):
        seen, _ = seminaive(
            f"{direction}_components", step.distinct(), grow,
            DataFrame.unionByName, max_rounds=max_iter,
        )
    agg = seen.groupBy("id").agg(
        F.array_sort(F.collect_set("member")).alias("members"),
        F.count("*").alias("n_members"),
    )
    return ids.join(agg, "id", "left").select(
        "name",
        "id",
        F.coalesce("members", F.array().cast("array<long>")).alias("members"),
        F.coalesce("n_members", F.lit(0)).alias("n_members"),
    )


def in_components(graph: LinkGraph, max_iter: int = sys.maxsize) -> DataFrame:
    """Ancestor sets — ``(name, id, members, n_members)``."""
    return _directional_components(graph, "in", max_iter)


def out_components(graph: LinkGraph, max_iter: int = sys.maxsize) -> DataFrame:
    """Descendant sets — ``(name, id, members, n_members)``."""
    return _directional_components(graph, "out", max_iter)


def strongly_connected_components(graph: LinkGraph) -> DataFrame:
    """SCC labels — ``(name, id, scc)`` where ``scc`` is the minimum
    external id in the node's strongly connected component.

    The reference (components/scc.rs:102-175) marks cycle nodes by per-node
    out-closure then runs sequential Tarjan on the induced subgraph — a
    driver-bound design.  Distributed we run FORWARD-BACKWARD COLORING
    (Fleischer et al., the standard BSP SCC scheme): per round, (1) min-id
    labels propagate along out-edges to a fixpoint, colouring every node
    with the smallest id that reaches it; (2) from each colour's root
    (id == colour) the colour propagates backward along in-edges, staying
    inside the colour — the backward-reached set is exactly the root's SCC;
    (3) peel those nodes and repeat on the remainder.  Each round is pure
    frontier joins; rounds ≤ the longest chain of SCCs, fixpoints ≤
    diameter.  Labels agree with Tarjan exactly (same components, min-id
    naming), so groups match scc.rs's test output.
    """
    spark = graph.spark
    ids = graph.ids().persist()
    all_edges = graph.edge_ids().filter(
        F.col("src_id") != F.col("dst_id")
    ).persist()
    all_edges.count()

    assigned = spark.createDataFrame([], "id long, scc long").localCheckpoint()
    active = ids.select("id").localCheckpoint()
    edges = all_edges.localCheckpoint()

    # the steps read the current peel round's ``edges`` and ``color``
    def push_min(color: DataFrame) -> DataFrame:
        return (
            edges.join(
                color.select(F.col("id").alias("src_id"), F.col("color").alias("c")),
                "src_id",
            )
            .select(F.col("dst_id").alias("id"), "c")
            .unionByName(color.select("id", F.col("color").alias("c")))
            .groupBy("id")
            .agg(F.min("c").alias("color"))
        )

    def sweep_back(frontier: DataFrame, member: DataFrame) -> DataFrame:
        return (
            edges.join(frontier.select(F.col("id").alias("dst_id"), "scc"), "dst_id")
            .select(F.col("src_id").alias("id"), "scc")
            .distinct()
            .join(color, "id")
            .filter(F.col("color") == F.col("scc"))
            .select("id", "scc")
            .join(member, "id", "left_anti")
        )

    with iteration_conf(spark):
        while active.limit(1).count() > 0:
            # (1) forward min-id colouring to fixpoint; colours only
            # decrease, so the exact colour sum is the witness
            color, _ = fixpoint(
                "scc.colour", active.select("id", F.col("id").alias("color")),
                push_min, F.sum(F.col("color").cast("decimal(38,0)")),
                max_rounds=sys.maxsize,
            )
            # (2) backward sweep from roots, constrained to the same colour
            roots = color.filter(F.col("id") == F.col("color"))
            member, _ = seminaive(
                "scc.sweep", roots.select("id", F.col("color").alias("scc")),
                sweep_back, DataFrame.unionByName, max_rounds=sys.maxsize,
            )
            # (3) peel the found SCCs and iterate on the remainder
            assigned = assigned.unionByName(member).localCheckpoint()
            active = active.join(member, "id", "left_anti").localCheckpoint()
            edges = (
                edges.join(
                    active.select(F.col("id").alias("src_id")), "src_id", "left_semi"
                )
                .join(active.select(F.col("id").alias("dst_id")), "dst_id", "left_semi")
                .localCheckpoint()
            )
            release_cut(color)
            release_cut(member)
    return ids.join(assigned, "id", "left").select(
        "name", "id", F.coalesce("scc", "id").alias("scc")
    )


def scc_groups(graph: LinkGraph) -> DataFrame:
    """Non-trivial SCCs as sorted member arrays — the reference's result
    shape (scc.rs returns only components of cycle nodes): components of
    size > 1, plus self-loop singletons."""
    labels = strongly_connected_components(graph)
    self_loops = (
        graph.edge_ids()
        .filter(F.col("src_id") == F.col("dst_id"))
        .select(F.col("src_id").alias("id"))
        .distinct()
    )
    grouped = labels.groupBy("scc").agg(
        F.array_sort(F.collect_list("id")).alias("members"),
        F.count("*").alias("n"),
    )
    looped = grouped.join(
        self_loops.withColumnRenamed("id", "scc"), "scc", "left_semi"
    )
    return (
        grouped.filter(F.col("n") > 1)
        .unionByName(looped.filter(F.col("n") == 1))
        .select("scc", "members", "n")
    )


def condensation(graph: LinkGraph, labels: DataFrame | None = None) -> DataFrame:
    """The SCC condensation DAG — ``(src_scc, dst_scc, n_edges)``: one row
    per ordered pair of DISTINCT strongly connected components joined by
    at least one edge, with the count of logical edges between them.

    Contracting every SCC of :func:`strongly_connected_components` (min-id
    labels) yields an acyclic quotient — the standard reachability /
    scheduling skeleton (components/scc.rs's group output is the node-side
    view of the same structure).  Shape: two label joins against the edge
    table plus one hash aggregate; the SCC labels themselves come from the
    forward-backward colouring loop, so no step is driver-bound.

    Pass precomputed ``labels`` (``(id, scc)`` rows) to reuse an existing
    SCC run; otherwise they are computed here.
    """
    if labels is None:
        labels = strongly_connected_components(graph)
    labels = labels.select("id", "scc")
    e = graph.edge_ids().select("src_id", "dst_id").distinct()
    lab_src = labels.select(F.col("id").alias("src_id"), F.col("scc").alias("src_scc"))
    lab_dst = labels.select(F.col("id").alias("dst_id"), F.col("scc").alias("dst_scc"))
    return (
        e.join(lab_src, "src_id")
        .join(lab_dst, "dst_id")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count("*").alias("n_edges"))
    )


def _reach_from_set(
    seeds: DataFrame, probe_edges: DataFrame, max_rounds: int = 256
) -> DataFrame:
    """All ids reachable from the seed SET (seeds included) following
    ``probe_edges`` rows ``(u, v)`` from u to v — frontier BFS with a
    single any-seed label, so state is one slim id column (NOT per-seed
    distances: reach-from-set needs |V| rows, not |seeds|x|V|).

    ``probe_edges`` must arrive hash-partitioned on ``u`` (the caller
    partitions once per direction and reuses it across all fixpoints and
    rounds): the per-round join then exchanges only the frontier id
    column to meet the edges' existing distribution — the edge table
    never re-shuffles, the same one-exchange-per-round discipline as the
    WCC/SCC superstep loops.  Converges when the frontier empties."""

    def expand(frontier: DataFrame, reached: DataFrame) -> DataFrame:
        return (
            frontier.join(probe_edges, frontier.id == F.col("u"))
            .select(F.col("v").alias("id"))
            .distinct()
            .join(reached, "id", "left_anti")
        )

    reached, _ = seminaive(
        "_reach_from_set", seeds.select("id").distinct(), expand,
        DataFrame.unionByName, max_rounds=max_rounds,
    )
    return reached


def bowtie_decomposition(graph: LinkGraph, max_rounds: int = 256) -> DataFrame:
    """Broder bow-tie decomposition of a directed graph (Broder et al.,
    "Graph structure in the Web", WWW 2000) — ONE row per class:
    ``(cls, n_nodes)`` over the eight standard classes:

    - ``SCC``: the largest strongly connected component (ties broken by
      the smaller ``scc`` label, i.e. the component holding the smallest
      node id — engine-independent);
    - ``IN``: nodes that reach the SCC but are not in it;
    - ``OUT``: nodes the SCC reaches, not in it;
    - ``TUBE``: reachable from IN and reaching OUT, bypassing the SCC;
    - ``TENDRIL_IN``: reachable from IN only;
    - ``TENDRIL_OUT``: reaching OUT only;
    - ``OTHER``: in the SCC's weak component but none of the above;
    - ``DISCONNECTED``: outside the SCC's weak component.

    All eight rows are always emitted (0 when empty, also on an empty
    graph) so the schema and cardinality are fixed.  Cost: one SCC run
    (Fleischer fw-bw coloring, :func:`strongly_connected_components`) plus
    five reach-from-set frontier BFS fixpoints.  The slim edge table is
    hash-partitioned ONCE per probe direction (forward / backward / undirected) and
    reused across every fixpoint and round, so each round exchanges only
    the frontier id column — the decomposition scales exactly like
    WCC/SCC; nothing in the plan is proportional to |V|^2 (the closure
    lives only in the DuckDB oracle).
    The flagship web-graph structural readout for a repo-link graph:
    mirrors the reference's SCC/in/out-component trio (scc.rs,
    in_components.rs, out_components.rs) composed into the standard
    macro-structure summary the reference never shipped.
    """
    spark = graph.spark
    ids = graph.ids().select("id").persist()
    edges = graph.edge_ids().filter(
        F.col("src_id") != F.col("dst_id")
    ).persist()
    P = pick_partitions(spark, edges.count())
    with iteration_conf(spark, shuffle_partitions=P):
        fwd_e = (
            edges.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
            .repartition(P, "u")
            .persist()
        )
        bwd_e = (
            edges.select(F.col("dst_id").alias("u"), F.col("src_id").alias("v"))
            .repartition(P, "u")
            .persist()
        )
        und_e = fwd_e.unionByName(bwd_e).repartition(P, "u").persist()
        edges.unpersist()
        scc = strongly_connected_components(graph)
        top = (
            scc.groupBy("scc").count().orderBy(F.desc("count"), "scc").limit(1).collect()
        )
        # None: empty graph, every class empty
        largest = top[0]["scc"] if top else None
        core = (
            scc.filter(F.col("scc") == F.lit(largest))
            .select("id")
            .localCheckpoint(eager=True)
        )
        fwd = _reach_from_set(core, fwd_e, max_rounds)
        bwd = _reach_from_set(core, bwd_e, max_rounds)
        weak = _reach_from_set(core, und_e, max_rounds)
        out_ = fwd.join(core, "id", "left_anti").localCheckpoint(eager=True)
        in_ = bwd.join(core, "id", "left_anti").localCheckpoint(eager=True)
        disconnected = ids.join(weak, "id", "left_anti")
        t, (n_t,) = lazy_cut(
            weak.join(core, "id", "left_anti")
            .join(in_, "id", "left_anti")
            .join(out_, "id", "left_anti"),
            F.count(F.lit(1)),
        )
        # no tendril candidates (the common case on dense graphs, where the
        # weak component is exactly SCC + IN + OUT): skip the two last BFS runs
        from_in = to_out = t
        if n_t:
            from_in = t.join(_reach_from_set(in_, fwd_e, max_rounds), "id")
            to_out = t.join(_reach_from_set(out_, bwd_e, max_rounds), "id")
        tube = from_in.join(to_out, "id")
        tendril_in = from_in.join(to_out, "id", "left_anti")
        tendril_out = to_out.join(from_in, "id", "left_anti")
        other = t.join(from_in, "id", "left_anti").join(to_out, "id", "left_anti")

        classes = [
            ("SCC", core),
            ("IN", in_),
            ("OUT", out_),
            ("TUBE", tube),
            ("TENDRIL_IN", tendril_in),
            ("TENDRIL_OUT", tendril_out),
            ("OTHER", other),
            ("DISCONNECTED", disconnected),
        ]
        # every node is in one class: one job counts them all
        members = reduce(
            DataFrame.unionByName, [df.select(F.lit(c).alias("cls")) for c, df in classes]
        )
        got = dict(members.groupBy("cls").count().collect())
    for e in (fwd_e, bwd_e, und_e):
        e.unpersist()
    ids.unpersist()
    return spark.createDataFrame(
        [(c, got.get(c, 0)) for c, _ in classes], "cls string, n_nodes long"
    )
