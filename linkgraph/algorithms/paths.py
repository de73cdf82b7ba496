"""Pathing algorithms: BFS SSSP, Dijkstra, temporal reachability.

Reference semantics:

- ``single_source_shortest_path`` (pathing/single_source_shortest_path.rs:26-80):
  unweighted BFS over BOTH-direction deduplicated neighbours, one path per
  node, optional ``cutoff`` on the hop count.  The reference keeps the
  *first-discovered* path, which depends on Rust HashMap iteration order and
  is not deterministic; we keep the **lexicographically smallest** path at
  each depth so results are reproducible at any parallelism (hop counts are
  identical either way).
- ``dijkstra_single_source_shortest_paths`` (pathing/dijkstra.rs:49-175):
  binary-heap Dijkstra over OUT-edges; edge weight is the edge property's
  latest temporal value (``properties().get`` at :155).  Distributed
  execution is iterative relaxation (Bellman-Ford supersteps) — the fixpoint
  is the same minimum cost; equal-cost path ties again break
  lexicographically instead of by heap order.
- ``temporally_reachable_nodes`` (pathing/temporal_reachability.rs:69-204):
  taint BFS from seed nodes at ``start_time``; a tainted node with earliest
  taint time ``e`` re-sends every out-edge EVENT with ``t ≥ e`` (``window(e,
  MAX)``); receivers accumulate the distinct ``(event_time, src_name)``
  message set; seeds record ``(start_time, "start")``; stop nodes receive
  but never propagate; the loop ends when a superstep taints no new node or
  after ``max_hops`` supersteps (step3 check, :169-181).

All three are frontier-join iterations: the frontier DataFrame joins the
(pre-partitioned, cached) adjacency each superstep — the distributed
analogue of the reference's per-level HashMap sweeps.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.superstep import (
    fixpoint, iteration_conf, lazy_cut, mark_cut, pick_partitions, release_cut,
    replace_by_id, rounds, seminaive,
)


def single_source_shortest_path(
    graph: LinkGraph, source: str, cutoff: int | None = None
) -> DataFrame:
    """BFS shortest paths; returns ``(name, id, distance, path array<string>)``."""
    spark = graph.spark
    source = str(source)
    if not graph.has_node(source):
        return spark.createDataFrame(
            [], "name string, id long, distance int, path array<string>"
        )
    ids = graph.ids().persist()
    adj = (
        graph.undirected_edge_ids()
        .join(ids.select(F.col("id").alias("nbr_id"), F.col("name").alias("nbr_name")),
              "nbr_id")
        .persist()
    )

    source_row = ids.filter(F.col("name") == source).select(
        "id", F.lit(0).alias("distance"), F.array(F.lit(source)).alias("path")
    )

    def expand(frontier: DataFrame, settled: DataFrame) -> DataFrame:
        if cutoff is not None:
            frontier = frontier.filter(F.col("distance") < cutoff)
        return (
            frontier.join(adj, "id")
            .select(
                F.col("nbr_id").alias("id"),
                (F.col("distance") + 1).alias("distance"),
                F.concat("path", F.array("nbr_name")).alias("path"),
            )
            .join(settled.select("id"), "id", "left_anti")
            .groupBy("id", "distance")
            .agg(F.min("path").alias("path"))
        )

    with iteration_conf(spark):
        settled, _ = seminaive(
            "single_source_shortest_path", source_row, expand,
            DataFrame.unionByName, max_rounds=sys.maxsize,
        )
    return settled.join(ids, "id").select("name", "id", "distance", "path")


def dijkstra_single_source_shortest_paths(
    graph: LinkGraph,
    source: str,
    targets: list[str] | None = None,
    weight: str = "weight",
    max_iter: int = sys.maxsize,
) -> DataFrame:
    """Weighted shortest paths over out-edges; returns
    ``(name, id, cost, path array<string>)`` for ``targets`` (all reachable
    nodes when ``targets`` is None).  Raises ``RuntimeError`` if the
    relaxation still improves after ``max_iter`` rounds."""
    spark = graph.spark
    source = str(source)
    if not graph.has_node(source):
        return spark.createDataFrame(
            [], "name string, id long, cost double, path array<string>"
        )
    if weight not in graph.edges_t.columns:
        raise ValueError(f"weight property {weight!r} not found on edges")
    ids = graph.ids().persist()
    from linkgraph.graph import name_to_id

    # latest temporal value per logical edge — properties().get semantics
    w = (
        graph.edges_t.groupBy("src", "dst")
        .agg(F.max_by(weight, F.struct("time")).cast("double").alias("w"))
        .select(
            name_to_id(F.col("src")).alias("id"),
            name_to_id(F.col("dst")).alias("nbr_id"),
            F.col("dst").alias("nbr_name"),
            "w",
        )
        .filter(F.col("w").isNotNull())
        .persist()
    )

    source_row = ids.filter(F.col("name") == source).select(
        "id", F.lit(0.0).alias("cost"), F.array(F.lit(source)).alias("path")
    )

    def relax(frontier: DataFrame, state: DataFrame) -> DataFrame:
        relaxed = frontier.join(w, "id").select(
            F.col("nbr_id").alias("id"),
            (F.col("cost") + F.col("w")).alias("cost"),
            F.concat("path", F.array("nbr_name")).alias("path"),
        )
        best = relaxed.groupBy("id").agg(
            F.min(F.struct("cost", "path")).alias("s")
        ).select("id", F.col("s.cost").alias("cost"), F.col("s.path").alias("path"))
        # keep only strict improvements over the current state
        return (
            best.alias("b")
            .join(state.alias("s"), "id", "left")
            .filter(
                F.col("s.cost").isNull()
                | (F.col("b.cost") < F.col("s.cost"))
                | (
                    (F.col("b.cost") == F.col("s.cost"))
                    & (F.col("b.path") < F.col("s.path"))
                )
            )
            .select("id", F.col("b.cost").alias("cost"), F.col("b.path").alias("path"))
        )

    with iteration_conf(spark):
        state, _ = seminaive(
            "dijkstra_single_source_shortest_paths", source_row, relax,
            replace_by_id, max_rounds=max_iter,
        )
    out = state.join(ids, "id").select("name", "id", "cost", "path")
    if targets is not None:
        out = out.filter(F.col("name").isin([str(t) for t in targets]))
    return out


def widest_paths(
    graph: LinkGraph,
    source: str,
    weight: str,
    max_iter: int = 64,
) -> DataFrame:
    """Max-min bottleneck ("widest path") capacities from ``source`` —
    ``(name, id, capacity)`` for every OTHER reachable node.

    The (max, min) semiring analogue of
    :func:`dijkstra_single_source_shortest_paths` (pathing/dijkstra.rs
    anchors the relaxation shape): a path's capacity is the MINIMUM of
    its edge capacities; a node's value is the MAXIMUM over paths.  Edge
    capacity here is the SUM of the ``weight`` property over the logical
    edge's events, mirrored undirected (total volume between the pair) —
    an integer, so the whole fixpoint is integer-exact and bit-exactly
    SQL-replayable (the unrolled-round oracle discipline).

    Distributed shape: label-correcting Bellman–Ford ascent — each round
    joins the improved frontier to the pre-partitioned adjacency
    (repartitioned ONCE on the join key, the coreness lesson), keeps
    strict improvements only, and stops when a round improves nothing.
    Values only ever increase toward the unique lattice fixpoint, so the
    result is schedule-independent at any parallelism.  Round count is
    bounded by the longest USEFUL path (not the diameter — a wide route
    can be long); ``max_iter`` is a loud safety bound.
    """
    spark = graph.spark
    source = str(source)
    if weight not in graph.edges_t.columns:
        raise ValueError(f"weight property {weight!r} not found on edges")
    if not graph.has_node(source):
        return spark.createDataFrame([], "name string, id long, capacity long")
    ids = graph.ids().persist()
    from linkgraph.graph import name_to_id

    n_part = spark.sparkContext.defaultParallelism
    pair_cap = (
        graph.edges_t.select(
            F.least(name_to_id(F.col("src")), name_to_id(F.col("dst"))).alias("lo"),
            F.greatest(name_to_id(F.col("src")), name_to_id(F.col("dst"))).alias("hi"),
            F.col(weight).cast("long").alias("w"),
        )
        .groupBy("lo", "hi")
        .agg(F.sum("w").alias("w"))
    )
    adj = (
        pair_cap.select(F.col("lo").alias("id"), F.col("hi").alias("nbr_id"), "w")
        .unionByName(
            pair_cap.select(
                F.col("hi").alias("id"), F.col("lo").alias("nbr_id"), "w"
            )
        )
        .repartition(n_part, "id")
        .localCheckpoint()
    )

    src_id = ids.filter(F.col("name") == source).select("id")
    # first hop: capacity(v) = cap(source, v); the source itself carries
    # conceptual capacity +inf and never re-enters the state
    first_hop = (
        adj.join(src_id, "id")
        .groupBy(F.col("nbr_id").alias("id"))
        .agg(F.max("w").alias("capacity"))
    )

    def relax(frontier: DataFrame, state: DataFrame) -> DataFrame:
        widened = (
            frontier.join(adj, "id")
            .join(src_id.select(F.col("id").alias("nbr_id")), "nbr_id", "left_anti")
            .groupBy(F.col("nbr_id").alias("id"))
            .agg(F.max(F.least("capacity", "w")).alias("capacity"))
        )
        return (
            widened.alias("r")
            .join(state.alias("s"), "id", "left")
            .filter(
                F.col("s.capacity").isNull()
                | (F.col("r.capacity") > F.col("s.capacity"))
            )
            .select("id", F.col("r.capacity").alias("capacity"))
        )

    with iteration_conf(spark, shuffle_partitions=n_part):
        state, _ = seminaive(
            "widest_paths", first_hop, relax, replace_by_id, max_rounds=max_iter
        )
    return state.join(ids, "id").select("name", "id", "capacity")


def temporally_reachable_nodes(
    graph: LinkGraph,
    max_hops: int,
    start_time: int,
    seed_nodes: list[str],
    stop_nodes: list[str] | None = None,
) -> DataFrame:
    """Time-respecting taint BFS; returns one row per node:
    ``(name, id, tainted, earliest, history array<struct<time,src>>)`` with
    ``history`` sorted by (time, src desc) like the reference's test ordering."""
    spark = graph.spark
    seeds = [str(s) for s in seed_nodes]
    stops = [str(s) for s in (stop_nodes or [])]
    ids = graph.ids().persist()
    from linkgraph.graph import name_to_id

    events = (
        graph.edges_t.select(
            name_to_id(F.col("src")).alias("id"),
            name_to_id(F.col("dst")).alias("dst_id"),
            F.col("src").alias("src_name"),
            "time",
        )
        .filter(F.col("time") >= F.lit(start_time))
        .persist()
    )
    events.count()

    seed_df = ids.filter(F.col("name").isin(seeds))
    # history rows: (id, time, src)
    history = seed_df.select(
        "id", F.lit(start_time).alias("time"), F.lit("start").alias("src")
    ).localCheckpoint()
    # per-node earliest taint time
    earliest = seed_df.select("id", F.lit(start_time).alias("earliest"))
    tainted = seed_df.select("id")
    frontier = earliest  # nodes that (re-)propagate next superstep
    stop_ids = ids.filter(F.col("name").isin(stops)).select("id") if stops else None

    with iteration_conf(spark):
        for hop in range(max_hops):
            # stop nodes receive taint but never propagate; the seeds' initial
            # burst is exempt (reference step1 has no stop check, step2 does)
            senders = frontier
            if stop_ids is not None and hop > 0:
                senders = senders.join(stop_ids, "id", "left_anti")
            msgs = (
                senders.join(events, "id")
                .filter(F.col("time") >= F.col("earliest"))
                .select(
                    F.col("dst_id").alias("id"), "time", F.col("src_name").alias("src")
                )
                .distinct()
                .localCheckpoint()
            )
            if msgs.limit(1).count() == 0:
                break
            receivers = msgs.select("id").distinct()
            newly = receivers.join(tainted, "id", "left_anti").localCheckpoint()
            history = history.unionByName(msgs).distinct().localCheckpoint()
            new_earliest = msgs.groupBy("id").agg(F.min("time").alias("earliest"))
            earliest = (
                earliest.unionByName(new_earliest)
                .groupBy("id")
                .agg(F.min("earliest").alias("earliest"))
                .localCheckpoint()
            )
            tainted = tainted.unionByName(newly.select("id")).localCheckpoint()
            # reference frontier: every node that received a message this
            # superstep re-propagates next superstep with its (merged) earliest
            frontier = earliest.join(receivers, "id", "left_semi")
            if newly.limit(1).count() == 0:
                break

    hist_agg = history.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.struct("time", "src")),
            lambda a, b: F.when(a.time < b.time, -1)
            .when(a.time > b.time, 1)
            .when(a.src > b.src, -1)
            .when(a.src < b.src, 1)
            .otherwise(0),
        ).alias("history")
    )
    return (
        ids.join(hist_agg, "id", "left")
        .join(earliest, "id", "left")
        .select(
            "name",
            "id",
            F.col("history").isNotNull().alias("tainted"),
            "earliest",
            F.coalesce(
                "history", F.array().cast("array<struct<time:bigint,src:string>>")
            ).alias("history"),
        )
    )


def earliest_arrival_times(
    graph: LinkGraph,
    sources: list[str],
    start_time: int | None = None,
    strict: bool = False,
    max_rounds: int = 64,
) -> DataFrame:
    """Multi-source earliest-arrival (foremost) temporal paths —
    ``(source, node, arrival)`` for every (source, reachable node) pair.

    A time-respecting path uses edge EVENTS in non-decreasing time order
    (``strict=True`` requires strictly increasing — no two hops in the
    same instant); ``arrival(s, v)`` is the minimum event time at which v
    is reachable from s (s itself arrives at ``start_time``, default the
    graph's earliest event).  This is the foremost-path distance of the
    temporal-graph literature (Wu et al., VLDB 2014) and the fixpoint the
    taint BFS's ``earliest`` column approaches hop-bounded
    (temporal_reachability.rs:69-204) — here run to convergence with no
    hop cap.

    Distributed shape: Bellman-Ford-style label correction batched over
    ALL sources — state keyed ``(source, node)`` (the Brandes batching
    discipline); per round ONE join of the state against the cached
    event table (``t ≥/> arrival``), one min-aggregate, one merge.
    Labels are monotone non-increasing and row count monotone
    non-decreasing, so the (count, sum) pair is the convergence check in
    a single driver action.  Rounds ≤ temporal diameter; the loud
    ``max_rounds`` guard replaces silent truncation.
    """
    from linkgraph.graph import name_to_id

    spark = graph.spark
    if not sources:
        return spark.createDataFrame([], "source long, node long, arrival long")
    ev_raw = graph.edges_t.select(
        name_to_id(F.col("src")).alias("u"),
        name_to_id(F.col("dst")).alias("v"),
        F.col("time").cast("long").alias("t"),
    ).persist()
    t0 = start_time
    if t0 is None:
        t0 = ev_raw.agg(F.min("t")).first()[0]
        if t0 is None:
            ev_raw.unpersist()
            return spark.createDataFrame([], "source long, node long, arrival long")
    P = pick_partitions(spark, ev_raw.count())
    with iteration_conf(spark, shuffle_partitions=P):
        # events are the big static side: hash-partition once on the join
        # key so each round re-shuffles only the (source, node) state
        ev = (
            ev_raw.filter(F.col("t") >= F.lit(int(t0)))
            .repartition(P, "u")
            .sortWithinPartitions("u")
            .persist()
        )
        ev.count()
        ev_raw.unpersist()

        seed_names = sorted({str(s) for s in sources})
        seeds = (
            graph.ids()
            .filter(F.col("name").isin(seed_names))
            .select(F.col("id").alias("source"))
        )
        cmp_op = (lambda t, a: t > a) if strict else (lambda t, a: t >= a)

        def relax(state: DataFrame) -> DataFrame:
            cand = (
                state.join(ev, state.node == ev.u)
                .filter(cmp_op(F.col("t"), F.col("arrival")))
                .groupBy("source", F.col("v").alias("node"))
                .agg(F.min("t").alias("cand"))
            )
            return state.join(cand, ["source", "node"], "full").select(
                "source",
                "node",
                # Spark least() skips NULLs — a side missing from the
                # full join contributes nothing to the min
                F.least("arrival", "cand").alias("arrival"),
            )

        state, _ = fixpoint(
            "earliest_arrival_times",
            seeds.select(
                "source",
                F.col("source").alias("node"),
                F.lit(int(t0)).cast("long").alias("arrival"),
            ),
            relax,
            F.count("*"),
            F.sum("arrival"),
            max_rounds=max_rounds,
        )
        ev.unpersist()
    return state


def latest_departure_times(
    graph: LinkGraph,
    targets: list[str],
    end_time: int | None = None,
    strict: bool = False,
    max_rounds: int = 64,
) -> DataFrame:
    """Reverse-foremost temporal paths — ``(target, node, departure)``:
    the LATEST time one can leave ``node`` and still reach ``target``
    through a time-respecting path ending by ``end_time`` (default the
    graph's latest event; the target itself departs at ``end_time``).

    The exact dual of :func:`earliest_arrival_times` (Wu et al., VLDB
    2014 call it reverse-foremost): labels are monotone non-DEcreasing
    maxima, propagated BACKWARD along events — an event ``(u, v, t)``
    lets u depart at ``t`` whenever ``t ≤ departure(v)`` (``<`` under
    ``strict``).  Together the two give per-pair travel windows
    (``arrival − departure`` bounds the fastest-path duration).

    Same distributed shape as the forward op: events hash-partitioned
    once on the REVERSE join key, per round one state join + max-merge,
    (count, sum) convergence pair, loud ``max_rounds`` guard.
    """
    from linkgraph.graph import name_to_id

    spark = graph.spark
    if not targets:
        return spark.createDataFrame([], "target long, node long, departure long")
    ev_raw = graph.edges_t.select(
        name_to_id(F.col("src")).alias("u"),
        name_to_id(F.col("dst")).alias("v"),
        F.col("time").cast("long").alias("t"),
    ).persist()
    t1 = end_time
    if t1 is None:
        t1 = ev_raw.agg(F.max("t")).first()[0]
        if t1 is None:
            ev_raw.unpersist()
            return spark.createDataFrame(
                [], "target long, node long, departure long"
            )
    P = pick_partitions(spark, ev_raw.count())
    with iteration_conf(spark, shuffle_partitions=P):
        ev = (
            ev_raw.filter(F.col("t") <= F.lit(int(t1)))
            .repartition(P, "v")
            .sortWithinPartitions("v")
            .persist()
        )
        ev.count()
        ev_raw.unpersist()

        names = sorted({str(s) for s in targets})
        seeds = (
            graph.ids()
            .filter(F.col("name").isin(names))
            .select(F.col("id").alias("target"))
        )
        cmp_op = (lambda t, d: t < d) if strict else (lambda t, d: t <= d)

        def relax(state: DataFrame) -> DataFrame:
            cand = (
                state.join(ev, state.node == ev.v)
                .filter(cmp_op(F.col("t"), F.col("departure")))
                .groupBy("target", F.col("u").alias("node"))
                .agg(F.max("t").alias("cand"))
            )
            return state.join(cand, ["target", "node"], "full").select(
                "target",
                "node",
                # greatest() skips NULLs, mirroring least() forward
                F.greatest("departure", "cand").alias("departure"),
            )

        state, _ = fixpoint(
            "latest_departure_times",
            seeds.select(
                "target",
                F.col("target").alias("node"),
                F.lit(int(t1)).cast("long").alias("departure"),
            ),
            relax,
            F.count("*"),
            F.sum("departure"),
            max_rounds=max_rounds,
        )
        ev.unpersist()
    return state


def fastest_path_durations(
    graph: LinkGraph,
    sources: list[str],
    strict: bool = False,
    max_rounds: int = 64,
    max_source_departures: int | None = 5000,
) -> DataFrame:
    """Fastest (minimum-duration) temporal paths — ``(source, node,
    duration)``: the least elapsed time of any time-respecting path from
    ``source`` to ``node`` (``duration(s, s) = 0``).

    Completes the Wu et al. (VLDB 2014) temporal-path trilogy next to
    :func:`earliest_arrival_times` (foremost) and
    :func:`latest_departure_times` (reverse-foremost) — the hop-bounded
    taint BFS (temporal_reachability.rs:69-204) approximates only the
    foremost member; fastest paths need per-departure labels because the
    best start time differs per destination.

    State is the **Pareto frontier** keyed ``(source, node, dep)`` where
    ``dep`` is the time the first hop leaves the source and the value is
    the min arrival among paths with that departure.  Per round: ONE join
    of the state against the cached event table (``t ≥ arrival``, ``>``
    under ``strict``), a min-merge, then a dominance prune — a label
    survives only if its arrival beats the min arrival over strictly
    later departures (suffix-min window per ``(source, node)``, ordered
    by ``dep`` desc).  Pruned labels cannot seed a fastest path: a
    dominator departs later and arrives no later, so every extension it
    misses is dominated too.  The prune is what bounds state at scale —
    frontier size per (source, node) is the number of Pareto-optimal
    departure/arrival pairs, not the number of source out-events.

    Propagation is **frontier-only**: candidates are generated from the
    labels that changed last round, not the whole state.  This is
    loss-free — a stable label's candidates were generated the round
    after it last improved and min-merged then; regenerating them can
    only produce duplicates the merge absorbs, and a once-dominated
    label stays dominated because dominators only improve.  The
    per-round state sequence is therefore IDENTICAL to full-state
    propagation (what the SQL oracle unrolls), while the join volume
    drops from |state|·deg to |changed|·deg — the difference between
    minutes and seconds once most of the Pareto surface has stabilised.

    Convergence: the frontier (anti-join of the pruned merge against
    the previous state) empties exactly at the fixpoint — one Spark job
    per round stores the pruned state and counts the frontier, with a
    loud ``max_rounds`` guard.

    **Hub-source guard**: per-source cost scales with the source's
    *departure multiplicity* — round 0 seeds one Pareto label per
    distinct first-hop departure time, so a hub with tens of thousands
    of distinct out-event times carries a Pareto surface that wide
    through every round (measured: >590s from a hub supplier at sf0.1
    vs 36s from customer sources, BENCH.md "Pareto-width finding").
    Before iterating, the per-source distinct-departure count is
    computed in one cheap pass over the sources' out-events; any source
    above ``max_source_departures`` raises ``ValueError`` in seconds
    with the documented mitigation (``graph.window(...)`` to shrink the
    departure set, or pass a higher/``None`` cap to accept the wall).
    The guard never silently caps or samples — results stay exact.
    """
    from pyspark.sql import Window

    from linkgraph.graph import name_to_id

    spark = graph.spark
    if not sources:
        return spark.createDataFrame([], "source long, node long, duration long")
    ev_raw = graph.edges_t.select(
        name_to_id(F.col("src")).alias("u"),
        name_to_id(F.col("dst")).alias("v"),
        F.col("time").cast("long").alias("t"),
    ).persist()
    P = pick_partitions(spark, ev_raw.count())
    with iteration_conf(spark, shuffle_partitions=P):
        ev = ev_raw.repartition(P, "u").sortWithinPartitions("u").persist()
        ev.count()
        ev_raw.unpersist()

        seed_names = sorted({str(s) for s in sources})
        seeds = (
            graph.ids()
            .filter(F.col("name").isin(seed_names))
            .select(F.col("id").alias("source"))
        )
        if max_source_departures is not None:
            widths = (
                seeds.join(ev, seeds.source == ev.u)
                .select("source", "t")
                .distinct()
                .groupBy("source")
                .count()
                .filter(F.col("count") > max_source_departures)
                .join(graph.ids(), F.col("source") == F.col("id"))
                .select("name", "count")
                .orderBy(F.desc("count"))
                .limit(5)
                .collect()
            )
            if widths:
                worst = ", ".join(f"{r['name']}={r['count']}" for r in widths)
                ev.unpersist()
                raise ValueError(
                    "fastest_path_durations: hub source(s) exceed the "
                    f"departure-multiplicity cap ({max_source_departures}): "
                    f"{worst}. Pareto-frontier width (and per-round join "
                    "volume) scales with distinct first-hop departure "
                    "times. Window the graph first (graph.window(...)) to "
                    "shrink the departure set, or pass a higher "
                    "max_source_departures (or None) to accept the cost."
                )
        # round 0: the source's own out-events — one label per distinct
        # first-hop departure (dep = arrival = t)
        state = (
            seeds.join(ev, seeds.source == ev.u)
            .select(
                "source",
                F.col("v").alias("node"),
                F.col("t").alias("dep"),
                F.col("t").alias("arrival"),
            )
            .distinct()
        )
        cmp_op = (lambda t, a: t > a) if strict else (lambda t, a: t >= a)
        # dominance prune: keep a label iff no strictly-later departure
        # arrives no later (suffix min over dep desc, excluding self)
        w = (
            Window.partitionBy("source", "node")
            .orderBy(F.desc("dep"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        frontier = state = mark_cut(state)
        for _ in rounds("fastest_path_durations", max_rounds):
            cand = (
                frontier.join(ev, frontier.node == ev.u)
                .filter(cmp_op(F.col("t"), F.col("arrival")))
                .select("source", F.col("v").alias("node"), "dep",
                        F.col("t").alias("arrival"))
            )
            # one exchange on (source, node) serves the min-merge (its
            # group keys extend the partition keys) AND the prune window
            merged = (
                state.unionByName(cand)
                .repartition(P, "source", "node")
                .groupBy("source", "node", "dep")
                .agg(F.min("arrival").alias("arrival"))
            )
            new_state = mark_cut(
                merged.withColumn("sm", F.min("arrival").over(w))
                .filter(F.col("sm").isNull() | (F.col("arrival") < F.col("sm")))
                .drop("sm")
            )
            # one job stores the pruned state and cuts + counts the changes
            new_frontier, (changed,) = lazy_cut(
                new_state.join(state, ["source", "node", "dep", "arrival"], "left_anti"),
                F.count(F.lit(1)),
            )
            release_cut(frontier)
            release_cut(state)
            state, frontier = new_state, new_frontier
            if changed == 0:
                break
        ev.unpersist()
        out = (
            state.groupBy("source", "node")
            .agg(F.min(F.col("arrival") - F.col("dep")).alias("duration"))
            .unionByName(
                seeds.select(
                    "source",
                    F.col("source").alias("node"),
                    F.lit(0).cast("long").alias("duration"),
                )
            )
            .groupBy("source", "node")
            .agg(F.min("duration").alias("duration"))
        )
    return out
