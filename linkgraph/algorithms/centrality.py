"""Spectral / distance centralities beyond the reference's set.

The reference ships degree, PageRank, HITS, and Brandes betweenness
(raphtory/src/algorithms/centrality/); eigenvector, Katz, and harmonic
centrality are the standard next three a graph-analytics user reaches
for, so they are provided as first-class engine operators with the same
superstep discipline (pre-partitioned message edges, one driver action
per superstep at most, linear lineage).

Determinism contract (the DuckDB-oracle requirement): every kernel runs a
FIXED number of supersteps with no data-dependent normalisation inside
the loop — eigenvector normalises once at the end, Katz and harmonic
never do — so Spark and a SQL replay produce identical values up to
float-summation noise, absorbed by rounding at the query layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, persist_once
from linkgraph.superstep import iteration_conf, pick_partitions, seminaive, supersteps


def _message_edges(graph: LinkGraph, direction: str) -> DataFrame:
    """``(from_id, to_id, w)`` message-edge table for a score push along
    ``direction`` (in | out | both), plus zero-weight self-messages so every
    node survives the aggregate (the HITS pattern, hits.py)."""
    e = graph.edge_ids()
    if direction == "both":
        und = graph.undirected_edge_ids()
        msgs = und.select(
            F.col("nbr_id").alias("from_id"),
            F.col("id").alias("to_id"),
            F.lit(1.0).alias("w"),
        )
    elif direction == "in":
        msgs = e.select(
            F.col("src_id").alias("from_id"),
            F.col("dst_id").alias("to_id"),
            F.lit(1.0).alias("w"),
        )
    elif direction == "out":
        msgs = e.select(
            F.col("dst_id").alias("from_id"),
            F.col("src_id").alias("to_id"),
            F.lit(1.0).alias("w"),
        )
    else:
        raise ValueError(f"direction must be in/out/both, got {direction!r}")
    keep_alive = graph.ids().select(
        F.col("id").alias("from_id"),
        F.col("id").alias("to_id"),
        F.lit(0.0).alias("w"),
    )
    return msgs.unionByName(keep_alive)


def _linear_push_loop(
    graph: LinkGraph,
    msgs: DataFrame,
    init_score: float,
    combine,
    max_iter: int,
    partitions: int | None,
) -> DataFrame:
    """Run ``x_{t+1}(v) = combine(Σ_{u→v} w·x_t(u))`` for ``max_iter``
    supersteps; returns ``(id, score)``.

    One co-partitioned join + hash aggregate per superstep: ``msgs`` is
    repartitioned and sorted on ``from_id`` once and cached, state arrives
    hash(from_id)-partitioned from the previous aggregate, so no
    per-superstep exchange of the big side (the pagerank plan shape,
    asserted by tests/test_plan_shape.py for the shared join pattern).
    """
    spark = graph.spark
    raw = msgs.persist()
    P = partitions or pick_partitions(spark, raw.count())
    with iteration_conf(spark, shuffle_partitions=P):
        msgs = raw.repartition(P, "from_id").sortWithinPartitions("from_id").persist()
        msgs.count()
        raw.unpersist()

        def push(state: DataFrame, _row) -> DataFrame:
            return (
                msgs.join(state.select(F.col("id").alias("from_id"), "score"), "from_id")
                .groupBy(F.col("to_id").alias("id"))
                .agg(F.sum(F.col("w") * F.col("score")).alias("recv"))
                .select("id", combine(F.col("recv")).alias("score"))
            )

        out = graph.ids().select(
            "id", F.lit(float(init_score)).alias("score")
        ).repartition(P, "id")
        # a fixed number of rounds, no stop rule; the last round is a stored
        # cut, so it outlives the msgs cache
        for _, out, _ in supersteps(
            "linear_push", out, push, F.count(F.lit(1)), rounds=range(1, max_iter + 1)
        ):
            pass
        msgs.unpersist()
    return out


def eigenvector_centrality(
    graph: LinkGraph,
    max_iter: int = 20,
    direction: str = "both",
    partitions: int | None = None,
) -> DataFrame:
    """Power-iteration eigenvector centrality — ``(name, id, score)``,
    score scaled so max = 1.

    Fixed ``max_iter`` supersteps with NO per-iteration normalisation:
    the iterate is exactly ``A^T^k · 1``, normalised once at the end by its
    maximum.  Skipping in-loop normalisation removes a driver action per
    superstep AND makes the values an exact polynomial in the adjacency
    matrix — replayable by a recursive SQL CTE.  Magnitude is bounded by
    ``λ_max^k ≤ max_degree^k``; doubles overflow only past 1e308, i.e.
    max_degree^20 safe to degree ~2e15 — far beyond any real graph.
    """
    scores = _linear_push_loop(
        graph,
        _message_edges(graph, direction),
        init_score=1.0,
        combine=lambda recv: recv,
        max_iter=max_iter,
        partitions=partitions,
    )
    mx = scores.agg(F.max(F.abs("score"))).first()[0] or 0.0
    denom = mx if mx > 0 else 1.0
    return (
        graph.ids()
        .join(scores, "id", "left")
        .select(
            "name", "id", (F.coalesce("score", F.lit(0.0)) / F.lit(denom)).alias("score")
        )
    )


def katz_centrality(
    graph: LinkGraph,
    alpha: float = 0.005,
    beta: float = 1.0,
    max_iter: int = 10,
    direction: str = "in",
    partitions: int | None = None,
) -> DataFrame:
    """Katz centrality — ``(name, id, score)``.

    ``x_{t+1}(v) = β + α · Σ_{u ∈ N_direction(v)} x_t(u)`` from ``x_0 = β``,
    run a fixed ``max_iter`` supersteps (the truncated Katz series
    ``Σ_k α^k A^k β``).  Converges iff ``α < 1/λ_max``; with fixed
    iterations the output is well-defined and oracle-replayable either way.
    """
    return (
        graph.ids()
        .join(
            _linear_push_loop(
                graph,
                _message_edges(graph, direction),
                init_score=beta,
                combine=lambda recv: F.lit(float(beta))
                + F.lit(float(alpha)) * recv,
                max_iter=max_iter,
                partitions=partitions,
            ),
            "id",
            "left",
        )
        .select("name", "id", F.coalesce("score", F.lit(float(beta))).alias("score"))
    )


def weighted_pagerank(
    graph: LinkGraph,
    weight: str,
    max_iter: int = 20,
    damping: float = 0.85,
    partitions: int | None = None,
) -> DataFrame:
    """PageRank with edge weights — ``(name, id, score)``.

    The reference's PageRank is unweighted (pagerank.rs:54-183); this is
    the natural weighted extension with the SAME structural semantics:
    per-edge weight = Σ of the temporal property ``weight`` over the
    edge's events, contribution = score · w(u,v) / out_strength(u),
    teleport ``(1-d)/n``, and sink redistribution ``d·Σ_sinks score/n``
    (pagerank.rs:104-123) — sinks here are nodes with zero out-strength.

    Fixed ``max_iter`` supersteps (deterministic, SQL-replayable).  The
    sink mass is the one-row witness of each superstep's state, measured by
    the Spark job that computes it and handed to the next superstep as a
    literal — one job per superstep, and no sink×n message blow-up (the SQL
    oracle at test scale uses the explicit sink→all-nodes arm; the engine
    never materialises it).

    ``damping=1.0`` turns the teleport off entirely, making this the
    power iteration of the row-normalised weighted transition matrix with
    uniform sink redistribution — i.e. the Markov stationary-distribution
    iteration (used by the ``transition_stationary`` query with per-event
    transition counts as weights).
    """
    if weight not in graph.edges_t.columns:
        raise ValueError(f"weight property {weight!r} not found on edges")
    from linkgraph.graph import name_to_id

    spark = graph.spark
    ids = graph.ids()
    release_ids = persist_once(ids)
    n = ids.count()
    if n == 0:
        return ids.select("name", "id", F.lit(0.0).alias("score"))

    e_w = (
        graph.edges_t.groupBy("src", "dst")
        .agg(F.sum(F.col(weight).cast("double")).alias("w"))
        .select(
            name_to_id(F.col("src")).alias("src_id"),
            name_to_id(F.col("dst")).alias("dst_id"),
            "w",
        )
    )
    # a node whose summed out-weight is <= 0 (possible with zero/negative
    # weight properties) cannot normalise its contributions (w/0 -> NULL
    # would silently drop its mass): treat it as a SINK so its mass is
    # redistributed like any other dangling node
    strength = (
        e_w.groupBy(F.col("src_id").alias("id"))
        .agg(F.sum("w").alias("s"))
        .filter(F.col("s") > 0)
    )
    wmsgs = (
        e_w.join(strength.withColumnRenamed("id", "src_id"), "src_id")
        .select(
            F.col("src_id").alias("from_id"),
            F.col("dst_id").alias("to_id"),
            (F.col("w") / F.col("s")).alias("wt"),
        )
        .unionByName(
            ids.select(
                F.col("id").alias("from_id"),
                F.col("id").alias("to_id"),
                F.lit(0.0).alias("wt"),
            )
        )
        .persist()
    )

    P = partitions or pick_partitions(spark, wmsgs.count())
    d = float(damping)
    with iteration_conf(spark, shuffle_partitions=P):
        raw = wmsgs
        wmsgs = raw.repartition(P, "from_id").sortWithinPartitions("from_id").persist()
        wmsgs.count()
        raw.unpersist()

        def step(state: DataFrame, row) -> DataFrame:
            # the state joins what it received (every node sends itself a
            # zero-weight message) and keeps its sink flag; ``row`` holds the
            # sink mass of the state it reads
            recv = (
                wmsgs.join(
                    state.select(F.col("id").alias("from_id"), "score"), "from_id"
                )
                .groupBy(F.col("to_id").alias("id"))
                .agg(F.sum(F.col("wt") * F.col("score")).alias("recv"))
            )
            return state.join(recv, "id").select(
                "id",
                "sink",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d) * (F.col("recv") + F.lit(row["sm"]) / F.lit(float(n)))
                ).alias("score"),
            )

        out = (
            ids.join(strength, "id", "left")
            .select(
                "id", F.col("s").isNull().alias("sink"), F.lit(1.0 / n).alias("score")
            )
            .repartition(P, "id")
        )
        for _, out, _ in supersteps(
            "weighted_pagerank",
            out,
            step,
            F.coalesce(F.sum(F.when(F.col("sink"), F.col("score"))), F.lit(0.0)).alias("sm"),
            rounds=range(1, max_iter + 1),
        ):
            pass  # a fixed number of rounds, no stop rule
        wmsgs.unpersist()
    res = ids.join(out, "id", "left").select(
        "name", "id", F.coalesce("score", F.lit(0.0)).alias("score")
    )
    release_ids()
    return res


def decayed_pagerank(
    graph: LinkGraph,
    halflife_ms: int,
    max_iter: int = 20,
    damping: float = 0.85,
    partitions: int | None = None,
) -> DataFrame:
    """Time-decayed PageRank — ``(name, id, score)``: every edge EVENT
    contributes weight ``0.5^k`` where ``k = (t_max − t) div halflife``
    (integer division), then the weighted kernel runs as usual.  Recent
    interactions dominate; an edge whose events are all ≥ one half-life
    old carries half the weight per event, and so on.

    The decay is DYADIC on purpose (exact powers of two from an exact
    integer-division exponent): both the engine and a SQL replay compute
    bit-identical weights, so the query is oracle-exact — the same trick
    as the walk family's dyadic biases.  A continuous ``exp(−λ·age)``
    would differ between libm implementations in the last ulp and break
    the cross-engine hash compare for zero analytical gain.

    ``t_max`` is one scalar aggregate over the event table (a driver
    roundtrip before the loop, like PageRank's node count).
    """
    tmax = graph.edges_t.agg(F.max("time")).first()[0]
    if tmax is None:
        return graph.ids().select("name", "id", F.lit(0.0).alias("score"))
    decayed = graph.edges_t.withColumn(
        "_decay_w",
        F.pow(
            F.lit(0.5),
            F.expr(f"({int(tmax)}L - time) div {int(halflife_ms)}L").cast("double"),
        ),
    )
    g2 = LinkGraph(decayed)
    return weighted_pagerank(
        g2, "_decay_w", max_iter=max_iter, damping=damping, partitions=partitions
    )


def _resolve_seed_ids(graph: LinkGraph, seeds, first_k: int) -> DataFrame:
    ids = graph.ids()
    if seeds is not None:
        # dedupe: a repeated seed name must not duplicate every BFS row
        uniq = list(dict.fromkeys(seeds))
        return ids.join(
            graph.spark.createDataFrame([(s,) for s in uniq], "name string"),
            "name",
        ).select("id")
    return ids.select("id").orderBy("id").limit(first_k)


def multi_source_bfs(
    graph: LinkGraph,
    seed_ids: DataFrame,
    direction: str = "both",
    max_depth: int = 64,
) -> DataFrame:
    """All-shortest-distance table from a seed set — ``(seed, id, dist)``,
    one row per reached (seed, node) pair including dist 0 for the seeds.

    ONE multi-source BFS on :func:`~linkgraph.superstep.seminaive`: state
    is ``(seed_id, id, dist)``, each level a single frontier join +
    anti-join against the visited set, so the wall is O(diameter)
    supersteps regardless of how many seeds ride along.  Shared by
    harmonic, closeness, neighbourhood function, eccentricity, landmarks
    and efficiency.
    """
    spark = graph.spark
    if direction == "both":
        nbrs = graph.undirected_edge_ids().select(
            F.col("id").alias("from_id"), F.col("nbr_id").alias("to_id")
        )
    elif direction == "out":
        nbrs = graph.edge_ids().select(
            F.col("src_id").alias("from_id"), F.col("dst_id").alias("to_id")
        )
    elif direction == "in":
        nbrs = graph.edge_ids().select(
            F.col("dst_id").alias("from_id"), F.col("src_id").alias("to_id")
        )
    else:
        raise ValueError(f"direction must be in/out/both, got {direction!r}")

    raw_nbrs = nbrs.persist()
    P = pick_partitions(spark, raw_nbrs.count())
    with iteration_conf(spark, shuffle_partitions=P):
        # static big side of every level's join: partition it on the join
        # key ONCE so each level re-shuffles only the (small) frontier
        nbrs = (
            raw_nbrs.repartition(P, "from_id")
            .sortWithinPartitions("from_id")
            .persist()
        )
        nbrs.count()
        raw_nbrs.unpersist()

        def expand(frontier: DataFrame, visited: DataFrame) -> DataFrame:
            # the depth limit empties the frontier: no level past max_depth
            frontier = frontier.filter(F.col("dist") < max_depth)
            return (
                frontier.join(nbrs, frontier.id == nbrs.from_id)
                .select("seed", F.col("to_id").alias("id"), (F.col("dist") + 1).alias("dist"))
                .join(visited.select("seed", "id"), ["seed", "id"], "left_anti")
                .distinct()
            )

        seeds = seed_ids.select(F.col("id").alias("seed"), "id", F.lit(0).alias("dist"))
        visited, _ = seminaive(
            "multi_source_bfs", seeds, expand, DataFrame.unionByName,
            max_rounds=max_depth + 1,
        )
        nbrs.unpersist()
    return visited


def neighborhood_function(
    graph: LinkGraph,
    seeds: list[str] | None = None,
    first_k: int = 8,
    direction: str = "both",
    max_depth: int = 64,
) -> DataFrame:
    """Distance histogram over a seed sample — ``(dist, n_pairs,
    cum_pairs)`` for dist ≥ 1: how many (seed, node) pairs sit at each
    hop distance, with the running total (the ANF/HyperANF neighborhood
    function N(h), computed exactly over the sampled seeds).
    :func:`effective_diameter` derives the interpolated 90th-percentile
    from it."""
    visited = multi_source_bfs(
        graph, _resolve_seed_ids(graph, seeds, first_k), direction, max_depth
    )
    from pyspark.sql import Window as W

    hist = (
        visited.filter(F.col("dist") > 0)
        .groupBy("dist")
        .agg(F.count("*").alias("n_pairs"))
    )
    w = W.orderBy("dist").rowsBetween(W.unboundedPreceding, W.currentRow)
    return hist.select(
        "dist", "n_pairs", F.sum("n_pairs").over(w).alias("cum_pairs")
    )


def effective_diameter(
    graph: LinkGraph,
    percentile: float = 0.9,
    seeds: list[str] | None = None,
    first_k: int = 8,
    direction: str = "both",
) -> float:
    """Interpolated effective diameter (ANF convention): the smallest h
    where N(h) ≥ percentile·N(max), linearly interpolated between h-1 and
    h.  Driver-side over the (tiny) histogram."""
    rows = sorted(
        neighborhood_function(graph, seeds, first_k, direction).collect(),
        key=lambda r: r["dist"],
    )
    if not rows:
        return 0.0
    total = rows[-1]["cum_pairs"]
    target = percentile * total
    prev_cum = 0
    for r in rows:
        if r["cum_pairs"] >= target:
            span = r["cum_pairs"] - prev_cum
            frac = (target - prev_cum) / span if span else 0.0
            return (r["dist"] - 1) + frac
        prev_cum = r["cum_pairs"]
    return float(rows[-1]["dist"])


def harmonic_centrality(
    graph: LinkGraph,
    seeds: list[str] | None = None,
    first_k: int = 8,
    direction: str = "both",
    max_depth: int = 64,
) -> DataFrame:
    """Harmonic centrality ``Σ_{u ≠ v} 1/d(v,u)`` for a seed set —
    ``(name, id, harmonic, n_reached)``.

    Seeds default to the ``first_k`` smallest node ids (the deterministic
    first-k convention the reference's Brandes uses for sampled sources,
    betweenness.rs:21-145).  Distances come from ONE
    :func:`multi_source_bfs` over all seeds.
    """
    ids = graph.ids()
    seed_ids = _resolve_seed_ids(graph, seeds, first_k)
    visited = multi_source_bfs(graph, seed_ids, direction, max_depth)

    agg = (
        visited.filter(F.col("dist") > 0)
        .groupBy(F.col("seed").alias("id"))
        .agg(
            F.sum(1.0 / F.col("dist")).alias("harmonic"),
            F.count("*").alias("n_reached"),
        )
    )
    return (
        seed_ids.join(ids, "id")
        .join(agg, "id", "left")
        .select(
            "name",
            "id",
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
            F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
        )
    )


def closeness_centrality(
    graph: LinkGraph,
    seeds: list[str] | None = None,
    first_k: int = 8,
    direction: str = "both",
    max_depth: int = 64,
) -> DataFrame:
    """Wasserman–Faust closeness for a seed set — ``(name, id, closeness,
    n_reached)`` with ``c(v) = (r/(n−1)) · (r/S)`` where ``r`` is the
    number of nodes reached from ``v`` (excluding ``v``), ``S`` the sum of
    their distances, and ``n`` the node count: the reachable-component
    closeness scaled by reachable fraction, so disconnected graphs don't
    inflate scores (the convention harmonic centrality avoids by summing
    reciprocals; both ship — closeness is the classic reported figure).

    Distances come from the SAME single :func:`multi_source_bfs` as
    harmonic/neighborhood; ``n`` rides along as a broadcast 1-row
    aggregate (no driver round-trip in the plan).
    """
    ids = graph.ids()
    seed_ids = _resolve_seed_ids(graph, seeds, first_k)
    visited = multi_source_bfs(graph, seed_ids, direction, max_depth)
    n_df = ids.agg(F.count("*").alias("n_nodes"))
    agg = (
        visited.filter(F.col("dist") > 0)
        .groupBy(F.col("seed").alias("id"))
        .agg(
            F.sum("dist").alias("sum_dist"),
            F.count("*").alias("n_reached"),
        )
    )
    r = F.col("n_reached").cast("double")
    return (
        seed_ids.join(ids, "id")
        .join(agg, "id", "left")
        .crossJoin(F.broadcast(n_df))
        .select(
            "name",
            "id",
            F.coalesce(
                (r / (F.col("n_nodes") - F.lit(1)))
                * (r / F.col("sum_dist")),
                F.lit(0.0),
            ).alias("closeness"),
            F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
        )
    )


def _fm_mask_expr(seed: int, r: int) -> str:
    """Quenched Flajolet–Martin register init for replica ``r``: a single
    bit at position min(trailing_zeros(md5 draw), 31) — geometric(1/2),
    reproducible across engines (Spark conv(substr(md5)) == DuckDB
    ('0x'||substr(md5))::BIGINT; a zero draw, p=2⁻⁶⁰, lands on the cap in
    both engines since bit_count(-1)=64)."""
    d = (
        "CAST(conv(substring(md5(concat_ws('|'"
        f",'{seed}','{r}',CAST(id AS STRING))),1,15),16,10) AS BIGINT)"
    )
    return (
        f"shiftleft(CAST(1 AS BIGINT), least(bit_count(({d} & (-{d})) - 1), 31))"
        f" AS m{r}"
    )


def hyperball_anf(
    graph: LinkGraph,
    n_replicas: int = 8,
    max_depth: int = 8,
    seed: int = 42,
    direction: str = "both",
    partitions: int | None = None,
) -> DataFrame:
    """Approximate neighborhood function over ALL nodes — HyperBall (Boldi
    & Vigna, WWW 2013) with Flajolet–Martin bitmask registers (the ANF of
    Palmer et al., KDD 2002): every node carries ``n_replicas`` 32-bit FM
    sketches, and ``ball(v, h) = sketch(v) OR-merged with the neighbours'
    h−1 balls`` — ``max_depth`` supersteps, each ONE co-partitioned join +
    ``bit_or`` hash aggregate, all JVM-side integer ops.

    Returns the per-depth register histogram ``(dist, r_sum, n_nodes)``:
    nodes bucketed by their total least-zero-bit index across replicas.
    The reduction is INTEGER-exact and engine-replayable; the float
    ``2^{R̄}/0.77351`` estimate depends on summation order, so the query
    surface stays integer and :func:`anf_estimate` derives the float curve
    driver-side from the tiny histogram.

    Scale story: the exact :func:`multi_source_bfs` carries O(reached
    pairs) state — unpayable for all-sources on a big component.  Sketch
    state here is O(n) rows × ``n_replicas`` longs regardless of reach,
    the per-superstep exchange is one message aggregate (same plan shape
    as PageRank), and the quenched md5 draws make the result
    bit-reproducible across engines, partitionings, and cluster sizes.
    """
    spark = graph.spark
    if direction == "both":
        adj = graph.undirected_edge_ids().select(
            F.col("id").alias("from_id"), F.col("nbr_id").alias("to_id")
        )
    elif direction == "out":
        adj = graph.edge_ids().select(
            F.col("src_id").alias("from_id"), F.col("dst_id").alias("to_id")
        )
    elif direction == "in":
        adj = graph.edge_ids().select(
            F.col("dst_id").alias("from_id"), F.col("src_id").alias("to_id")
        )
    else:
        raise ValueError(f"direction must be in/out/both, got {direction!r}")

    m = int(n_replicas)
    mcols = [f"m{r}" for r in range(m)]
    r_sum_expr = " + ".join(
        f"CAST(bit_count(((~m{r}) & (m{r} + 1)) - 1) AS BIGINT)" for r in range(m)
    )
    raw_adj = adj.persist()
    P = partitions or pick_partitions(spark, raw_adj.count())
    rows: list[tuple[int, int, int]] = []
    with iteration_conf(spark, shuffle_partitions=P):
        # static big side of every superstep's join: partition on the join
        # key ONCE (to_id == state.id), so each round shuffles only the
        # (node-sized) message aggregate
        adj = (
            raw_adj.repartition(P, "to_id")
            .sortWithinPartitions("to_id")
            .persist()
        )
        adj.count()
        raw_adj.unpersist()
        state = (
            graph.ids()
            .selectExpr("id", *[_fm_mask_expr(seed, r) for r in range(m)])
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
        for h in range(1, int(max_depth) + 1):
            msgs = (
                adj.join(state, adj.to_id == state.id)
                .groupBy(F.col("from_id").alias("id"))
                .agg(*[F.expr(f"bit_or(m{r})").alias(f"g{r}") for r in range(m)])
            )
            state = (
                state.join(msgs, "id", "left")
                .select(
                    "id",
                    *[
                        F.expr(f"m{r} | coalesce(g{r}, CAST(0 AS BIGINT))").alias(
                            f"m{r}"
                        )
                        for r in range(m)
                    ],
                )
                .repartition(P, "id")
                .localCheckpoint(eager=True)
            )
            hist = (
                state.selectExpr(f"({r_sum_expr}) AS r_sum")
                .groupBy("r_sum")
                .agg(F.count("*").alias("n_nodes"))
                .collect()
            )
            rows.extend((h, int(r["r_sum"]), int(r["n_nodes"])) for r in hist)
        adj.unpersist()
    return spark.createDataFrame(
        rows, "dist long, r_sum long, n_nodes long"
    )


def anf_estimate(hist: DataFrame, n_replicas: int = 8) -> dict[int, float]:
    """FM85 estimator from :func:`hyperball_anf`'s register histogram:
    ``N̂(h) = Σ_buckets n_nodes · 2^(r_sum/m) / 0.77351`` — the expected
    ball-size curve including dist 0 (each node counts itself).
    Driver-side float over ≤ 32·m tiny rows; the distributed surface
    stays integer-exact."""
    est: dict[int, float] = {}
    for r in hist.collect():
        est[r["dist"]] = est.get(r["dist"], 0.0) + r["n_nodes"] * 2.0 ** (
            r["r_sum"] / n_replicas
        )
    return {h: v / 0.77351 for h, v in sorted(est.items())}


# 2^(j/8) for j = 0..7 as string-parsed doubles: both engines parse the
# same decimal literal to the same IEEE double, so 2^(k/8) computed as
# (1 << k div 8) * C[k mod 8] is bit-exact cross-engine (a libm pow(2,
# k/8.0) carries no such guarantee)
_POW2_EIGHTHS = [
    "1.0",
    "1.0905077326652577",
    "1.189207115002721",
    "1.2968395546510096",
    "1.4142135623730951",
    "1.5422108254079407",
    "1.681792830507429",
    "1.8340080864093424",
]


def hyperball_nodes(
    graph: LinkGraph,
    n_replicas: int = 8,
    max_depth: int = 8,
    seed: int = 42,
    direction: str = "both",
    partitions: int | None = None,
) -> DataFrame:
    """Per-node HyperBall registers — ``(node, dist, r_sum)`` for every
    node and depth 0..max_depth (dist=0 is the initial self-register
    state, the B_0 baseline of the discounted centralities): the integer
    register sum whose FM
    estimate ``2^{r_sum/m}/0.77351`` is the node's ball size ``|B(v,
    dist)|``.  The per-NODE companion of :func:`hyperball_anf` (which
    reduces to the global histogram): this is what HyperBall was built
    for — approximate per-node closeness/harmonic centrality over ALL
    nodes at a scale where exact all-sources BFS is unpayable (Boldi &
    Vigna 2013 ran it on a 3.5B-node web graph).

    The surface is INTEGER-exact (engine-replayable verbatim);
    :func:`hyperball_centrality` derives the float ball sizes and the
    discounted-centrality estimate with dyadic-exact arithmetic.
    """
    spark = graph.spark
    if direction == "both":
        adj = graph.undirected_edge_ids().select(
            F.col("id").alias("from_id"), F.col("nbr_id").alias("to_id")
        )
    elif direction == "out":
        adj = graph.edge_ids().select(
            F.col("src_id").alias("from_id"), F.col("dst_id").alias("to_id")
        )
    elif direction == "in":
        adj = graph.edge_ids().select(
            F.col("dst_id").alias("from_id"), F.col("src_id").alias("to_id")
        )
    else:
        raise ValueError(f"direction must be in/out/both, got {direction!r}")
    m = int(n_replicas)
    mcols = [f"m{r}" for r in range(m)]
    r_sum_expr = " + ".join(
        f"CAST(bit_count(((~m{r}) & (m{r} + 1)) - 1) AS BIGINT)"
        for r in range(m)
    )
    raw_adj = adj.persist()
    P = partitions or pick_partitions(spark, raw_adj.count())
    snapshots: list[DataFrame] = []
    with iteration_conf(spark, shuffle_partitions=P):
        adj = (
            raw_adj.repartition(P, "to_id")
            .sortWithinPartitions("to_id")
            .persist()
        )
        adj.count()
        raw_adj.unpersist()
        state = (
            graph.ids()
            .selectExpr("id", *[_fm_mask_expr(seed, r) for r in range(m)])
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
        # depth-0 snapshot: B_0 = {v} as SEEN BY THE REGISTERS (an FM
        # estimate ~1.3-2.6, not exactly 1) -- hyperball_centrality needs
        # it as the lag baseline of the dist=1 delta (Boldi & Vigna's
        # recipe discounts from B_0, not from 0)
        snapshots.append(
            state.selectExpr(
                "id AS node",
                "CAST(0 AS BIGINT) AS dist",
                f"({r_sum_expr}) AS r_sum",
            )
        )
        for h in range(1, int(max_depth) + 1):
            msgs = (
                adj.join(state, adj.to_id == state.id)
                .groupBy(F.col("from_id").alias("id"))
                .agg(*[F.expr(f"bit_or(m{r})").alias(f"g{r}") for r in range(m)])
            )
            state = (
                state.join(msgs, "id", "left")
                .select(
                    "id",
                    *[
                        F.expr(f"m{r} | coalesce(g{r}, CAST(0 AS BIGINT))").alias(
                            f"m{r}"
                        )
                        for r in range(m)
                    ],
                )
                .repartition(P, "id")
                .localCheckpoint(eager=True)
            )
            snapshots.append(
                state.selectExpr(
                    "id AS node",
                    f"CAST({h} AS BIGINT) AS dist",
                    f"({r_sum_expr}) AS r_sum",
                )
            )
        adj.unpersist()
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionByName(s)
    return out


def hyperball_centrality(
    graph: LinkGraph,
    n_replicas: int = 8,
    max_depth: int = 8,
    seed: int = 42,
    direction: str = "both",
    partitions: int | None = None,
) -> DataFrame:
    """Approximate per-node harmonic centrality from HyperBall registers —
    ``(node, ball, harmonic_est)`` at ``max_depth``: ``ball`` is the FM
    estimate of ``|B(v, max_depth)|`` (including v) and ``harmonic_est ≈
    Σ_{h≥1} (|B_h|−|B_{h−1}|)/h`` (Boldi & Vigna's discounted-centrality
    recipe with the harmonic discount), where ``B_0`` is the node's OWN
    depth-0 register estimate (the FM reading of the singleton {v}, not
    0) — so the self-ball noise is subtracted out of the dist-1 credit
    rather than counted as a neighbour.

    Float arithmetic is dyadic-exact: ``2^{r_sum/m}`` is computed as
    ``(1 << r_sum div m) · C[r_sum mod m]`` with string-parsed constants
    (bit-identical across engines), so even the ESTIMATE columns replay
    in SQL — rounding absorbs nothing.  Requires ``n_replicas == 8``
    (the constant table); the register surface itself is m-generic.
    """
    if int(n_replicas) != 8:
        raise ValueError("hyperball_centrality requires n_replicas=8")
    regs = hyperball_nodes(
        graph, n_replicas, max_depth, seed, direction, partitions
    )
    cases = " ".join(
        f"WHEN {j} THEN CAST('{c}' AS DOUBLE)"
        for j, c in enumerate(_POW2_EIGHTHS)
    )
    ball = F.expr(
        f"(CAST(shiftleft(CAST(1 AS BIGINT), CAST(r_sum DIV 8 AS INT)) AS DOUBLE)"
        f" * (CASE CAST(r_sum % 8 AS INT) {cases} END))"
        f" / CAST('0.77351' AS DOUBLE)"
    )
    per_depth = regs.select("node", "dist", ball.alias("ball"))
    from pyspark.sql import Window as W

    w = W.partitionBy("node").orderBy("dist")
    # dist=0 rows exist in the register surface, so the lag baseline of
    # the dist=1 delta is B_0 (the self-ball estimate), per Boldi-Vigna
    grow = per_depth.select(
        "node",
        "dist",
        "ball",
        (F.col("ball") - F.lag("ball", 1, 0.0).over(w)).alias("delta"),
    )
    # the harmonic sum is folded in DIST ORDER over a sorted array — a bare
    # SUM would accumulate the inexact delta/dist terms in partition order
    # and lose cross-engine (and cross-run-layout) bit-stability
    agg = grow.groupBy("node").agg(
        F.max(F.when(F.col("dist") == int(max_depth), F.col("ball"))).alias(
            "ball"
        ),
        F.array_sort(F.collect_list(F.struct("dist", "delta"))).alias("ds"),
    )
    return agg.select(
        "node",
        "ball",
        F.expr(
            "aggregate(filter(ds, x -> x.dist > 0), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x.delta / CAST(x.dist AS DOUBLE))"
        ).alias("harmonic_est"),
    )


def eccentricity(
    graph: LinkGraph,
    seeds: list[str] | None = None,
    first_k: int = 8,
    direction: str = "both",
    max_depth: int = 64,
) -> DataFrame:
    """Eccentricity of a seed set — ``(name, id, eccentricity,
    n_reached)`` with ``ecc(v) = max_u d(v, u)`` over the nodes v reaches;
    ``max(eccentricity)`` over any seed set lower-bounds the diameter
    (the standard sampled-diameter certificate alongside the ANF/HyperBall
    estimate).  One more reduction over the SAME single
    :func:`multi_source_bfs` harmonic/closeness/neighborhood use."""
    ids = graph.ids()
    seed_ids = _resolve_seed_ids(graph, seeds, first_k)
    visited = multi_source_bfs(graph, seed_ids, direction, max_depth)
    agg = (
        visited.filter(F.col("dist") > 0)
        .groupBy(F.col("seed").alias("id"))
        .agg(
            F.max("dist").alias("eccentricity"),
            F.count("*").alias("n_reached"),
        )
    )
    return (
        seed_ids.join(ids, "id")
        .join(agg, "id", "left")
        .select(
            "name",
            "id",
            F.coalesce("eccentricity", F.lit(0)).cast("long").alias(
                "eccentricity"
            ),
            F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
        )
    )


def landmark_distances(
    graph: LinkGraph,
    seeds: list[str] | None = None,
    first_k: int = 4,
    direction: str = "both",
    max_depth: int = 64,
) -> DataFrame:
    """Landmark (pivot) distance table — ``(landmark, node, dist)`` for
    every reached pair: the classic distance sketch (ALT preprocessing /
    Das Sarma et al., WSDM 2010) that answers online queries by the
    triangle bound ``d(u,v) ≤ min_l d(u,l) + d(l,v)`` —
    :func:`approx_distance` evaluates it as two joins.  Stored cost is
    O(k·n) rows; exact pairwise distance tables are O(n²) and unpayable
    at scale.  Just the :func:`multi_source_bfs` relation with the
    landmark set as seeds."""
    visited = multi_source_bfs(
        graph, _resolve_seed_ids(graph, seeds, first_k), direction, max_depth
    )
    return visited.select(
        F.col("seed").alias("landmark"), F.col("id").alias("node"), "dist"
    )


def approx_distance(
    landmarks: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Upper-bound distances for a ``(u, v)`` pair table from a
    :func:`landmark_distances` relation — ``(u, v, dist_ub)`` via
    ``min_l d(u,l) + d(l,v)``; NULL when no landmark reaches both (the
    pair may still be connected — landmarks certify upper bounds only).
    Two hash joins + one aggregate, no BFS at query time."""
    lu = landmarks.select(
        F.col("node").alias("u"), "landmark", F.col("dist").alias("du")
    )
    lv = landmarks.select(
        F.col("node").alias("v"), "landmark", F.col("dist").alias("dv")
    )
    return (
        pairs.join(lu, "u")
        .join(lv, ["v", "landmark"])
        .groupBy("u", "v")
        .agg(F.min(F.col("du") + F.col("dv")).alias("dist_ub"))
        .join(pairs, ["u", "v"], "right")
    )


def graph_efficiency(
    graph: LinkGraph,
    seeds: list[str] | None = None,
    first_k: int = 8,
    direction: str = "both",
    max_depth: int = 64,
) -> DataFrame:
    """Wiener index and global efficiency over a seed sample — ONE row
    ``(n_seeds, n_pairs, wiener_sum, avg_dist_ppm, eff_ppm_sum,
    avg_eff_ppm, n_pairs_total, global_eff_ppm)``.

    Over the exact (seed, node) BFS distances (the same batched
    :func:`multi_source_bfs` behind harmonic/closeness/eccentricity):
    ``wiener_sum = Σ d`` (the sampled Wiener index), ``eff_ppm_sum =
    Σ (1e6 div d)`` (Latora–Marchiori efficiency, each pair's 1/d as an
    exact integer-ppm term — no float accumulation, so the scalar is
    bit-stable at any partitioning).  Two means are emitted and they
    differ on disconnected graphs:

    - ``avg_eff_ppm`` is the **reached-pair mean** — ``eff_ppm_sum``
      over reached pairs only (``n_pairs``); unreachable pairs are
      EXCLUDED from this denominator, so it is NOT standard global
      efficiency on a disconnected graph.
    - ``global_eff_ppm`` is the **standard Latora–Marchiori global
      efficiency** — ``eff_ppm_sum div n_pairs_total`` where
      ``n_pairs_total = n_seeds_resolved · (n − 1)`` counts every
      ordered (seed, other-node) pair, reached or not (unreachable
      pairs contribute efficiency 0 to the numerator and 1 to the
      denominator).

    ``wiener_sum``/``avg_dist_ppm`` keep the reached-pair convention
    (an unreachable pair has no finite distance to sum).  Pairs at
    dist 0 (the seeds) are excluded everywhere.  All aggregation is one
    hash aggregate over the shared BFS table plus two driver-side
    scalars (node count, resolved seed count).
    """
    seed_ids = _resolve_seed_ids(graph, seeds, first_k)
    n_seeds_resolved = seed_ids.count()
    n_nodes = graph.ids().count()
    n_pairs_total = max(1, n_seeds_resolved * max(0, n_nodes - 1))
    visited = multi_source_bfs(graph, seed_ids, direction, max_depth)
    pairs = visited.filter(F.col("dist") >= 1)
    return pairs.agg(
        F.countDistinct("seed").alias("n_seeds"),
        F.count("*").alias("n_pairs"),
        F.sum("dist").alias("wiener_sum"),
        F.expr("(sum(dist) * 1000000) div count(*)").alias("avg_dist_ppm"),
        F.sum(F.expr("1000000 div dist")).alias("eff_ppm_sum"),
        F.expr("sum(1000000 div dist) div count(*)").alias("avg_eff_ppm"),
        F.lit(n_pairs_total).cast("long").alias("n_pairs_total"),
        F.expr(f"sum(1000000 div dist) div {n_pairs_total}L").alias(
            "global_eff_ppm"
        ),
    )
