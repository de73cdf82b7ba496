"""Graph metrics: degree stats/centrality, reciprocity, density.

Reference semantics:

- degree stats (raphtory/src/algorithms/metrics/degree.rs:49-90): max / min /
  average over BOTH-direction distinct-neighbour degrees (plus in/out
  variants);
- degree centrality (centrality/degree_centrality.rs:20-56):
  ``degree(v) / max_degree`` (0.0 when NaN/inf);
- reciprocity (metrics/reciprocity.rs:88-160), self-loops excluded:
  global = Σ|out∩in| / Σ|out|; local = 2·|out∩in| / (|out|+|in|), 0 if NaN;
- directed density (metrics/directed_graph_density.rs:37):
  E / (V·(V−1)) on deduplicated logical edges.

All are one or two hash aggregates / joins — Catalyst territory, no
iteration needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.pipeline.analytics import _floor_div


def degree_stats(graph: LinkGraph) -> DataFrame:
    """One row: max/min/avg of BOTH-degree plus in/out extrema."""
    return graph.degrees().agg(
        F.max("degree").alias("max_degree"),
        F.min("degree").alias("min_degree"),
        F.avg("degree").alias("avg_degree"),
        F.max("out_degree").alias("max_out_degree"),
        F.min("out_degree").alias("min_out_degree"),
        F.max("in_degree").alias("max_in_degree"),
        F.min("in_degree").alias("min_in_degree"),
    )


def degree_centrality(graph: LinkGraph) -> DataFrame:
    """``(name, id, centrality)`` = degree / max_degree."""
    deg = graph.degrees()
    mx = deg.agg(F.max("degree")).first()[0] or 0
    out = deg.join(graph.ids(), "id").select(
        "name",
        "id",
        (
            F.when(F.lit(mx) > 0, F.col("degree") / F.lit(float(mx))).otherwise(0.0)
        ).alias("centrality"),
    )
    return out


def _nonself_edges(graph: LinkGraph) -> DataFrame:
    return graph.edge_ids().filter(F.col("src_id") != F.col("dst_id"))


def global_reciprocity(graph: LinkGraph) -> float:
    """Fraction of non-self directed edges whose reverse edge exists."""
    e = _nonself_edges(graph)
    total = e.count()
    if total == 0:
        return 0.0
    recip = e.join(
        e.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")),
        ["src_id", "dst_id"],
        "left_semi",
    ).count()
    return recip / total


def all_local_reciprocity(graph: LinkGraph) -> DataFrame:
    """``(name, id, reciprocity)`` = 2·|out∩in| / (|out|+|in|), 0 if undefined."""
    e = _nonself_edges(graph)
    out_d = e.groupBy(F.col("src_id").alias("id")).agg(F.count("*").alias("o"))
    in_d = e.groupBy(F.col("dst_id").alias("id")).agg(F.count("*").alias("i"))
    both = (
        e.join(
            e.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")),
            ["src_id", "dst_id"],
            "left_semi",
        )
        .groupBy(F.col("src_id").alias("id"))
        .agg(F.count("*").alias("b"))
    )
    return (
        graph.ids()
        .join(out_d, "id", "left")
        .join(in_d, "id", "left")
        .join(both, "id", "left")
        .select(
            "name",
            "id",
            F.when(
                F.coalesce("o", F.lit(0)) + F.coalesce("i", F.lit(0)) > 0,
                2.0
                * F.coalesce("b", F.lit(0))
                / (F.coalesce("o", F.lit(0)) + F.coalesce("i", F.lit(0))),
            )
            .otherwise(0.0)
            .alias("reciprocity"),
        )
    )


def directed_graph_density(graph: LinkGraph) -> float:
    n = graph.count_nodes()
    if n <= 1:
        return 0.0
    return graph.count_edges() / (n * (n - 1.0))


def degree_histogram(graph: LinkGraph, direction: str = "both") -> DataFrame:
    """Degree distribution — ``(degree, n_nodes)``, the first exploratory
    query on any graph.  Two hash aggregates (degree, then histogram),
    both map-side combined."""
    col = {"both": "degree", "in": "in_degree", "out": "out_degree"}.get(direction)
    if col is None:
        raise ValueError(f"direction must be in/out/both, got {direction!r}")
    return (
        graph.degrees()
        .groupBy(F.col(col).alias("degree"))
        .agg(F.count("*").alias("n_nodes"))
    )


def avg_neighbor_degree_curve(graph: LinkGraph) -> DataFrame:
    """Degree-correlation curve knn(k) (Pastor-Satorras, Vázquez &
    Vespignani, PRL 2001) — ``(degree, knn_ppm, n_nodes)``: for each
    BOTH-degree k, the mean over nodes of degree k of their average
    neighbour degree, in integer parts-per-million.

    The assortativity scalar (`degree_assortativity`) compresses this
    curve to one correlation; the curve itself is the standard
    exploratory readout for hub-hub mixing (rising = assortative,
    falling = disassortative — web/dependency graphs typically fall).

    Integer-exact discipline: per node the average neighbour degree is
    ``(1_000_000 · Σ deg(nbr)) div deg`` (floor ppm, BIGINT), and the
    per-k mean is another floor-div — no float accumulation anywhere, so
    the result is bit-stable across engines, partitionings and summation
    orders (the docs_domain_mix representation lesson applied at design
    time).

    Shape: degree table (one hash agg over the deduped undirected view),
    one join back through the edge list carrying the neighbour's degree,
    two more hash aggregates — all map-side combinable, no UDFs, no
    windows.
    """
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    deg = und.groupBy("id").agg(F.count("*").alias("d"))
    snd = (
        und.join(
            deg.select(F.col("id").alias("nbr_id"), F.col("d").alias("nd")),
            "nbr_id",
        )
        .groupBy("id")
        .agg(F.sum("nd").alias("s"))
    )
    per_node = deg.join(snd, "id").select(
        "d", F.expr("(1000000 * s) div d").alias("and_ppm")
    )
    return per_node.groupBy(F.col("d").alias("degree")).agg(
        F.expr("sum(and_ppm) div count(*)").alias("knn_ppm"),
        F.count("*").alias("n_nodes"),
    )


def component_size_histogram(graph: LinkGraph) -> DataFrame:
    """WCC size distribution — ``(size, n_components)``: how fragmented is
    the graph?  One WCC run + two aggregates."""
    from linkgraph.algorithms.components import weakly_connected_components

    wcc = weakly_connected_components(graph)
    sizes = wcc.groupBy("component").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(F.count("*").alias("n_components"))


def rich_club(graph: LinkGraph, ks: list[int]) -> DataFrame:
    """Rich-club coefficient per degree threshold — ``(k, n_nodes, n_edges,
    phi)`` with ``phi(k) = 2·E_k / (N_k·(N_k−1))`` over the undirected
    simple graph restricted to nodes of BOTH-degree > k.

    One pass regardless of ``len(ks)``: canonical edges join the degree
    table twice (broadcast — it is one row per node), every edge carries
    ``min(deg_lo, deg_hi)``, and each threshold is a conditional sum in a
    single aggregate.  No per-k scan.
    """
    deg = graph.degrees().select("id", "degree")
    e = (
        graph.canonical_edge_ids()
        .join(F.broadcast(deg.withColumnRenamed("id", "lo")), "lo")
        .withColumnRenamed("degree", "deg_lo")
        .join(F.broadcast(deg.withColumnRenamed("id", "hi")), "hi")
        .withColumnRenamed("degree", "deg_hi")
        .select(F.least("deg_lo", "deg_hi").alias("min_deg"))
    )
    edge_counts = e.agg(
        *[
            F.sum((F.col("min_deg") > k).cast("long")).alias(f"e{k}")
            for k in ks
        ]
    )
    node_counts = deg.agg(
        *[
            F.sum((F.col("degree") > k).cast("long")).alias(f"n{k}")
            for k in ks
        ]
    )
    row_e = edge_counts.first()
    row_n = node_counts.first()
    rows = []
    for k in ks:
        nk = row_n[f"n{k}"] or 0
        ek = row_e[f"e{k}"] or 0
        phi = (2.0 * ek / (nk * (nk - 1.0))) if nk > 1 else 0.0
        rows.append((k, nk, ek, phi))
    return graph.spark.createDataFrame(
        rows, "k int, n_nodes long, n_edges long, phi double"
    )


def balance(graph: LinkGraph, weight: str, direction: str = "both") -> DataFrame:
    """Per-node signed sum of temporal edge-property values — the reference's
    weight accumulation (metrics/balance.rs:100-132, per-node semantics at
    :47-88): every temporal value of ``weight`` on IN-edges counts positive,
    on OUT-edges negative; ``direction`` picks in / out / both.

    Returns ``(name, id, balance)``.  One union + hash aggregate over the
    event table — no iteration, full map-side partial aggregation.
    """
    if weight not in graph.edges_t.columns:
        raise ValueError(f"weight property {weight!r} not found on edges")
    from linkgraph.graph import name_to_id

    w = F.col(weight).cast("double")
    parts = []
    if direction in ("in", "both"):
        parts.append(
            graph.edges_t.select(
                name_to_id(F.col("dst")).alias("id"), w.alias("v")
            )
        )
    if direction in ("out", "both"):
        parts.append(
            graph.edges_t.select(
                name_to_id(F.col("src")).alias("id"), (-w).alias("v")
            )
        )
    if not parts:
        raise ValueError(f"direction must be in/out/both, got {direction!r}")
    ev = parts[0]
    for p in parts[1:]:
        ev = ev.unionByName(p)
    sums = ev.groupBy("id").agg(F.sum("v").alias("balance"))
    return (
        graph.ids()
        .join(sums, "id", "left")
        .select("name", "id", F.coalesce("balance", F.lit(0.0)).alias("balance"))
    )


def inter_event_stats(
    graph: LinkGraph, min_events: int = 3, unit_ms: int = 86_400_000
) -> DataFrame:
    """Per-edge inter-event-time statistics over the EVENT table (not the
    dedup'd edge set) — ``(src, dst, n_events, mean_gap, std_gap,
    burstiness)`` with gaps floor-divided into ``unit_ms`` units
    (default: days).

    Burstiness ``B = (σ−μ)/(σ+μ)`` (Goh & Barabási, EPL 2008): −1
    perfectly regular, 0 Poisson, →1 bursty; 0 when σ+μ = 0 (all events
    simultaneous).  One window pass (lag per edge, time-ordered — the gap
    MULTISET is invariant to tie ordering among equal timestamps) + one
    hash aggregate.  σ comes from exact BIGINT moment sums Σg, Σg² (no
    per-gap float accumulation), so the statistic is bit-reproducible
    across engines and partitionings.  Reference analogue: the raw
    ``edge.history()`` surface (python/graph/edge.rs) whose consumers
    compute exactly these reductions driver-side; this ships the reduced
    statistic distributed.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("src", "dst").orderBy("t")
    gaps = (
        graph.edges_t.select(
            "src", "dst", F.col("time").cast("long").alias("t")
        )
        .select("src", "dst", (F.col("t") - F.lag("t").over(w)).alias("dt"))
        .select("src", "dst", _floor_div("dt", int(unit_ms)).alias("gap"))
    )
    agg = (
        gaps.groupBy("src", "dst")
        .agg(
            F.count("*").alias("n_events"),
            F.count("gap").alias("m"),
            F.sum("gap").alias("sum_g"),
            F.sum(F.col("gap") * F.col("gap")).alias("sum_g2"),
        )
        .filter(F.col("n_events") >= int(min_events))
    )
    mean = F.col("sum_g").cast("double") / F.col("m")
    var = F.greatest(
        F.col("sum_g2").cast("double") / F.col("m") - mean * mean,
        F.lit(0.0),
    )
    std = F.sqrt(var)
    return agg.select(
        "src",
        "dst",
        "n_events",
        mean.alias("mean_gap"),
        std.alias("std_gap"),
        F.when(std + mean == F.lit(0.0), F.lit(0.0))
        .otherwise((std - mean) / (std + mean))
        .alias("burstiness"),
    )


def edge_turnover(graph: LinkGraph, bucket_ms: int) -> DataFrame:
    """Edge-set turnover between consecutive tumbling windows — ``(bucket,
    n_edges, births, deaths, survived, jaccard)`` where ``bucket =
    time div bucket_ms``, the edge set of a bucket is its distinct (src,
    dst) pairs, births/deaths/survived compare against the IMMEDIATELY
    PRECEDING calendar bucket ``b-1`` — an empty intermediate bucket (a
    gap with no events) RESETS the edge set, so the first non-empty
    bucket after a gap reports 100% births, by design: turnover measures
    consecutive-window persistence, not persistence across gaps (compare
    against the last non-empty bucket yourself if you want that — one
    extra ``last_value(ignore nulls)`` window) — and ``jaccard =
    survived / |union|`` measures structural persistence.

    The canonical temporal-evolution readout over a WindowSet (SURVEY
    §2.2's rolling views): one distinct, one shifted self-join, one
    aggregate — no iteration.  Counts are exact; the single float division
    replays bit-identically in SQL.
    """
    eb = (
        graph.edges_t.select(
            "src",
            "dst",
            _floor_div("time", int(bucket_ms)).alias("bucket"),
        )
        .distinct()
    )
    cur = eb.select("src", "dst", "bucket", F.lit(1).alias("cur"))
    prv = eb.select(
        "src", "dst", (F.col("bucket") + 1).alias("bucket"), F.lit(1).alias("prv")
    )
    j = cur.join(prv, ["src", "dst", "bucket"], "full_outer")
    agg = (
        j.groupBy("bucket")
        .agg(
            F.sum(F.coalesce("cur", F.lit(0))).alias("n_edges"),
            F.sum(
                (F.col("cur").isNotNull() & F.col("prv").isNull()).cast("long")
            ).alias("births"),
            F.sum(
                (F.col("prv").isNotNull() & F.col("cur").isNull()).cast("long")
            ).alias("deaths"),
            F.sum(
                (F.col("cur").isNotNull() & F.col("prv").isNotNull()).cast("long")
            ).alias("survived"),
        )
        # the shift manufactures a phantom bucket AFTER the last real one
        # (pure deaths); keep only buckets that actually have events
        .join(eb.select("bucket").distinct(), "bucket", "left_semi")
    )
    return agg.select(
        "bucket",
        "n_edges",
        "births",
        "deaths",
        "survived",
        (
            F.col("survived").cast("double")
            / (F.col("n_edges") + F.col("deaths"))
        ).alias("jaccard"),
    )


def community_conductance(graph: LinkGraph, labels: DataFrame) -> DataFrame:
    """Per-community conductance over the undirected simple graph —
    ``(community, n_nodes, internal_edges, cut_edges, vol, conductance)``.

    The standard partition-quality metric (φ(S) = cut(S) / min(vol(S),
    vol(V∖S)), vol = Σ degree): how well a labelling — LPA / WCC /
    Louvain output, or any node attribute — separates the graph.
    ``labels`` is ``(id, community)``; unlabelled nodes are ignored and an
    edge counts toward the cut of BOTH endpoint communities.  Singleton
    partitions covering the whole volume get NULL conductance (min-side
    volume 0).

    Scale shape: canonical edges join the node-sized label table twice on
    the endpoint ids (shuffle joins Catalyst/AQE is free to broadcast),
    then ONE edge pass — each edge explodes to per-community
    (internal, cut) contribution rows, so internal and cut counts share a
    single map-side-combined hash aggregate instead of scanning the edge
    relation twice.  The per-community table (tiny) is lineage-cut before
    the total-volume broadcast so the edge pipeline runs exactly once.
    No iteration; the conductance itself is one IEEE division of two
    exact BIGINTs, so the value is engine-reproducible bit-for-bit.

    Reference anchor: complements modularity (community.rs) — same edge
    bookkeeping, cut-based instead of null-model-based.
    """
    lab = labels.select(F.col("id"), F.col("community"))
    e = (
        graph.canonical_edge_ids()
        .join(lab.withColumnRenamed("id", "lo").withColumnRenamed("community", "c_lo"), "lo")
        .join(lab.withColumnRenamed("id", "hi").withColumnRenamed("community", "c_hi"), "hi")
    )
    same = F.col("c_lo") == F.col("c_hi")
    contrib = (
        e.select(
            F.explode(
                F.when(
                    same,
                    F.array(
                        F.struct(
                            F.col("c_lo").alias("community"),
                            F.lit(1).alias("i"),
                            F.lit(0).alias("k"),
                        )
                    ),
                ).otherwise(
                    F.array(
                        F.struct(
                            F.col("c_lo").alias("community"),
                            F.lit(0).alias("i"),
                            F.lit(1).alias("k"),
                        ),
                        F.struct(
                            F.col("c_hi").alias("community"),
                            F.lit(0).alias("i"),
                            F.lit(1).alias("k"),
                        ),
                    )
                )
            ).alias("x")
        )
        .select("x.*")
        .groupBy("community")
        .agg(
            F.sum("i").cast("long").alias("internal_edges"),
            F.sum("k").cast("long").alias("cut_edges"),
        )
    )
    nodes = lab.groupBy("community").agg(F.count("*").alias("n_nodes"))
    per = (
        nodes.join(contrib, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0)).cast("long").alias("internal_edges"),
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
        )
        .withColumn(
            "vol", (F.lit(2) * F.col("internal_edges") + F.col("cut_edges")).cast("long")
        )
        .localCheckpoint(eager=False)
    )
    total = per.agg(F.sum("vol").alias("_tv"))
    min_vol = F.least(F.col("vol"), F.col("_tv") - F.col("vol"))
    return per.crossJoin(F.broadcast(total)).select(
        "community",
        "n_nodes",
        "internal_edges",
        "cut_edges",
        "vol",
        F.when(min_vol > 0, F.col("cut_edges") / min_vol).alias("conductance"),
    )


def edge_delta(before: LinkGraph, after: LinkGraph) -> DataFrame:
    """Structural diff of two graph views — ``(src, dst, status)`` over
    the union of both DISTINCT logical edge sets, ``status`` ∈
    ``added`` (only in ``after``) / ``removed`` (only in ``before``) /
    ``retained`` (in both).

    The graph-evolution readout for any pair of views (two windows, two
    layers, snapshot vs live): pair it with :func:`edge_turnover` when
    you want per-bucket counts instead of the edge list.  Works on edge
    NAMES (``edges_t``), so the output is directly human-readable and
    join-able back to either view.

    Scale shape: two distinct aggregates + one full outer join on the
    edge key, all hash-partitioned on (src, dst) — Catalyst plans a
    single co-partitioned exchange per side; no iteration, no driver
    state.
    """
    a = before.edges_t.select("src", "dst").distinct()
    b = after.edges_t.select("src", "dst").distinct()
    return (
        a.withColumn("_a", F.lit(1))
        .join(b.withColumn("_b", F.lit(1)), ["src", "dst"], "full_outer")
        .select(
            "src",
            "dst",
            F.when(F.col("_a").isNull(), F.lit("added"))
            .when(F.col("_b").isNull(), F.lit("removed"))
            .otherwise(F.lit("retained"))
            .alias("status"),
        )
    )


def reciprocation_latency(graph: LinkGraph) -> DataFrame:
    """Per directed pair, how fast edge events get reciprocated —
    ``(src, dst, n_events, n_reciprocated, min_latency, sum_latency)``.

    For every edge EVENT ``(u, v, t)`` the reciprocation time is the
    earliest opposite-direction event ``(v, u, t')`` with ``t' > t``
    (strictly later; same-instant mutual events do not reciprocate each
    other), its latency ``t' − t``.  Latencies aggregate per ordered
    pair; ``n_reciprocated`` counts events that ever get answered.
    Self-loops are excluded (direction is undefined).

    This is an as-of join expressed WITHOUT a join: events shuffle once
    on the unordered pair key, and two conditional running minima over
    the ``RANGE (t+1 … ∞)`` frame (one per direction) give each event
    its next opposite-direction time in a single window pass — the
    temporal dual of the reciprocity operators above
    (metrics/reciprocity.rs:88-160), which see only the deduplicated
    logical edge set.  Scale shape: one exchange (pair key), one
    window, one hash aggregate on the same key — no shuffle of a
    self-joined event table, no skew beyond the pair key itself.
    """
    from pyspark.sql import Window

    ev = (
        graph.edges_t.select("src", "dst", F.col("time").cast("long").alias("t"))
        .filter(F.col("src") != F.col("dst"))
        .withColumn("a", F.least("src", "dst"))
        .withColumn("b", F.greatest("src", "dst"))
        .withColumn("fwd", F.col("src") == F.col("a"))
    )
    # RANGE frame over t ascending, starting at t+1: strictly-later events
    # only, deterministic under same-instant ties at any parallelism
    w = (
        Window.partitionBy("a", "b")
        .orderBy("t")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    nxt_fwd = F.min(F.when(F.col("fwd"), F.col("t"))).over(w)
    nxt_rev = F.min(F.when(~F.col("fwd"), F.col("t"))).over(w)
    scored = ev.withColumn(
        "recip_t", F.when(F.col("fwd"), nxt_rev).otherwise(nxt_fwd)
    )
    return scored.groupBy("src", "dst").agg(
        F.count("*").alias("n_events"),
        F.count("recip_t").alias("n_reciprocated"),
        F.min(F.col("recip_t") - F.col("t")).alias("min_latency"),
        F.sum(F.col("recip_t") - F.col("t")).alias("sum_latency"),
    )


def component_cycle_ranks(graph: LinkGraph) -> DataFrame:
    """Cycle rank (cyclomatic number) per weakly connected component —
    ``(component, n_nodes, n_edges, cycle_rank)`` with ``cycle_rank =
    m − n + 1`` over the deduplicated undirected logical edge set.

    Rank 0 means the component is a tree (no redundant links); rank k
    means k independent cycles — a structural health metric for link
    graphs (how much of the component survives any single edge loss).
    One WCC run + one semi-join of the logical edges onto their
    component + two hash aggregates; the edge side joins on one
    endpoint only (both endpoints share a component by definition).
    """
    from linkgraph.algorithms.components import weakly_connected_components

    wcc = weakly_connected_components(graph)
    pairs = (
        graph.undirected_edge_ids()
        .filter(F.col("id") < F.col("nbr_id"))
        .select("id", "nbr_id")
        .distinct()
    )
    nodes = wcc.groupBy("component").agg(F.count("*").alias("n_nodes"))
    edges = (
        pairs.join(wcc.select("id", "component"), "id")
        .groupBy("component")
        .agg(F.count("*").alias("n_edges"))
    )
    return (
        nodes.join(edges, "component", "left")
        .select(
            "component",
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            (F.coalesce("n_edges", F.lit(0)) - F.col("n_nodes") + F.lit(1)).alias(
                "cycle_rank"
            ),
        )
    )


def attack_robustness(graph: LinkGraph, ks: list[int]) -> DataFrame:
    """Targeted-attack percolation curve — for each ``k`` in ``ks``,
    remove the top-k nodes by (BOTH-degree desc, id asc) and report
    ``(k, n_nodes_left, giant_size, n_components)`` of what remains
    (isolated survivors count as singleton components).

    The Albert–Barabási attack-tolerance readout: how fast does the
    giant component shatter as hubs are deleted?  A link graph whose
    giant survives deep into the curve tolerates crawler gaps and
    spam-node removal; a curve that collapses at k=2 says two hub
    repos hold the corpus together.  Deterministic: degree ties break
    on node id, so every engine removes the same set.

    Shape: the node ranking is ONE window over the degree table; each
    ``k`` then costs one anti-join edge filter plus a WCC run on the
    residual — the driver loop is bounded by ``len(ks)`` (pass the few
    ks you plot, not a range).  Isolated-survivor accounting is two
    slim distincts, no extra shuffle of the edge table.
    """
    from pyspark.sql import Window

    from linkgraph.algorithms.components import weakly_connected_components
    from linkgraph.graph import LinkGraph as _LG

    deg = graph.degrees().select("id", "degree")
    w = Window.orderBy(F.desc("degree"), F.asc("id"))
    ranked = deg.withColumn("rk", F.row_number().over(w)).persist()
    ranked.count()
    pairs = (
        graph.undirected_edge_ids()
        .filter(F.col("id") < F.col("nbr_id"))
        .select("id", "nbr_id")
        .distinct()
        .persist()
    )
    pairs.count()
    spark = graph.spark
    out_rows = []
    for k in ks:
        removed = ranked.filter(F.col("rk") <= k).select("id")
        survivors = ranked.filter(F.col("rk") > k).select("id")
        kept = (
            pairs.join(removed, "id", "left_anti")
            .join(
                removed.select(F.col("id").alias("nbr_id")), "nbr_id", "left_anti"
            )
        )
        n_left = survivors.count()
        if kept.isEmpty():
            out_rows.append((k, n_left, min(1, n_left), n_left))
            continue
        edges = kept.select(
            F.col("id").cast("string").alias("src"),
            F.col("nbr_id").cast("string").alias("dst"),
        ).withColumn("time", F.lit(0).cast("long"))
        wcc = weakly_connected_components(_LG(edges))
        comp_sizes = wcc.groupBy("component").agg(F.count("*").alias("sz"))
        giant, n_comp = comp_sizes.agg(
            F.max("sz"), F.count("*")
        ).first()
        covered = wcc.count()
        isolated = n_left - covered
        out_rows.append((k, n_left, int(giant), int(n_comp) + isolated))
    ranked.unpersist()
    pairs.unpersist()
    return spark.createDataFrame(
        out_rows, "k long, n_nodes_left long, giant_size long, n_components long"
    )


def degree_gini(graph: LinkGraph) -> DataFrame:
    """Degree-inequality Gini coefficient — ONE row ``(n_nodes,
    sum_degree, gini_ppm)`` over the BOTH-direction distinct degrees.

    The Lorenz-curve readout of hub concentration: 0 = perfectly even
    crawl load, towards 1 = a few hub repos hold almost all links (the
    same skew the salting/broadcast machinery exists to absorb — this
    is the scalar that says how much that machinery matters for a given
    snapshot).  Exact integer arithmetic via the sorted-sum identity
    ``G = (2·Σ i·d_i − (n+1)·Σd) / (n·Σd)`` with ranks assigned by
    (degree, id) — deterministic under ties — and the result in floor
    ppm.  One window rank + one aggregate; at 100 TB swap the global
    rank for the two-pass range-bucketed prefix sum used elsewhere
    (degrees are boundedly skewed, so range buckets stay balanced).
    """
    from pyspark.sql import Window

    deg = graph.degrees().select("id", "degree")
    w = Window.orderBy(F.asc("degree"), F.asc("id"))
    ranked = deg.withColumn("i", F.row_number().over(w).cast("long"))
    return ranked.agg(
        F.count("*").alias("n_nodes"),
        F.sum("degree").alias("sum_degree"),
        F.expr(
            "CASE WHEN sum(degree) = 0 OR count(*) = 0 THEN 0 ELSE "
            "((2 * sum(i * degree) - (count(*) + 1) * sum(degree)) * 1000000)"
            " div (count(*) * sum(degree)) END"
        ).alias("gini_ppm"),
    )


def graph_summary(graph: LinkGraph) -> DataFrame:
    """One-row graph profile — ``(n_nodes, n_edges, n_events, earliest,
    latest, density_ppm, max_degree, degree_gini_ppm, n_components,
    giant_ppm)``: the `describe()` of a link graph, composing the
    counting, window, degree, inequality, and component surfaces into a
    single diagnostic row (directed density E/(V·(V−1)) in floor ppm;
    ``giant_ppm`` = share of nodes in the largest WCC).

    Everything is exact integer arithmetic over operators that are
    individually oracle-checked; cost = one scan for the counts + one
    degree aggregate + one WCC run — the natural first query against an
    unfamiliar snapshot, and cheap enough to run per ingest batch as a
    data-quality gate (alert on density or giant-share drift).
    """
    from linkgraph.algorithms.components import weakly_connected_components

    spark = graph.spark
    n_nodes = graph.count_nodes()
    n_edges = graph.count_edges()
    n_events = graph.count_temporal_edges()
    # inclusive event-time extremes (time_bounds() is end-EXCLUSIVE — a
    # windowing convention, not a profile one)
    t0, t1 = graph.edges_t.agg(F.min("time"), F.max("time")).first()
    deg = graph.degrees()
    max_deg = deg.agg(F.max("degree")).first()[0] or 0
    gini = degree_gini(graph).first()["gini_ppm"]
    wcc = weakly_connected_components(graph)
    sizes = wcc.groupBy("component").agg(F.count("*").alias("sz"))
    giant, n_comp = sizes.agg(F.max("sz"), F.count("*")).first()
    density_ppm = (
        (1_000_000 * n_edges) // (n_nodes * (n_nodes - 1))
        if n_nodes > 1
        else 0
    )
    return spark.createDataFrame(
        [
            (
                n_nodes,
                n_edges,
                n_events,
                t0,
                t1,
                density_ppm,
                int(max_deg),
                int(gini),
                int(n_comp or 0),
                (1_000_000 * int(giant or 0)) // n_nodes if n_nodes else 0,
            )
        ],
        "n_nodes long, n_edges long, n_events long, earliest long, "
        "latest long, density_ppm long, max_degree long, "
        "degree_gini_ppm long, n_components long, giant_ppm long",
    )


def clustering_degree_curve(graph: LinkGraph) -> DataFrame:
    """Clustering-vs-degree curve c(k) — ``(degree, n_nodes,
    mean_c_ppm)``: per distinct-degree bucket, the mean local
    clustering coefficient in floor ppm (per node ``c = 2t/(d(d−1))``
    as integer ppm first, then a floor-ppm mean over the bucket).

    The Vázquez/Ravasz hierarchical-structure diagnostic: a c(k) that
    decays like 1/k marks modular hierarchy (hub edges bridge
    communities), flat c(k) marks degree-independent cohesion.  Pure
    composition: one wedge self-join for per-node triangle counts, the
    degree table, two floor divisions — all exact integers, so the
    curve is bit-stable at any parallelism.  Degree-1 nodes (undefined
    c) are excluded, matching the clustering-coefficient convention.
    """
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    deg = und.groupBy("id").agg(F.count("*").alias("d"))
    # per-node triangle participation: wedges (w)-(id)-(w2) closed by an
    # edge between w and w2 — each triangle counted twice per corner,
    # so t = closed_wedges / 2
    a = und.select(F.col("id").alias("id"), F.col("nbr_id").alias("w"))
    b = und.select(F.col("id").alias("id"), F.col("nbr_id").alias("w2"))
    closure = und.select(
        F.col("id").alias("w"), F.col("nbr_id").alias("w2")
    )
    tri2 = (
        a.join(b, "id")
        .filter(F.col("w") != F.col("w2"))
        .join(closure, ["w", "w2"], "left_semi")
        .groupBy("id")
        .agg((F.count("*") / 2).cast("long").alias("t"))
    )
    per_node = (
        deg.filter(F.col("d") >= 2)
        .join(tri2, "id", "left")
        .select(
            "d",
            F.expr(
                "(2 * coalesce(t, 0) * 1000000) div (d * (d - 1))"
            ).alias("c_ppm"),
        )
    )
    return per_node.groupBy(F.col("d").alias("degree")).agg(
        F.count("*").alias("n_nodes"),
        F.expr("sum(c_ppm) div count(*)").alias("mean_c_ppm"),
    )


def rich_core(graph: LinkGraph) -> DataFrame:
    """Rich-core detection (Ma & Mondragon, "Rich-cores in networks",
    PLoS ONE 2015) — ``(node, degree, sigma, in_core)``: nodes are ranked
    by BOTH-degree (ties by node name as long, ascending), ``sigma`` is
    each node's number of links to HIGHER-ranKED nodes, and the core
    boundary is the rank where sigma peaks — every node ranked at or
    above the peak is ``in_core``.  The parameter-free core/periphery
    split that complements :func:`rich_club` (which gives the phi(k)
    curve but no boundary).

    Scale shape: NO global rank window (a single-partition sort killer at
    20M nodes).  The rank ORDER is only ever used through pairwise
    comparisons — sigma is a per-edge predicate sum
    (``deg_v > deg_u OR (deg_v = deg_u AND v < u)``) over the undirected
    adjacency, and the boundary is one argmax row collected to the
    driver, after which ``in_core`` is the same pairwise predicate
    against the broadcast boundary node.  One degree aggregate + one
    adjacency join + one 1-row argmax.
    """
    names = graph.ids().select(
        "id", F.col("name").cast("long").alias("node")
    )
    deg = graph.degrees().select("id", "degree").join(names, "id")
    und = graph.undirected_edge_ids()
    du = deg.select(
        F.col("id"), F.col("node").alias("u_node"), F.col("degree").alias("u_deg")
    )
    dv = deg.select(
        F.col("id").alias("nbr_id"),
        F.col("node").alias("v_node"),
        F.col("degree").alias("v_deg"),
    )
    above = (F.col("v_deg") > F.col("u_deg")) | (
        (F.col("v_deg") == F.col("u_deg"))
        & (F.col("v_node") < F.col("u_node"))
    )
    sig = (
        und.join(du, "id")
        .join(dv, "nbr_id")
        .groupBy("id")
        .agg(F.sum(F.when(above, 1).otherwise(0)).alias("sigma"))
    )
    rows = deg.join(sig, "id", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce("sigma", F.lit(0)).cast("long").alias("sigma"),
    )
    b = (
        rows.orderBy(F.desc("sigma"), F.desc("degree"), F.asc("node"))
        .limit(1)
        .collect()[0]
    )
    in_core = (F.col("degree") > F.lit(b["degree"])) | (
        (F.col("degree") == F.lit(b["degree"]))
        & (F.col("node") <= F.lit(b["node"]))
    )
    return rows.select("node", "degree", "sigma", in_core.alias("in_core"))


def percolation_profile(
    graph: LinkGraph, ps: tuple = (25, 50, 75), salt: str = "perc"
) -> DataFrame:
    """Random bond-percolation profile — one row per retention level p:
    ``(p_pct, n_edges_kept, n_nodes_touched, giant_size, giant_ppm)``
    where each simple directed edge survives iff its quenched 60-bit md5
    (``salt:src:dst``) mod 100 is below ``p_pct``, and ``giant_ppm`` is
    the largest weak component over the ORIGINAL node count in floor ppm.

    The random-removal twin of :func:`attack_robustness` (which removes
    top-degree nodes): together they give the Albert–Jeong–Barabási
    error-vs-attack readout — scale-free graphs keep their giant
    component under random edge loss but shatter under targeted hub
    removal.  The keep rule is a pure function of the edge key, so the
    profile is stable under growth and repartitioning (same quenched-md5
    convention as ``hash_split``).

    Cost: one WCC fixpoint per retention level over the SURVIVING edges
    only (|ps| is a small query constant); the keep filter is map-side.
    """
    from linkgraph.algorithms.components import weakly_connected_components
    from linkgraph.pipeline.sampling import hash_key

    spark = graph.spark
    edges = graph.edges().select("src", "dst")
    hv = hash_key(
        F.concat(F.col("src"), F.lit(":"), F.col("dst")), salt
    ) % 100
    n_total = graph.ids().count()
    rows = []
    for p in ps:
        kept = edges.filter(hv < int(p)).persist()
        n_kept = kept.count()
        if n_kept == 0:
            rows.append((int(p), 0, 0, 0, 0))
            kept.unpersist()
            continue
        sub = LinkGraph(kept.withColumn("time", F.lit(0).cast("long")))
        comp = weakly_connected_components(sub).persist()
        n_touched = comp.count()
        giant = (
            comp.groupBy("component")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        rows.append(
            (
                int(p),
                n_kept,
                n_touched,
                int(giant),
                int(giant) * 1_000_000 // max(n_total, 1),
            )
        )
        comp.unpersist()
        kept.unpersist()
    return spark.createDataFrame(
        rows,
        "p_pct long, n_edges_kept long, n_nodes_touched long, "
        "giant_size long, giant_ppm long",
    )
