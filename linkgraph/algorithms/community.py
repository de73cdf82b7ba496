"""Community detection: modularity + deterministic distributed Louvain.

Reference semantics (community_detection/modularity.rs, louvain.rs):

- ``ModularityUnDir`` (modularity.rs:166-407): undirected simple graph,
  optional weight property; per-node strength ``k`` EXCLUDES self-loops and
  ``m2 = Σk``; the objective is
  ``Q = Σ_v w(v → own community, self-loops once) / m2
       − resolution · Σ_c (K_c)² / m2²``
  (value() at :396-407 — intra weight counts both endpoints of each
  undirected edge, self-loop weight once).
- ``louvain`` (louvain.rs:13-64): local-move sweeps until no positive ΔQ,
  then aggregate communities into a supergraph and repeat.  The reference
  shuffles node order with an UNSEEDED rng, so its labels are not
  reproducible; our implementation is **deterministic** — parallel
  semi-synchronous local moves where even sweeps only move nodes toward
  smaller community ids and odd sweeps toward larger (a pairwise swap needs
  both directions, so oscillation is impossible within a sweep), best-gain
  tie-break by smallest community id.  Same objective, reproducible output;
  documented divergence from the reference's RNG schedule.

Scale shape: every sweep is two hash joins + one aggregate over the
(community-keyed) edge table; aggregation contracts the graph between
levels, so later levels are tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph


def _weighted_und(graph: LinkGraph, weight: str | None):
    """Undirected weighted simple edges as (id, nbr, w), self-loops split
    out as (id, w_self).  Weight = latest temporal value per logical edge
    (properties().get semantics), 1.0 when unweighted."""
    if weight is None:
        e = graph.edge_ids().select("src_id", "dst_id", F.lit(1.0).alias("w"))
    else:
        from linkgraph.graph import name_to_id

        e = (
            graph.edges_t.groupBy("src", "dst")
            .agg(F.max_by(F.col(weight), F.struct("time")).cast("double").alias("w"))
            .select(
                name_to_id(F.col("src")).alias("src_id"),
                name_to_id(F.col("dst")).alias("dst_id"),
                "w",
            )
        )
    self_loops = e.filter(F.col("src_id") == F.col("dst_id")).select(
        F.col("src_id").alias("id"), F.col("w").alias("w_self")
    )
    nonself = e.filter(F.col("src_id") != F.col("dst_id"))
    # merge reciprocal directed edges into one undirected weight
    und_pairs = (
        nonself.select(
            F.least("src_id", "dst_id").alias("lo"),
            F.greatest("src_id", "dst_id").alias("hi"),
            "w",
        )
        .groupBy("lo", "hi")
        .agg(F.sum("w").alias("w"))
    )
    und = und_pairs.select(
        F.col("lo").alias("id"), F.col("hi").alias("nbr"), "w"
    ).unionByName(
        und_pairs.select(F.col("hi").alias("id"), F.col("lo").alias("nbr"), "w")
    )
    return und, self_loops


def modularity(
    graph: LinkGraph,
    labels: DataFrame,
    weight: str | None = None,
    resolution: float = 1.0,
) -> float:
    """Newman modularity of a partition — ``labels`` is ``(id, label)``."""
    und, self_loops = _weighted_und(graph, weight)
    lab = labels.select("id", "label")
    k = und.groupBy("id").agg(F.sum("w").alias("k"))
    m2 = k.agg(F.sum("k")).first()[0] or 0.0
    if m2 == 0.0:
        return 0.0
    lab_n = lab.withColumnRenamed("label", "l_nbr").withColumnRenamed("id", "nbr")
    intra = (
        und.join(lab, "id")
        .join(lab_n, "nbr")
        .filter(F.col("label") == F.col("l_nbr"))
        .agg(F.sum("w"))
        .first()[0]
        or 0.0
    )
    intra += (
        self_loops.join(lab, "id").agg(F.sum("w_self")).first()[0] or 0.0
    )
    k_com_sq = (
        k.join(lab, "id")
        .groupBy("label")
        .agg(F.sum("k").alias("kc"))
        .agg(F.sum(F.col("kc") * F.col("kc")))
        .first()[0]
        or 0.0
    )
    return intra / m2 - resolution * k_com_sq / (m2 * m2)


def louvain(
    graph: LinkGraph,
    resolution: float = 1.0,
    weight: str | None = None,
    seed: int = 17,
    max_levels: int = 5,
    max_sweeps: int = 8,
    tol: float = 1e-8,
) -> DataFrame:
    """Deterministic Louvain; returns ``(name, id, community)`` where the
    community label is the minimum member id.

    Gain accounting matches ``ModularityUnDir::move_delta``
    (modularity.rs:266-281) exactly: candidate score
    ``2·w(v→c)/m2 − 2·res·k_v·(K_c − [c=own]·k_v)/m2²`` so score
    differences equal the reference's ΔQ; ``m2`` is computed ONCE from the
    level-0 strengths and reused at every aggregation level, and a
    supernode's strength is the sum of its members' strengths (intra-
    community weight included), as ``aggregate()`` does (modularity.rs:
    350-394 — ``k = k_com`` of the old level, ``m2`` never reassigned).
    A move is taken only when its best ΔQ exceeds ``tol`` (louvain.rs:50-53).
    """
    spark = graph.spark
    ids = graph.ids().persist()
    und, self_loops = _weighted_und(graph, weight)
    und = und.persist()
    und.count()

    import os
    _dbg = bool(os.environ.get("LOUVAIN_DEBUG"))

    # current mapping original-id -> community (starts as identity)
    mapping = ids.select("id", F.col("id").alias("community")).localCheckpoint()

    # level-0 strengths (self-loops excluded, adj filter modularity.rs:198)
    # and the FIXED m2 = Σk used at every level
    k0 = und.groupBy("id").agg(F.sum("w").alias("k"))
    m2 = k0.agg(F.sum("k")).first()[0] or 0.0
    if m2 == 0.0:
        return ids.join(mapping, "id").select("name", "id", "community")
    # strengths of the current level's supernodes (node = community id)
    nodes_k = k0.select(F.col("id").alias("node"), "k").localCheckpoint()

    for level in range(max_levels):
        if _dbg:
            print(f"louvain level={level}", flush=True)
        # supergraph of the current mapping
        lab = mapping.select(F.col("id"), F.col("community"))
        sup_edges = (
            und.join(lab.withColumnRenamed("id", "id"), "id")
            .join(
                lab.select(
                    F.col("id").alias("nbr"), F.col("community").alias("c_nbr")
                ),
                "nbr",
            )
            .select(F.col("community").alias("a"), F.col("c_nbr").alias("b"), "w")
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
            .localCheckpoint()
        )

        # local-move sweeps on the supergraph: node = current community
        com = nodes_k.select(
            "node", F.col("node").alias("com"), "k"
        ).localCheckpoint()
        improved_any = False
        zero_streak = 0
        for sweep in range(max_sweeps):
            if _dbg:
                print(f"louvain level={level} sweep={sweep}", flush=True)
            com_tot = com.groupBy("com").agg(F.sum("k").alias("k_com"))
            # candidate score for node v and community c:
            #   S(c) = 2·w(v→c)/m2 − 2·res·k_v·(K_c − [c=own]·k_v)/m2²
            # so S(c) − S(own) equals move_delta(v, c) exactly
            # (modularity.rs:266-281: a = 2(w_vc − w_v,own), p = 2(k_v·(K_c −
            # K_own) + k_v²), ΔQ = (a − res·p/m2)/m2)
            cand = (
                sup_edges.join(
                    com.select(F.col("node").alias("b"), F.col("com").alias("c_b")),
                    "b",
                )
                .groupBy(F.col("a").alias("node"), F.col("c_b").alias("cand"))
                .agg(F.sum("w").alias("w_to"))
            )
            scored = (
                cand.join(com, "node")
                .join(
                    com_tot.withColumnRenamed("com", "cand"), "cand", "left"
                )
                .select(
                    "node",
                    "com",
                    "cand",
                    "k",
                    (
                        F.lit(2.0) * F.col("w_to") / m2
                        - F.lit(2.0 * resolution)
                        * F.col("k")
                        * (
                            F.coalesce("k_com", F.lit(0.0))
                            - F.when(F.col("cand") == F.col("com"), F.col("k")).otherwise(0.0)
                        )
                        / F.lit(m2 * m2)
                    ).alias("gain"),
                )
            )
            best = scored.groupBy("node").agg(
                F.max_by(
                    F.struct("cand"), F.struct("gain", (-F.col("cand")).alias("tie"))
                ).alias("pick"),
                F.max(F.struct("gain", (-F.col("cand")).alias("tie"))).alias("g"),
            ).select(
                "node",
                F.col("pick.cand").alias("new_com"),
                F.col("g.gain").alias("gain"),
            )
            # analytic stay baseline — a node with no intra-community edges
            # still has stay = −2·res·k·(K_own − k)/m2², NOT −inf (a
            # singleton must only move on a genuinely positive delta)
            w_own = (
                cand.join(com.select("node", "com"), "node")
                .filter(F.col("cand") == F.col("com"))
                .select("node", F.col("w_to").alias("w_own"))
            )
            stay = (
                com.join(com_tot, "com")
                .join(w_own, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(2.0) * F.coalesce("w_own", F.lit(0.0)) / m2
                        - F.lit(2.0 * resolution)
                        * F.col("k")
                        * (F.col("k_com") - F.col("k"))
                        / F.lit(m2 * m2)
                    ).alias("stay_gain"),
                )
            )
            moves = (
                best.join(com.select("node", "com"), "node")
                .join(stay, "node")
                .filter(
                    (F.col("new_com") != F.col("com"))
                    # gain − stay_gain = move_delta; take only ΔQ > tol
                    # (louvain.rs:50-53, tol default 1e-8)
                    & (F.col("gain") > F.col("stay_gain") + tol)
                    # deterministic anti-swap guard: even sweeps only move
                    # toward smaller community ids, odd sweeps toward larger
                    # — a pairwise swap needs both directions, so it can
                    # never happen within one sweep
                    & (
                        (F.col("new_com") < F.col("com"))
                        if sweep % 2 == 0
                        else (F.col("new_com") > F.col("com"))
                    )
                )
                .select("node", "new_com")
                .localCheckpoint()
            )
            n_moves = moves.count()
            if _dbg:
                print(f"louvain level={level} sweep={sweep} moves={n_moves}", flush=True)
            if n_moves == 0:
                zero_streak += 1
                # both move directions (even/odd sweeps) must come up dry
                if zero_streak >= 2:
                    break
                continue
            zero_streak = 0
            improved_any = True
            com = (
                com.join(moves, "node", "left")
                .select(
                    "node",
                    F.coalesce("new_com", "com").alias("com"),
                    "k",
                )
                .localCheckpoint()
            )
        # canonicalise community labels to min member node id
        canon = com.groupBy("com").agg(F.min("node").alias("canon"))
        com = com.join(canon, "com").select("node", F.col("canon").alias("com"), "k")
        # next level's supernode strengths = Σ member strengths (aggregate()
        # keeps intra-community weight in k: modularity.rs:381-385)
        nodes_k = (
            com.groupBy(F.col("com").alias("node"))
            .agg(F.sum("k").alias("k"))
            .localCheckpoint()
        )
        mapping = (
            mapping.join(
                com.select(F.col("node").alias("community"), F.col("com").alias("new")),
                "community",
                "left",
            )
            .select("id", F.coalesce("new", "community").alias("community"))
            .localCheckpoint()
        )
        if not improved_any:
            break
    return ids.join(mapping, "id").select("name", "id", "community")


def ppr_sweep_cut(
    graph: LinkGraph,
    seeds: list[str],
    k: int = 100,
    damping: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-9,
) -> DataFrame:
    """Local community detection by PPR sweep cut (Andersen, Chung & Lang,
    FOCS 2006) — ``(rank, node, score, vol, cut, cond_ppm)``: one row per
    prefix of the top-``k`` nodes ranked by personalized PageRank from
    ``seeds``; the prefix with the smallest conductance is the seed's
    local community.

    Ranking key is ``(round(score, 6) DESC, id ASC)`` — the same rounded
    surface the PPR oracle replays, so the order (and therefore every
    prefix) is engine-exact.  Conductance uses the undirected simple
    graph without self-loops (the :func:`~linkgraph.algorithms.metrics.
    community_conductance` convention): ``vol(k) = Σ_prefix deg``,
    ``cut(k) = vol(k) − 2·internal(k)``, emitted as integer ppm.

    Scale shape: the PPR run is the superstep kernel (one join + one
    aggregate per iteration); the sweep itself touches only the k-row
    prefix — degrees join k rows, internal-edge counting joins the edge
    table against the k-row rank map twice (two broadcast joins at any
    scale), and the two cumulative windows run over k rows (bounded by
    construction, so the single-partition window is O(k), not O(n)).
    """
    from pyspark.sql import Window

    from linkgraph.algorithms.pagerank import personalized_pagerank

    ppr = personalized_pagerank(
        graph, seeds, damping=damping, max_iter=max_iter, tol=tol
    )
    order = [F.col("score").desc(), F.col("id").asc()]
    topk = (
        ppr.select("id", F.round("score", 6).alias("score"))
        .orderBy(*order)
        .limit(int(k))
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    deg = und.groupBy("id").agg(F.count("*").alias("deg"))
    vol_total = deg.agg(F.sum("deg").alias("vol_total"))
    ranked = topk.join(deg, "id", "left").withColumn(
        "deg", F.coalesce("deg", F.lit(0))
    )
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    ranked = ranked.withColumn("vol", F.sum("deg").over(w_cum))
    # internal(k): canonical edges with BOTH endpoints in the prefix,
    # bucketed by the larger endpoint rank, then accumulated
    rmap_lo = F.broadcast(
        topk.select(F.col("id").alias("lo"), F.col("rank").alias("r_lo"))
    )
    rmap_hi = F.broadcast(
        topk.select(F.col("id").alias("hi"), F.col("rank").alias("r_hi"))
    )
    per_rank = (
        graph.canonical_edge_ids()
        .join(rmap_lo, "lo")
        .join(rmap_hi, "hi")
        .groupBy(F.greatest("r_lo", "r_hi").alias("rank"))
        .agg(F.count("*").alias("new_internal"))
    )
    swept = (
        ranked.join(per_rank, "rank", "left")
        .withColumn("new_internal", F.coalesce("new_internal", F.lit(0)))
        .withColumn("internal", F.sum("new_internal").over(w_cum))
        .withColumn("cut", F.col("vol") - 2 * F.col("internal"))
        .crossJoin(F.broadcast(vol_total))
    )
    side = F.least(F.col("vol"), F.col("vol_total") - F.col("vol"))
    return swept.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("id").alias("node"),
        "score",
        F.col("vol").cast("long").alias("vol"),
        F.col("cut").cast("long").alias("cut"),
        F.when(side > 0, F.expr("(1000000 * cut) div least(vol, vol_total - vol)"))
        .cast("long")
        .alias("cond_ppm"),
    )


def _key60(*cols) -> F.Column:
    """Quenched 60-bit md5 key of '|'-joined columns (the cross-engine
    deterministic hash used throughout the dedup/walk family)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
    ).cast("long")


def triangle_communities(
    graph: LinkGraph, max_rounds: int = 48, kernel: str = "auto"
) -> DataFrame:
    """Clique-percolation communities for k = 3 (Palla et al., Nature
    2005) — ``(community, node)``: two triangles belong to the same
    community iff they are connected through shared EDGES; a node can sit
    in several overlapping communities (one row per membership).
    ``community`` is the smallest member node id — a canonical label
    independent of any internal hashing.

    Spark-first shape: the triangle-adjacency graph is never
    materialised (an edge shared by t triangles would create C(t, 2)
    adjacency rows — quadratic in local density).  Instead the
    TRIANGLE–EDGE INCIDENCE bipartite graph (exactly 3 rows per
    triangle) carries a min-label fixpoint, so state is linear in the
    triangle count.  Keys are quenched 60-bit md5 of the typed tuples
    ('t|a|b|c', 'e|lo|hi'), so the run is a pure function of the input;
    the final PARTITION is schedule-independent, which is what the SQL
    oracle replays.

    ``kernel``: ``"superstep"`` — distributed hook + pointer-jump rounds
    with the monotone label-sum fixpoint witness (the Borůvka-merge
    discipline; convergence ~ half the incidence diameter, measured 18
    rounds on the sf0.01 co-purchase blob); ``"local"`` — gathered numpy
    pointer jumping over the incidence pairs, identical partition
    (components._wcc_local); ``"auto"`` picks local under
    ``pagerank.DRIVER_KERNEL_MAX`` — at toy scale the distributed
    round latency dominates, exactly the WCC auto-kernel rationale.
    """
    spark = graph.spark
    from linkgraph.algorithms.triangles import triangles_df

    tri = triangles_df(graph).withColumn(
        "tk", _key60(F.lit("t"), "a", "b", "c")
    )
    tri = tri.localCheckpoint(eager=True)
    if tri.isEmpty():
        return spark.createDataFrame([], "community long, node long")
    inc = None
    for x, y in (("a", "b"), ("a", "c"), ("b", "c")):
        part = tri.select(
            F.col("tk").alias("u"),
            _key60(F.lit("e"), F.col(x), F.col(y)).alias("v"),
        )
        inc = part if inc is None else inc.unionByName(part)
    if kernel == "auto":
        from linkgraph.algorithms.pagerank import DRIVER_KERNEL_MAX

        n_inc = tri.count() * 3
        kernel = "local" if n_inc <= DRIVER_KERNEL_MAX else "superstep"
    if kernel == "local":
        from linkgraph.algorithms.components import _wcc_local

        inc_ids = (
            inc.select(F.col("u").alias("id"))
            .unionByName(inc.select(F.col("v").alias("id")))
            .distinct()
        )
        m = _wcc_local(
            spark,
            inc_ids,
            inc.select(
                F.col("u").alias("src_id"), F.col("v").alias("dst_id")
            ),
        ).select(F.col("id").alias("c"), F.col("component").alias("l"))
        mem = tri.select(
            "tk", F.explode(F.array("a", "b", "c")).alias("node")
        ).distinct()
        labeled = mem.join(
            m.select(F.col("c").alias("tk"), F.col("l").alias("comp")), "tk"
        )
        comm = labeled.groupBy("comp").agg(F.min("node").alias("community"))
        return labeled.join(comm, "comp").select("community", "node").distinct()
    from linkgraph.algorithms.components import min_label_merge

    pairs = inc.select(F.col("u").alias("a"), F.col("v").alias("b"))
    pairs = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    m = min_label_merge(pairs, "triangle_communities", int(max_rounds))
    mem = tri.select(
        "tk", F.explode(F.array("a", "b", "c")).alias("node")
    ).distinct()
    labeled = mem.join(
        m.select(F.col("c").alias("tk"), F.col("l").alias("comp")), "tk"
    )
    comm = labeled.groupBy("comp").agg(F.min("node").alias("community"))
    return (
        labeled.join(comm, "comp").select("community", "node").distinct()
    )
