"""PageRank — damping 0.85, sink-mass redistribution, L1/L2 convergence.

Semantics match the reference exactly
(raphtory/src/algorithms/centrality/pagerank.rs:54-183):

- init: ``score = 1/n`` for all n nodes in the view (pagerank.rs:29);
- per superstep (Jacobi, reads previous iteration only):
  ``score(v) = 0.85 · Σ_{u ∈ in(v)} prev(u)/out_deg(u)  +  0.15/n
             + Σ_{s: out_deg(s)=0} 0.85 · prev(s)/n``
  where in(v) is the **deduplicated** in-neighbour set (AdjSet semantics)
  and out_deg the distinct out-neighbour count, self-loops included
  (steps 2-4, pagerank.rs:85-123 — note sink mass uses the *previous*
  score and is added after teleport);
- converge when ``Σ|Δ| ≤ tol·n`` (L1) or ``sqrt(ΣΔ²) ≤ tol·n`` (L2),
  checked after each superstep (pagerank.rs:130-153); default tol 1e-6,
  python-default 20 iterations L2 (python/packages/algorithms.rs:157-164).
  The engine's benchmark target runs L1 to tol 1e-9 (north rule).

Spark-first execution, designed for ~10^9 nodes / 10^11 edges:

- the edge table is hash-partitioned by ``src_id`` once and cached; the
  rank vector is partitioned by ``id`` with the same partition count, so
  the per-iteration join reuses partitioning instead of reshuffling edges;
- when the rank vector is small enough it is **broadcast** into the join
  (hub-vector broadcast per the north star) — the edge table then never
  shuffles at all and the only exchange left is the message ``groupBy``;
- message aggregation is a plain hash aggregate: Spark's partial (map-side)
  combine already collapses hot destination keys per input partition, which
  is exactly the two-phase salted-aggregation pattern — no hand salting
  needed for sums (see adjacency.py for the grouped-kernel/CSR variant);
- the state joins its own messages (both sides hash-partitioned by id, no
  exchange) and carries its previous score on as ``prev_score``, so the
  convergence delta and the next superstep's sink mass are ONE one-row
  aggregate of the new state, measured by the same Spark job that computes
  and cuts it (:func:`linkgraph.superstep.supersteps`): one job and one
  driver roundtrip per superstep, plus a checkpoint write when
  ``checkpoint_dir`` is given (snapshots keep ``id, out_degree, score``).
"""

from __future__ import annotations

import math
import time as _time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, persist_once
from linkgraph.superstep import CheckpointStore, iteration_conf, supersteps

DAMPING_DEFAULT = 0.85

# Budget for the gathered-CSR kernel: 20M int64 edge endpoints / node slots
# (~160 MB per array on the driver) — the same hub-vector-broadcast regime as
# triangles.CSR_BROADCAST_MAX.  Below it, the optimal *physical* plan for the
# whole iteration is a single local pass: per-superstep DataFrame jobs cost a
# fixed ~0.3-1 s of scheduling/exchange latency each, which dominates when a
# superstep touches < ~10M rows — exactly the regime the (single-node,
# in-memory) reference lives in.  Above it, the distributed superstep loop is
# the only plan that survives, and it is the one benchmarked at 160M edges in
# BENCH.md.
DRIVER_KERNEL_MAX = 20_000_000


def pagerank(
    graph: LinkGraph,
    max_iter: int = 20,
    tol: float = 1e-6,
    norm: str = "l2",
    damping: float = DAMPING_DEFAULT,
    partitions: int | None = None,
    broadcast_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    iters_out: dict | None = None,
    kernel: str = "auto",
    timings_out: list | None = None,
    init_scores: DataFrame | None = None,
) -> DataFrame:
    """Run PageRank; returns ``(name, id, score)``.

    ``init_scores`` (any DataFrame with ``id`` and ``score`` columns —
    e.g. a previous :func:`pagerank` result) WARM-STARTS the power
    iteration: scores are projected onto this view's node set, nodes
    absent from the init get the uniform 1/n seed, and the vector is
    renormalised to total mass 1.  The fixpoint is unchanged (PageRank's
    limit is init-independent); what changes is the distance to it — on a
    rolling temporal window the previous window's scores are already
    close, so convergence to the same tol takes a fraction of the
    supersteps (the incremental-analytics path; measured in BENCH.md).

    ``broadcast_threshold``: if the node count is below this, the rank
    vector is broadcast into the contribution join (a ~16-byte/node table:
    10M nodes ≈ 160MB, still broadcastable on real executors; tune down on
    memory-poor clusters). Above it, both sides stay co-partitioned.

    ``kernel``: ``"superstep"`` — the distributed BSP loop over the sorted
    co-partitioned edge cache; ``"blocks"`` — the distributed BSP loop over
    hash-partitioned CSR adjacency blocks (Arrow arrays inside a cogrouped
    pandas kernel — the north-star layout; same superstep dataflow, the
    join+aggregate replaced by gather+bincount); ``"local"`` — gather the
    (deduplicated) edge list once and run the whole power iteration as a
    vectorized numpy kernel on the driver, identical semantics; ``"auto"``
    (default) — ``local`` when the graph fits ``DRIVER_KERNEL_MAX`` and no
    checkpointing was requested, else ``superstep`` (the JVM sort-merge
    path — measured faster than ``blocks`` per superstep on this image; the
    CSR-block path is the layout the north rule names and stays selectable
    for clusters where Arrow-batch gather beats the shuffle).  All kernels
    implement
    pagerank.rs:54-183 exactly and are cross-checked in
    tests/test_pagerank.py.
    """
    ids = graph.ids().persist()
    if ids.limit(1).count() == 0:
        return ids.select("name", "id", F.lit(0.0).alias("score"))
    res = pagerank_on_ids(
        graph.spark,
        ids.select("id"),
        graph.edge_ids(),
        max_iter=max_iter,
        tol=tol,
        norm=norm,
        damping=damping,
        partitions=partitions,
        broadcast_threshold=broadcast_threshold,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        iters_out=iters_out,
        pre_deduped=True,
        kernel=kernel,
        timings_out=timings_out,
        init_scores=init_scores,
    )
    return res.join(ids, "id").select("name", "id", "score")


def contribution_messages(
    edges: DataFrame, state_df: DataFrame, use_broadcast: bool = False
) -> DataFrame:
    """One superstep's message stage: per-node contribution join against the
    cached, pre-partitioned edge table + the message aggregate — (id, msum).

    This is THE per-superstep plan the 100-TB design depends on (one
    co-partitioned join, one exchange for the groupBy); the plan-shape guard
    in tests/test_plan_shape.py builds its asserted plan through this exact
    function so a refactor that reintroduces an edge-side exchange fails CI.
    ``edges`` must be hash-partitioned (and ideally sorted) on ``src_id``;
    ``state_df`` carries (id, score, out_degree)."""
    # contrib precomputed per NODE on the build side (one division per
    # node, not per edge)
    ranks = state_df.filter(F.col("out_degree") > 0).select(
        "id", (F.col("score") / F.col("out_degree")).alias("contrib")
    )
    if use_broadcast:
        ranks = F.broadcast(ranks)
    return (
        edges.join(ranks, edges.src_id == ranks.id)
        .groupBy(F.col("dst_id").alias("id"))
        .agg(F.sum("contrib").alias("msum"))
    )


def pagerank_on_ids(
    spark,
    nodes: DataFrame,
    edge_ids: DataFrame,
    max_iter: int = 20,
    tol: float = 1e-6,
    norm: str = "l2",
    damping: float = DAMPING_DEFAULT,
    partitions: int | None = None,
    broadcast_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    iters_out: dict | None = None,
    pre_deduped: bool = False,
    kernel: str = "auto",
    timings_out: list | None = None,
    init_scores: DataFrame | None = None,
) -> DataFrame:
    """Id-native PageRank core over ``nodes(id)`` + ``edge_ids(src_id, dst_id)``;
    returns ``(id, score)``.  Pass ``pre_deduped=True`` when the edge table is
    already simple (distinct) to skip one shuffle.  ``init_scores`` warm-
    starts the iteration (see :func:`pagerank`)."""
    ids = nodes.select("id")
    n = ids.count()
    if n == 0:
        return ids.select("id", F.lit(0.0).alias("score"))

    # with pre_deduped=True this is the caller's table — often a graph's
    # memoized edge_ids(), which this function must not uncache
    raw_edges = edge_ids if pre_deduped else edge_ids.distinct()
    release_raw = persist_once(raw_edges)
    n_edges = raw_edges.count()
    if kernel == "auto":
        kernel = (
            "local"
            if checkpoint_dir is None
            and max(n, n_edges) <= DRIVER_KERNEL_MAX
            else "superstep"
        )
    if kernel == "local":
        out = _pagerank_local(
            spark, ids, raw_edges, n, max_iter, tol, norm, damping, iters_out,
            init_scores,
        )
        release_raw()
        return out
    from linkgraph.superstep import pick_partitions

    _t_setup = _time.monotonic()
    P = partitions or pick_partitions(spark, n_edges)
    # The loop-scoped conf wraps the CACHE BUILDS too: caches built with AQE
    # on get AQE-wrapped plans whose within-partition ordering Catalyst can't
    # see, resurrecting per-superstep sorts.
    with iteration_conf(spark, shuffle_partitions=P):
        use_blocks = kernel == "blocks"
        if use_blocks:
            # north-star layout: hash-partitioned CSR adjacency blocks as
            # Arrow arrays — packed ONCE, cached pre-partitioned + pre-sorted
            # on blk so the per-superstep cogroup never re-exchanges the
            # (fat) block rows
            blocks = (
                _build_pr_blocks(raw_edges, P)
                .repartition(P, "blk")
                .sortWithinPartitions("blk")
                .persist()
            )
            blocks.count()
            edges = raw_edges  # degree/fingerprint source; released below
        else:
            # partition AND pre-sort within partitions: the per-superstep
            # contribution join is a sort-merge join of two cached
            # co-partitioned sides — with the cache already sorted on the
            # join key, Catalyst elides the big-side Sort every iteration
            # (only the small freshly-aggregated message side sorts).
            #
            edges = (
                raw_edges.repartition(P, "src_id")
                .sortWithinPartitions("src_id")
                .persist()
            )
            edges.count()
            release_raw()
        deg = (
            edges.groupBy(F.col("src_id").alias("id"))
            .agg(F.count("*").alias("out_degree"))
        )
        # per-node (id, out_degree), partitioned by id: the state's layout
        static = (
            ids.select("id")
            .join(deg, "id", "left")
            .fillna(0, subset=["out_degree"])
            .repartition(P, "id")
        )

        teleport = (1.0 - damping) / n
        if init_scores is None:
            init = static.withColumn("score", F.lit(1.0 / n))
        else:
            # warm start: project onto this node set, seed absentees with
            # the uniform 1/n, renormalise to total mass 1 (the iteration's
            # invariant).  One extra join + one global sum, once.
            prev = init_scores.select("id", F.col("score").alias("s0"))
            seeded = static.join(prev, "id", "left").withColumn(
                "s0", F.coalesce("s0", F.lit(1.0 / n))
            )
            total = float(seeded.agg(F.sum("s0")).first()[0])
            init = seeded.select(
                *static.columns, (F.col("s0") / F.lit(total)).alias("score")
            )

        store = CheckpointStore(spark, checkpoint_dir) if checkpoint_dir else None
        if store is not None:
            # fingerprint the input + config so a stale checkpoint from
            # another graph is refused instead of silently resumed
            edge_sum = edges.agg(
                F.sum(F.xxhash64("src_id", "dst_id").bitwiseAND(F.lit(0xFFFFFFFF)))
            ).first()[0]
            # only trajectory-affecting facts: tol/norm may legitimately
            # change between a killed run and its resume
            meta = {
                "algorithm": "pagerank",
                "n_nodes": n,
                "edge_checksum": int(edge_sum or 0),
                "damping": damping,
            }
            store.validate_meta(meta)
            store.write_meta(meta)
        use_broadcast = n <= broadcast_threshold

        # Both kernels return messages as (id, msum).
        if use_blocks:
            def msgs_of(state_df, _blocks=blocks, _P=P):
                state_b = state_df.select(
                    F.pmod(F.xxhash64("id"), F.lit(_P)).cast("int").alias("blk"),
                    "id",
                    "score",
                )
                partials = (
                    state_b.groupBy("blk")
                    .cogroup(_blocks.groupBy("blk"))
                    .applyInPandas(_pr_block_step, "id long, msum double")
                )
                # per-block bincount already combined per distinct dst, so
                # this groupBy only merges ≤P partials per id
                return partials.groupBy("id").agg(F.sum("msum").alias("msum"))
        else:
            def msgs_of(state_df, _edges=edges, _bc=use_broadcast):
                return contribution_messages(_edges, state_df, _bc)

        def step(state, row):
            # the state joins its own messages (both hash-partitioned by id:
            # no exchange) and carries its score on as ``prev_score``, so the
            # convergence delta is a column of the new state, measured in the
            # job that computes it; ``row`` is the previous round's witness
            sink_term = damping * (row["sink"] or 0.0) / n
            return state.join(msgs_of(state), "id", "left").select(
                "id",
                "out_degree",
                (
                    F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
                    + F.lit(teleport + sink_term)
                ).alias("score"),
                F.col("score").alias("prev_score"),
            )

        gap = F.abs(F.col("score") - F.col("prev_score"))

        def diff(row):
            return math.sqrt(row["delta"]) if norm == "l2" else row["delta"]

        def save(it, state, row):
            store.save(
                state.drop("prev_score"), it,
                {"algorithm": "pagerank", "delta": diff(row), "tol": tol},
            )

        state, start = (init, 1) if store is None or not resume else store.resume(init)
        rounds = supersteps(
            "pagerank",
            state.select(
                "id", "out_degree", "score", F.lit(None).cast("double").alias("prev_score")
            ),
            step,
            (F.sum(F.pow(gap, 2)) if norm == "l2" else F.sum(gap)).alias("delta"),
            F.sum(F.when(F.col("out_degree") == 0, F.col("score"))).alias("sink"),
            rounds=range(start, max_iter + 1),
            save=None if store is None else save,
        )
        if use_blocks:
            release_raw()  # the initial state is stored; done
        if timings_out is not None:
            timings_out.append(("setup", _time.monotonic() - _t_setup))
        t0 = _time.monotonic()
        for it, state, row in rounds:
            if iters_out is not None:
                iters_out["iterations"] = it
            if timings_out is not None:
                timings_out.append((it, _time.monotonic() - t0))
                t0 = _time.monotonic()
            if diff(row) <= tol * n:
                break
        # release the loop-scoped caches: the final state is a stored cut
        if use_blocks:
            blocks.unpersist()
        else:
            edges.unpersist()

    return state.select("id", "score")


def _pack_pr_block(pdf):
    """Pack one src-hash block of the edge table into CSR Arrow arrays —
    the distributed analogue of the reference's per-shard sorted adjacency
    (core/storage/mod.rs:29-33, adjset.rs:16-28): ``src_ids`` sorted unique,
    ``indptr`` row offsets, ``dst_idx`` an int32 code per edge into the
    block-local ``dst_uniq`` dictionary.  The dictionary encoding is what
    makes the per-superstep message fold a ``bincount`` (map-side combine
    over the block's distinct destinations) instead of a hash aggregation.
    """
    import numpy as np
    import pandas as pd

    src = pdf["src_id"].to_numpy(np.int64)
    dst = pdf["dst_id"].to_numpy(np.int64)
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    src_ids, starts = np.unique(src, return_index=True)
    indptr = np.append(starts, src.size).astype(np.int64)
    dst_uniq, dst_idx = np.unique(dst, return_inverse=True)
    return pd.DataFrame(
        {
            "blk": [int(pdf["blk"].iloc[0])],
            "src_ids": [src_ids],
            "indptr": [indptr],
            "dst_uniq": [dst_uniq],
            "dst_idx": [dst_idx.astype(np.int32)],
        }
    )


def _build_pr_blocks(edge_ids: DataFrame, num_blocks: int) -> DataFrame:
    """Deduped edges → one CSR row per src-hash block (north-star layout:
    salted, hash-partitioned CSR adjacency blocks as Arrow arrays inside
    grouped pandas UDFs).  Blocking by src means every out-edge of a node
    lands in one block, so out-degrees are block-local facts (``indptr``
    diffs) and the score vector shards cleanly by the same hash."""
    return (
        edge_ids.select(
            F.pmod(F.xxhash64("src_id"), F.lit(num_blocks)).cast("int").alias("blk"),
            "src_id",
            "dst_id",
        )
        .groupBy("blk")
        .applyInPandas(
            _pack_pr_block,
            "blk int, src_ids array<long>, indptr array<long>, "
            "dst_uniq array<long>, dst_idx array<int>",
        )
    )


def _pr_block_step(state_pdf, block_pdf):
    """One block's superstep: gather this block's src scores (searchsorted
    against the co-grouped state shard), scale by out-degree, scatter-add
    per distinct destination with ``bincount``.  Emits the block's partial
    message sums ``(id, msum)`` — already combined per dst, so the global
    merge shuffles at most one row per (block, dst).

    Stray endpoints keep join semantics: a src absent from the state shard
    contributes 0, an unknown dst still gets a partial (dropped later by the
    left join onto the node table)."""
    import numpy as np
    import pandas as pd

    if block_pdf.shape[0] == 0 or state_pdf.shape[0] == 0:
        return pd.DataFrame(
            {"id": pd.Series(dtype="int64"), "msum": pd.Series(dtype="float64")}
        )
    row = block_pdf.iloc[0]
    src_ids = np.asarray(row["src_ids"], dtype=np.int64)
    indptr = np.asarray(row["indptr"], dtype=np.int64)
    dst_uniq = np.asarray(row["dst_uniq"], dtype=np.int64)
    dst_idx = np.asarray(row["dst_idx"], dtype=np.int32)
    sid = state_pdf["id"].to_numpy(np.int64)
    sc = state_pdf["score"].to_numpy(np.float64)
    o = np.argsort(sid)
    sid, sc = sid[o], sc[o]
    pos = np.minimum(np.searchsorted(sid, src_ids), sid.size - 1)
    score_src = np.where(sid[pos] == src_ids, sc[pos], 0.0)
    counts = np.diff(indptr)
    per_edge = np.repeat(score_src / counts, counts)
    msum = np.bincount(dst_idx, weights=per_edge, minlength=dst_uniq.size)
    return pd.DataFrame({"id": dst_uniq, "msum": msum})


def _pagerank_local(
    spark, ids, edges, n, max_iter, tol, norm, damping, iters_out=None,
    init_scores=None,
) -> DataFrame:
    """Gathered-CSR power iteration — pagerank.rs:54-183 semantics, one
    driver-side numpy pass instead of ``max_iter`` DataFrame jobs.

    The edge list arrives as two int64 arrays over Arrow (one job), every
    superstep is two ``bincount`` scatters, and the result ships back as one
    Arrow batch.  Bounded by ``DRIVER_KERNEL_MAX`` (~160 MB/array); the
    superstep kernel above is the identical-semantics scale path.  Stray
    edges whose endpoint is outside ``ids`` behave exactly as the
    distributed joins treat them: an unknown dst still absorbs its src's
    out-degree share (the mass is lost), an unknown src contributes
    nothing."""
    import numpy as np
    import pandas as pd

    id_sorted = np.sort(ids.toPandas()["id"].to_numpy(np.int64))
    e = edges.select("src_id", "dst_id").toPandas()
    src_raw = e["src_id"].to_numpy(np.int64)
    dst_raw = e["dst_id"].to_numpy(np.int64)

    def _lookup(vals):
        pos = np.searchsorted(id_sorted, vals)
        pos_c = np.minimum(pos, n - 1)
        ok = id_sorted[pos_c] == vals
        return pos_c, ok

    src, src_ok = _lookup(src_raw)
    dst, dst_ok = _lookup(dst_raw)
    # out-degree counts every distinct out-edge of a known src (even to an
    # unknown dst — join-semantics parity with the superstep kernel)
    out_deg = np.bincount(src[src_ok], minlength=n).astype(np.float64)
    both = src_ok & dst_ok
    src_m, dst_m = src[both], dst[both]
    sinks = out_deg == 0.0
    safe_deg = np.where(sinks, 1.0, out_deg)

    score = np.full(n, 1.0 / n)
    if init_scores is not None:
        # warm start, same contract as the superstep kernel: project,
        # seed absentees uniform, renormalise to mass 1
        prev = init_scores.select("id", "score").toPandas()
        pos, ok = _lookup(prev["id"].to_numpy(np.int64))
        score[pos[ok]] = prev["score"].to_numpy(np.float64)[ok]
        score = score / float(score.sum())
    teleport = (1.0 - damping) / n
    for it in range(1, max_iter + 1):
        if iters_out is not None:
            iters_out["iterations"] = it
        contrib = np.where(sinks, 0.0, score / safe_deg)
        msum = np.bincount(dst_m, weights=contrib[src_m], minlength=n)
        sink_mass = float(score[sinks].sum())
        new = damping * msum + (teleport + damping * sink_mass / n)
        d = np.abs(new - score)
        diff = float(np.sqrt(float((d * d).sum()))) if norm == "l2" else float(d.sum())
        score = new
        if diff <= tol * n:
            break
    return spark.createDataFrame(pd.DataFrame({"id": id_sorted, "score": score}))


def personalized_pagerank(
    graph: LinkGraph,
    seeds: list[str],
    damping: float = DAMPING_DEFAULT,
    max_iter: int = 100,
    tol: float = 1e-9,
    partitions: int | None = None,
) -> DataFrame:
    """PageRank with teleport restricted to a seed set — ``(name, id,
    score)``: importance RELATIVE to the seeds (random-walk-with-restart).

    Update: ``s' = (1-d)·p + d·(Aᵀ(s/deg) + sink_mass·p)`` with ``p``
    uniform over the seeds — both the teleport and the dangling-node mass
    return to the seed distribution, the standard personalized semantics
    (the global variant in :func:`pagerank` is the special case p =
    uniform).  L1 convergence at ``tol·n`` like the global kernel.

    Scale shape: identical to the superstep kernel — the per-iteration
    plan is :func:`contribution_messages` (ONE co-partitioned join + one
    aggregate over the cached pre-partitioned edge table) joined back to
    the state, which carries the per-node teleport column ``pvec`` and its
    previous score as ``prev_score``, so one Spark job per superstep
    computes, cuts and measures it (:func:`~linkgraph.superstep.supersteps`;
    PPR runs are seed-query-sized; for 100 TB checkpointed runs use
    ``pagerank`` + a post-hoc seed projection or extend the
    CheckpointStore path the same way).
    """
    from linkgraph.graph import name_to_id
    from linkgraph.superstep import pick_partitions

    spark = graph.spark
    ids = graph.ids().persist()
    n = ids.count()
    if n == 0 or not seeds:
        return ids.select("name", "id", F.lit(0.0).alias("score")).limit(0)
    edge_ids = graph.edge_ids()
    release_edge_ids = persist_once(edge_ids)
    n_edges = edge_ids.count()
    P = partitions or pick_partitions(spark, n_edges)

    seed_lits = F.array(*[name_to_id(F.lit(s)) for s in set(seeds)])
    # resolve the seeds BEFORE splitting the teleport mass: a misspelled /
    # absent seed must not silently shrink total teleport below 1 and
    # deflate every score
    n_seeds = ids.filter(F.array_contains(seed_lits, F.col("id"))).count()
    if n_seeds < len(set(seeds)):
        missing = len(set(seeds)) - n_seeds
        raise ValueError(
            f"personalized_pagerank: {missing} of {len(set(seeds))} seed "
            f"name(s) do not resolve to nodes of this graph view"
        )
    with iteration_conf(spark, shuffle_partitions=P):
        edges = (
            edge_ids.repartition(P, "src_id")
            .sortWithinPartitions("src_id")
            .persist()
        )
        outdeg = edge_ids.groupBy(F.col("src_id").alias("id")).agg(
            F.count("*").alias("out_degree")
        )
        pvec = F.when(
            F.array_contains(seed_lits, F.col("id")), F.lit(1.0 / n_seeds)
        ).otherwise(F.lit(0.0))
        state = (
            ids.select("id")
            .join(outdeg, "id", "left")
            .select(
                "id",
                F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                pvec.alias("score"),
                pvec.alias("pvec"),
                F.lit(None).cast("double").alias("prev_score"),
            )
            .repartition(P, "id")
        )

        def step(state, row):
            # the pagerank superstep: the state joins its own messages and
            # carries its score on as ``prev_score``
            sink_mass = row["sink"] or 0.0
            return state.join(contribution_messages(edges, state), "id", "left").select(
                "id",
                "out_degree",
                (
                    F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
                    + F.lit(1.0 - damping + damping * sink_mass) * F.col("pvec")
                ).alias("score"),
                "pvec",
                F.col("score").alias("prev_score"),
            )

        for _, state, row in supersteps(
            "personalized_pagerank",
            state,
            step,
            F.sum(F.abs(F.col("score") - F.col("prev_score"))).alias("d"),
            F.sum(F.when(F.col("out_degree") == 0, F.col("score"))).alias("sink"),
            rounds=range(1, max_iter + 1),
        ):
            if (row["d"] or 0.0) <= tol * n:
                break
        edges.unpersist()
    release_edge_ids()
    return ids.join(state.select("id", "score"), "id").select("name", "id", "score")
