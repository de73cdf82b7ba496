"""Label propagation (LPA) community detection.

Reference semantics (raphtory/src/algorithms/community_detection/
label_propagation.rs:20-78): labels init to node id; nodes are visited in a
seeded shuffled order **asynchronously** (reads see earlier updates in the
same sweep); each node takes the most frequent label among its
BOTH-direction distinct neighbours, ties broken by the LARGEST label
(BTreeMap + max_by keeps the last maximum, :73-78); sweeps repeat until no
label changes. Communities are the label groups.

Asynchronous LPA is order-dependent, so exact reproduction requires a fixed
schedule. The reference shuffles with rust StdRng (ChaCha) — not
reproducible from Python — so this engine FIXES ITS OWN deterministic
schedule (documented invariant): nodes sorted by id, permuted by
``numpy.random.RandomState(seed).permutation``. Identical at any
parallelism.

Two execution modes:

- ``mode="exact"`` — the reference-parity path. The adjacency is gathered
  into a single ``applyInPandas`` group and the seeded asynchronous sweep
  runs vectorised inside one executor task. Exact, deterministic, but
  single-task: use for graphs that fit one executor (the reference itself
  is driver-side sequential here — label_propagation.rs:42-59 — so parity
  beyond one machine is impossible by construction).
- ``mode="sync"`` — the scale path: semi-synchronous DataFrame supersteps.
  Each superstep updates HALF the nodes (by id-hash parity, alternating)
  — the standard bipartite-oscillation guard — picking
  ``max(struct(count, label))`` per node, which reproduces the
  ties→largest-label rule. Deterministic at any parallelism; community
  quality matches LPA literature but per-node labels may differ from the
  asynchronous schedule (documented divergence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.superstep import iteration_conf, pick_partitions, supersteps


AUTO_EXACT_MAX_EDGES = 2_000_000  # ~one executor task's worth of adjacency


def label_propagation(
    graph: LinkGraph,
    seed: int = 42,
    mode: str = "auto",
    max_sweeps: int = 100,
    tol_frac: float = 0.0,
) -> DataFrame:
    """Run LPA; returns ``(name, id, label)`` (label = a member node's id).

    ``mode="auto"`` (default) picks the DISTRIBUTED ``sync`` path unless the
    undirected adjacency is small enough (≤ ``AUTO_EXACT_MAX_EDGES``) for
    the single-task reference-parity ``exact`` path — the exact schedule is
    inherently sequential (label_propagation.rs:42-59 runs driver-side), so
    it must stay opt-in-sized, never the scale default.

    Sweep policy (sync mode) — sweep count is the scale wall, since at
    cluster scale per-sweep cost is one shuffle of the frontier while sweep
    COUNT grows with community diameter:

    - ``max_sweeps`` is a hard bound (the bounded-sweep contract): the loop
      never runs past it, converged or not. A fixed even ``max_sweeps``
      equal to an oracle's unroll depth makes the output engine-exact BY
      CONSTRUCTION (every early exit below is a provable no-op or
      parity-aligned with the unroll). LPA literature (Raghavan et al.
      2007, §4) finds ≥95% of labels final within 5 full sweeps; the
      half-update schedule doubles that, so 16 half-sweeps ≈ the quality
      plateau.
    - fixpoint exit: a full even+odd pair with zero label changes ends the
      loop — always safe, further sweeps are no-ops.
    - ``tol_frac`` (stable-fraction exit): stop once a full even+odd pair
      each changed ≤ ``tol_frac·n`` labels. The scale knob for graphs whose
      last few stragglers oscillate locally; **> 0 trades bit-exact oracle
      replay for a bounded wall** (the exit sweep is data-dependent), so
      shipped oracle-checked queries keep it at 0.
    - period-2 oscillation exit: taken only when the remaining distance to
      ``max_sweeps`` is even, so a fixed unroll to ``max_sweeps`` still
      reproduces the returned state exactly (the oscillating labels repeat
      with period 2)."""
    if mode == "auto":
        n_und = graph.undirected_edge_ids().count()
        mode = "exact" if n_und <= AUTO_EXACT_MAX_EDGES else "sync"
    if mode == "exact":
        return _lpa_exact(graph, seed, max_sweeps)
    if mode == "sync":
        return _lpa_sync(graph, seed, max_sweeps, tol_frac)
    raise ValueError(f"unknown LPA mode {mode!r}")


def _lpa_exact(graph: LinkGraph, seed: int, max_sweeps: int) -> DataFrame:
    import pandas as pd

    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        nodes = np.unique(np.concatenate([pdf["id"].values, pdf["nbr_id"].values]))
        adj: dict[int, list[int]] = {}
        for a, b in zip(pdf["id"].values, pdf["nbr_id"].values):
            adj.setdefault(int(a), []).append(int(b))
        labels = {int(v): int(v) for v in nodes}
        order = [int(v) for v in np.sort(nodes)]
        rng = np.random.RandomState(seed)
        order = [order[i] for i in rng.permutation(len(order))]
        for _ in range(max_sweeps):
            changed = False
            for v in order:
                nbrs = adj.get(v)
                if not nbrs:
                    continue
                counts: dict[int, int] = {}
                for u in nbrs:
                    lu = labels[u]
                    counts[lu] = counts.get(lu, 0) + 1
                # most frequent; ties → largest label
                best = max(counts.items(), key=lambda kv: (kv[1], kv[0]))[0]
                if best != labels[v]:
                    labels[v] = best
                    changed = True
            if not changed:
                break
        return pd.DataFrame(
            {"id": list(labels.keys()), "label": list(labels.values())}
        )

    labelled = (
        und.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(lambda _, pdf: sweep(pdf), schema="id long, label long")
    )
    return (
        graph.ids()
        .join(labelled, "id", "left")
        .select("name", "id", F.coalesce("label", F.col("id")).alias("label"))
    )


def _lpa_sync(
    graph: LinkGraph, seed: int, max_sweeps: int, tol_frac: float = 0.0
) -> DataFrame:
    spark = graph.spark
    # size the loop's exchanges to the actual adjacency volume (AQE is off
    # inside iteration_conf, so nothing coalesces empty tasks for us):
    # a windowed/toy graph at P=32 pays ~16 empty-task launches per
    # exchange per sweep, pure scheduler latency
    n_und = graph.undirected_edge_ids().count()
    P = pick_partitions(spark, n_und)
    with iteration_conf(spark, shuffle_partitions=P):
        return _lpa_sync_loop(graph, spark, seed, max_sweeps, tol_frac)


def _lpa_sync_loop(
    graph: LinkGraph, spark, seed: int, max_sweeps: int, tol_frac: float = 0.0
) -> DataFrame:
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ids = graph.ids().persist()
    und = (
        graph.undirected_edge_ids()
        .filter(F.col("id") != F.col("nbr_id"))
        .repartition(P, "nbr_id")
        .persist()
    )
    # md5-based parity (not xxhash64): engine-reproducible, so the sync
    # schedule — and therefore the final labels — can be replayed by a
    # SQL oracle (see trade/transition LPA oracle in __spark_entry__.py)
    from linkgraph.pipeline.sampling import hash_key

    def one_sweep(cur: DataFrame, sweep_idx: int) -> DataFrame:
        half = F.pmod(hash_key(F.col("id"), f"lpa:{seed}"), F.lit(2)) == F.lit(
            sweep_idx % 2
        )
        msgs = (
            und.join(
                cur.select(F.col("id").alias("nbr_id"), F.col("label").alias("nl")),
                "nbr_id",
            )
            .groupBy("id", "nl")
            .agg(F.count("*").alias("c"))
            .groupBy("id")
            .agg(F.max(F.struct("c", "nl")).alias("best"))
            .select("id", F.col("best.nl").alias("cand"))
        )
        return cur.join(msgs, "id", "left").select(
            "id",
            F.when(half & F.col("cand").isNotNull(), F.col("cand"))
            .otherwise(F.col("label"))
            .alias("label"),
            # pair-start label rides along → the per-pair stats need no
            # second state join
            "prev_label",
        )

    # PAIR granularity: the parity schedule updates each node AT MOST ONCE
    # per even+odd pair, so "no movement across a full pair" ≡ "labels
    # unchanged since pair start" — two sweeps fuse into ONE Spark job that
    # computes, cuts and measures the pair, the pair-start label riding
    # along as ``prev_label``.  Every exit lands on an even sweep count, so
    # a fixed even-``max_sweeps`` unroll stays engine-exact.
    first_sweeps = iter(range(0, max_sweeps, 2))

    def pair(state: DataFrame, _row) -> DataFrame:
        first = next(first_sweeps)
        cur = one_sweep(
            state.select("id", "label", F.col("label").alias("prev_label")), first
        )
        return one_sweep(cur, first + 1) if first + 1 < max_sweeps else cur

    state = ids.select(
        "id", F.col("id").alias("label"), F.col("id").alias("prev_label")
    ).repartition(P, "id")
    changed_cap = int(tol_frac * ids.count()) if tol_frac else 0  # 0: exact fixpoint
    last_fp = None  # the previous pair's state hash: period-2 cycle guard
    for rnd, state, row in supersteps(
        "lpa",
        state,
        pair,
        F.count(F.when(F.col("label") != F.col("prev_label"), 1)).alias("chg"),
        F.sum(F.xxhash64("id", "label").bitwiseAND(F.lit(0xFFFFFFFF))).alias("fp"),
        rounds=range(1, (max_sweeps + 1) // 2 + 1),
    ):
        if 2 * rnd <= max_sweeps and row["chg"] <= changed_cap:
            # a full even+odd pair within tolerance (tol_frac=0: fixpoint —
            # further sweeps are provable no-ops, any longer unroll matches)
            break
        if row["fp"] == last_fp:
            # period-2 oscillation (e.g. a reciprocal pair whose endpoints
            # share hash parity swapping labels forever): state repeats
            # every pair, so stopping here equals any longer even unroll
            break
        last_fp = row["fp"]
    return state.join(ids, "id").select("name", "id", "label")
