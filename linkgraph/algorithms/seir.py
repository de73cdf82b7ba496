"""Temporal SEIR epidemics — ``temporal_SEIR``
(algorithms/dynamics/temporal/epidemics.rs:166-244, arXiv:2007.14386).

The reference runs a sequential discrete-event simulation: a priority queue
pops the earliest infection event; an uninfected node becomes infected at
that time, samples an incubation delay (Exp(incubation_rate), default 1)
and a recovery delay (Exp(recovery_rate), default ∞), and during its active
window ``[infected+incubation, infected+incubation+recovery)`` each exploded
out-edge event flips a Bernoulli(infection_prob) coin — the FIRST success
per neighbour queues an infection for that neighbour at the event's time.

That DES is equivalent, under *quenched* randomness, to an
earliest-infection-time fixpoint: pre-draw every coin (one per exploded
edge event) and every node's delays, then

    infected(v) = min over in-events (u, v, t) with
                  t ∈ [active(u), recovered(u)) and coin(u, v, t)
                  of t        (seeds fixed at ``initial_infection``)

because "first successful event in the window" = "min successful event in
the window", and a node's behaviour depends only on its OWN infection time,
monotonically: relaxing infection times downward converges to the unique
fixpoint = the DES outcome for the same draws.  (Each coin / delay is
consumed at most once in the DES, so quenching does not change the
distribution — but the per-seed event stream differs, so per-seed outputs
are NOT bit-identical to the Rust rand stream: documented divergence, same
process law.  tests/test_seir.py checks the Spark fixpoint against a pure
Python DES replaying the reference's queue logic on the SAME quenched
draws, exactly.)

Scale shape: the coin filter drops ``(1-p)`` of the event table once, up
front; each superstep is one frontier hash join against the surviving
events plus a min-aggregate — the temporal-reachability plan.  Supersteps
= longest improving infection chain.  No driver loops, no per-row Python.

Randomness is ``xxhash64``-keyed (JVM-side, whole-stage codegen): uniforms
come from the low 53 bits of ``xxhash64(..., rng_seed)``; exponential
delays via inverse CDF ``floor(-ln(u)/rate)`` matching the reference's
``dist.sample(rng) as i64`` truncation (epidemics.rs:205-210).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, name_to_id
from linkgraph.superstep import iteration_conf, replace_by_id, rounds, seminaive

I64_MAX = (1 << 63) - 1
_MASK53 = (1 << 53) - 1
_SCALE53 = float(1 << 53)


def _unif(*cols):
    """Deterministic uniform in [0, 1) from the low 53 bits of xxhash64."""
    return (F.xxhash64(*cols).bitwiseAND(F.lit(_MASK53))) / F.lit(_SCALE53)


def _exp_delay(u, rate: float):
    """floor(Exp(rate) sample) by inverse CDF; u ∈ [0,1) shifted off 0."""
    # 1-u ∈ (0,1] so ln() is finite; floor matches the reference's `as i64`
    return F.floor(-F.log(F.lit(1.0) - u) / F.lit(rate)).cast("long")


def temporal_seir(
    graph: LinkGraph,
    infection_prob: float,
    initial_infection: int,
    seeds: list[str] | int | float,
    recovery_rate: float | None = None,
    incubation_rate: float | None = None,
    rng_seed: int = 0,
    max_iter: int = sys.maxsize,
) -> DataFrame:
    """Quenched-randomness temporal SEIR; returns one row PER INFECTED node:
    ``(name, id, infected, active, recovered)`` — the reference's
    ``Infected`` struct (epidemics.rs:31-35; uninfected nodes are absent
    from its result map too).

    ``seeds``: list of node names (epidemics.rs:75-90), ``int n`` = a
    deterministic hash-ordered sample of n nodes (``Number``, :105-124), or
    ``float p`` = each node seeded with probability p (``Probability``,
    :92-103).  ``recovery_rate=None`` → SI (never recover);
    ``incubation_rate=None`` → incubation 1 (:205-210).  ``max_iter``
    bounds the supersteps; a run that needs more raises ``RuntimeError``.
    """
    if not 0.0 <= infection_prob <= 1.0:
        raise ValueError(f"Invalid probability {infection_prob}")
    spark = graph.spark
    ids = graph.ids().persist()

    # ---- quenched per-node delays (consumed when the node gets infected)
    u_inc = _unif(F.col("id"), F.lit(rng_seed), F.lit(1))
    u_rec = _unif(F.col("id"), F.lit(rng_seed), F.lit(2))
    incub = (
        F.lit(1).cast("long")
        if incubation_rate is None
        else _exp_delay(u_inc, incubation_rate)
    )
    recov = (
        F.lit(None).cast("long")  # NULL = never recovers (end = i64 MAX)
        if recovery_rate is None
        else _exp_delay(u_rec, recovery_rate)
    )
    delays = ids.select("id", incub.alias("incub"), recov.alias("recov"))

    # ---- seed selection
    if isinstance(seeds, bool):
        raise TypeError("seeds must be a list of names, an int, or a float")
    if isinstance(seeds, float):
        if not 0.0 <= seeds <= 1.0:
            raise ValueError(f"Invalid seed fraction {seeds}")
        seed_df = ids.filter(
            _unif(F.col("id"), F.lit(rng_seed), F.lit(3)) < F.lit(seeds)
        ).select("id")
    elif isinstance(seeds, int):
        n_nodes = ids.count()
        if seeds > n_nodes:
            raise ValueError(
                f"Requested {seeds} seeds for graph with {n_nodes} nodes"
            )
        seed_df = (
            ids.select("id", _unif(F.col("id"), F.lit(rng_seed), F.lit(3)).alias("u"))
            .orderBy("u", "id")
            .limit(seeds)
            .select("id")
        )
    else:
        names = [str(s) for s in seeds]
        seed_df = ids.filter(F.col("name").isin(names)).select("id")
        if seed_df.count() != len(set(names)):
            found = {r["name"] for r in ids.filter(F.col("name").isin(names)).collect()}
            missing = sorted(set(names) - found)
            raise ValueError(f"Invalid node {missing[0]}")

    # ---- quenched coins: keep only transmitting exploded events (the one
    # map-side filter that makes p the effective edge-table sampling rate)
    events = (
        graph.edges_t.select(
            name_to_id(F.col("src")).alias("src_id"),
            name_to_id(F.col("dst")).alias("dst_id"),
            "time",
        )
        .filter(
            _unif(F.col("src_id"), F.col("dst_id"), F.col("time"), F.lit(rng_seed))
            < F.lit(float(infection_prob))
        )
        .persist()
    )

    t0 = int(initial_infection)
    state = seed_df.select("id", F.lit(t0).cast("long").alias("infected"))

    with iteration_conf(spark):
        if recovery_rate is None:
            state = _si_relaxation(state, delays, events, max_iter)
        else:
            state = _dijkstra_levels(state.localCheckpoint(), delays, events, max_iter)

    events.unpersist()
    return (
        state.join(delays, "id")
        .join(ids, "id")
        .select(
            "name",
            "id",
            "infected",
            (F.col("infected") + F.col("incub")).alias("active"),
            _recovered_col().alias("recovered"),
        )
    )


def _recovered_col():
    """end = (infected + incub) saturating_add recov (epidemics.rs:211-212);
    NULL recov = never recovers = i64::MAX."""
    return F.when(F.col("recov").isNull(), F.lit(I64_MAX)).otherwise(
        F.least(F.lit(I64_MAX) - F.col("recov"), F.col("infected") + F.col("incub"))
        + F.col("recov")
    )


def _send_windows(frontier, delays):
    """Frontier nodes as senders: ``(src_id, a_start, a_end)`` active window."""
    return frontier.join(delays, "id").select(
        F.col("id").alias("src_id"),
        (F.col("infected") + F.col("incub")).alias("a_start"),
        _recovered_col().alias("a_end"),
    )


def _si_relaxation(seeds, delays, events, max_iter):
    """No recovery (SI): windows ``[infected+incub, ∞)`` only GROW when an
    infection time improves, so the earliest-infection operator is monotone
    and plain frontier relaxation converges to the least fixpoint = the DES
    outcome.  Supersteps = longest improving hop chain."""

    def relax(frontier, state):
        cand = (
            _send_windows(frontier, delays)
            .join(events, "src_id")
            .filter(F.col("time") >= F.col("a_start"))
            .groupBy(F.col("dst_id").alias("id"))
            .agg(F.min("time").alias("cand"))
        )
        return (
            cand.join(state, "id", "left")
            .filter(F.col("infected").isNull() | (F.col("cand") < F.col("infected")))
            .select("id", F.col("cand").alias("infected"))
        )

    state, _ = seminaive(
        "temporal_seir", seeds, relax, replace_by_id, max_rounds=max_iter
    )
    return state


def _dijkstra_levels(state, delays, events, max_iter):
    """Finite recovery: an EARLIER infection can CLOSE a sender's window
    (``[infected+incub, ·+recov)`` shifts left), so plain relaxation could
    keep stale infections the DES never makes.  Dijkstra-style batched
    finalisation instead: candidates come only from FINALISED senders, and
    a candidate ``(v, t_v)`` is safe to finalise when ``t_v ≤ τ`` with
    ``τ = min over candidates of (t_v + incub_v)`` — every not-yet-made
    transmission starts a chain at some current candidate ``v`` and so
    happens at time ≥ ``t_v + incub_v`` ≥ τ, hence cannot beat the batch.
    Batch span ≥ the minimum incubation per superstep (delta-stepping with
    delta = incubation)."""
    frontier = state  # seeds are final: t0 is the global minimum time
    cands = None  # pending tentative candidates (id, cand, incub)
    for _ in rounds("temporal_seir", max_iter):
        new = (
            _send_windows(frontier, delays)
            .join(events, "src_id")
            .filter(
                (F.col("time") >= F.col("a_start")) & (F.col("time") < F.col("a_end"))
            )
            .groupBy(F.col("dst_id").alias("id"))
            .agg(F.min("time").alias("cand"))
        )
        merged = new if cands is None else (
            cands.select("id", "cand").unionByName(new)
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        cands = (
            merged.join(state, "id", "left_anti")
            .join(delays, "id")
            .select("id", "cand", "incub")
            .localCheckpoint()
        )
        # one driver action: τ and emptiness together
        row = cands.agg(
            F.min(F.col("cand") + F.col("incub")).alias("tau"),
            F.count("*").alias("n"),
        ).first()
        if row["n"] == 0:
            break
        batch = (
            cands.filter(F.col("cand") <= F.lit(row["tau"]))
            .select("id", F.col("cand").alias("infected"))
            .localCheckpoint()
        )
        state = state.unionByName(batch).localCheckpoint()
        frontier = batch
        cands = cands.filter(F.col("cand") > F.lit(row["tau"]))
    return state
