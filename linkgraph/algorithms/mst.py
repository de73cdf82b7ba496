"""Minimum spanning forest — distributed Borůvka.

Beyond the reference's algorithm set (its closest relatives are the
connected-components family, connected_components.rs): the MSF is the
classic "cheapest backbone" readout over a weighted link graph — the
minimal set of edges that keeps every component connected, e.g. the
cheapest trade relationships that still reach every participant.

Borůvka is THE distributed MST algorithm: every round each component
picks its minimum outgoing edge and merges along it, so the component
count at least halves per round (≤ log2 n rounds), and each round is one
relabel join + one per-component min aggregate — no priority queue, no
sequential union-find.  The merge step runs on the LABEL graph only (at
most one row per remaining component, shrinking geometrically), never on
the full edge set.

Determinism: edges are totally ordered by ``(w, lo, hi)``, which makes
the effective weights distinct, so the MSF is UNIQUE (cut property) and
the whole run is a pure function of the input — replayed round-for-round
by the DuckDB oracle in ``__spark_entry__``.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.algorithms.components import min_label_merge
from linkgraph.graph import LinkGraph, name_to_id
from linkgraph.superstep import iteration_conf, pick_partitions


def edge_event_weights(graph: LinkGraph) -> DataFrame:
    """``(lo, hi, w)``: temporal event count per canonical undirected edge.

    The default MSF weight — ``w`` = number of events on the edge in
    either direction, so the forest prefers rarely-exercised links (the
    "minimum activity backbone").  One map-side-combined hash aggregate
    over the event table; self-loops dropped (a loop never joins
    components).
    """
    e = graph.edges_t.filter(F.col("src") != F.col("dst"))
    s = name_to_id(F.col("src"))
    d = name_to_id(F.col("dst"))
    return (
        e.groupBy(
            F.least(s, d).alias("lo"), F.greatest(s, d).alias("hi")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )


def minimum_spanning_forest(
    graph: LinkGraph,
    weights: DataFrame | None = None,
    max_rounds: int = 32,
) -> DataFrame:
    """Borůvka MSF — ``(lo, hi, w, round)``: one row per forest edge with
    the round that picked it.

    ``weights``: canonical ``(lo, hi, w)`` per undirected edge (defaults
    to :func:`edge_event_weights`).  Ties broken by ``(w, lo, hi)`` —
    the unique-MSF contract documented in the module docstring.

    Per round: relabel edges by current component labels (two id-keyed
    joins), drop intra-component edges, take the per-component
    ``min_by(struct(lo,hi,w), struct(w,lo,hi))`` over both orientations,
    then merge labels on the picked label graph with
    :func:`~linkgraph.algorithms.components.min_label_merge` (hook +
    pointer-jump rounds).  ``max_rounds`` bounds the Borůvka rounds only:
    the merge needs up to diameter + 1 rounds of the picked forest, which
    grows with the input, and always converges, so it runs unguarded.

    Memory shape (the 160 M-edge lesson): the working edge set is
    COMPACTED every round — an edge intra-component under the current
    labels can never be picked later, so the relabeled cross-component
    set ``e2`` becomes the next round's input.  Exactly ONE edge-scale
    localCheckpoint is live at a time (the source relation is computed
    through, never checkpointed), and the compacted set shrinks
    geometrically with the component count; superseded checkpoint blocks
    are released by dropping the reference + a gc kick per round.
    """
    import gc

    spark = graph.spark
    ew = weights if weights is not None else edge_event_weights(graph)
    raw = ew.select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        F.col("w").cast("long").alias("w"),
    ).persist()
    P = pick_partitions(spark, raw.count())
    forest_parts: list[DataFrame] = []
    with iteration_conf(spark, shuffle_partitions=P):
        edges = raw
        lab = (
            edges.select(F.col("lo").alias("id"))
            .unionByName(edges.select(F.col("hi").alias("id")))
            .distinct()
            .select("id", F.col("id").alias("l"))
            .localCheckpoint(eager=True)
        )
        rnd = 0
        while True:
            e2 = (
                edges.join(
                    lab.select(F.col("id").alias("lo"), F.col("l").alias("llo")),
                    "lo",
                )
                .join(
                    lab.select(F.col("id").alias("hi"), F.col("l").alias("lhi")),
                    "hi",
                )
                .filter(F.col("llo") != F.col("lhi"))
                .localCheckpoint(eager=True)
            )
            if rnd == 0:
                raw.unpersist()
            if e2.isEmpty():
                break
            if rnd >= int(max_rounds):
                raise RuntimeError(
                    f"Boruvka MSF did not converge in {max_rounds} rounds"
                )
            cand = e2.select(
                F.col("llo").alias("c"), "lo", "hi", "w", "llo", "lhi"
            ).unionByName(
                e2.select(F.col("lhi").alias("c"), "lo", "hi", "w", "llo", "lhi")
            )
            picks = (
                cand.groupBy("c")
                .agg(
                    F.min_by(
                        F.struct("lo", "hi", "w", "llo", "lhi"),
                        F.struct("w", "lo", "hi"),
                    ).alias("e")
                )
                .select("e.lo", "e.hi", "e.w", "e.llo", "e.lhi")
                .distinct()
                .localCheckpoint(eager=True)
            )
            forest_parts.append(
                picks.select(
                    "lo", "hi", "w", F.lit(rnd).cast("long").alias("round")
                )
            )
            # merge on the label graph: one row per hooked component pair
            lg = (
                picks.select(F.col("llo").alias("a"), F.col("lhi").alias("b"))
                .unionByName(
                    picks.select(F.col("lhi").alias("a"), F.col("llo").alias("b"))
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
            m = min_label_merge(lg, "minimum_spanning_forest", sys.maxsize)
            lab = (
                lab.join(
                    m.select(F.col("c").alias("l"), F.col("l").alias("_new")),
                    "l",
                    "left",
                )
                .select("id", F.coalesce("_new", F.col("l")).alias("l"))
                .localCheckpoint(eager=True)
            )
            # compaction: only cross-component edges can ever be picked
            # later, so the relabeled set is the next round's input — the
            # previous round's checkpoint blocks free once dereferenced
            edges = e2.select("lo", "hi", "w")
            rnd += 1
            gc.collect()
    if not forest_parts:
        return spark.createDataFrame([], "lo long, hi long, w long, round long")
    out = forest_parts[0]
    for p_ in forest_parts[1:]:
        out = out.unionByName(p_)
    return out
