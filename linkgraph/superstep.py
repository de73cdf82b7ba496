"""Superstep iteration discipline — the distributed TaskRunner analogue.

Raphtory executes algorithms as BSP supersteps over double-buffered local
state with a driver-side convergence check
(reference: db/task/task_runner.rs:209-296 — prev/cur swap at :274-276,
Job::Check at :176-184, morcel size 16k at :229). Our analogue:

- vertex state lives in a DataFrame hash-partitioned by ``id`` (the
  distributed version of ``vid % 16`` shard routing, core/storage/mod.rs:29);
- each superstep derives ``state_{i+1}`` from ``state_i`` (Jacobi — reads see
  only the previous iteration, exactly like ``prev()``/``get_mut()``);
- a tiny one-row aggregate collected to the driver decides convergence;
- lineage is truncated so the logical plan doesn't grow unboundedly across
  iterations;
- per the north rule, vertex state checkpoints to a table per superstep with
  a lineage row ``(partition_id, iteration, rows, checksum, wall_ms)``
  (checksum observed during the write — no readback) so any run resumes
  from the last completed iteration, and convergence deltas are emitted as
  metrics (``metrics.jsonl``).

The checkpoint store targets Iceberg when an Iceberg catalog is on the
classpath (``df.writeTo(table)``); this sandbox image has no Iceberg jars,
so the same layout is written as parquet snapshot directories — identical
interface, per-snapshot atomic commit via the lineage append.

Two drivers run the loops:

- :func:`supersteps` — for loops measured by a one-row aggregate of their
  state (the *witness*).  Each round is ONE Spark job: a lazy
  ``localCheckpoint`` whose first consumer is the witness aggregate, so the
  job computes, stores and measures the round; the superseded round is
  freed once the next is stored (:func:`release_cut`), and the witness row
  is handed to the next round.  A state carries the columns its
  convergence check reads (a previous score or label), so no round joins
  the previous one.  The caller owns the stop rule and may save each round
  to a :class:`CheckpointStore` and resume from it.  It runs PageRank (the
  ``superstep`` kernel, checkpointed) and
  ``personalized_pagerank``; weakly connected components (checkpointed);
  ``hits``; the centrality power iterations (eigenvector, Katz,
  ``weighted_pagerank`` and so ``decayed_pagerank``); and sync label
  propagation.  :func:`fixpoint` is the :func:`supersteps` that stops when
  the witness repeats and raises at its cap: ``kcore`` (k-core peel, k-truss
  peel, coreness, truss decomposition), ``structure.dag_path_counts``,
  ``paths.earliest_arrival_times`` / ``latest_departure_times``, the forward
  min-id colouring of ``components.strongly_connected_components``, and the
  min-label hook + pointer-jump merge ``components.min_label_merge`` (the
  superstep kernel of ``community.triangle_communities`` and the per-round
  merge of ``mst.minimum_spanning_forest``).
- :func:`seminaive` — for loops that grow their state until a round's
  delta is empty: ``paths`` BFS, Dijkstra and widest paths; in/out
  components, the SCC backward sweep and the bow-tie reach-from-set runs;
  ``centrality.multi_source_bfs``; SI infection in ``seir``.  ONE Spark job
  per round cuts and counts the delta and stores the merged state.

Other loops fit no driver (README "Execution model" says why) and keep
their own; ``fastest_path_durations`` and ``onion_layers`` take the same
cut (:func:`mark_cut`, :func:`lazy_cut`) and release.
"""

from __future__ import annotations

import json
import logging
import os
import time as _time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F


@contextmanager
def iteration_conf(spark: SparkSession, shuffle_partitions: int | None = None):
    """Loop-scoped session tuning for superstep iteration.

    - Disables AQE: it re-plans and materializes every shuffle stage per
      query — measured ~8x per-superstep overhead on iterated micro-queries
      — while buying nothing here, since superstep plans are stable and
      their joins run on co-partitioned sides.
    - Optionally pins ``spark.sql.shuffle.partitions`` to the loop's
      partition count so every groupBy exchange lands on the same
      partitioning as the cached state/edge tables (no re-exchanges), and
      small graphs don't pay 2-3x task-scheduling overhead for empty tasks.
    - Disables AUTO-broadcast and prefers shuffled-hash join: Catalyst would
      otherwise broadcast any under-64MB rank/label vector, rebuilding the
      broadcast relation on the driver EVERY superstep — a serial
      per-iteration cost that inverts scaling (measured 8 cores beating 32).
      With both loop sides pre-hash-partitioned on the join key, SHJ runs
      with zero exchange and no per-iteration sort.  An explicit
      ``F.broadcast`` hint would override this at the cost of one more
      Spark job per superstep; PageRank's rank-vector hint won neither at
      4,000 nor at 900,000 nodes (BENCH.md "Kernel A/B").

    All restored afterwards so one-shot queries keep AQE's skew handling.
    """
    keys = [
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.join.preferSortMergeJoin",
        "spark.sql.maxPlanStringLength",
    ]
    prior = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        # deep iterated lineages render megabyte plan STRINGS per action for
        # listeners (pure driver-CPU waste + WARN spam); inside a loop the
        # rendered plan is debug output only, so cap it hard
        spark.conf.set("spark.sql.maxPlanStringLength", str(16 * 1024))
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        yield
    finally:
        for k, v in prior.items():
            if v is not None:
                spark.conf.set(k, v)


def pick_partitions(spark: SparkSession, n_rows: int, rows_per_partition: int = 250_000) -> int:
    """Partition count for iterated state/edges: enough to parallelize the
    real data volume, never more than the session ceiling, never fewer
    than 2 (``ceil(rows / rows_per_partition)`` clamped)."""
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = max(2, (n_rows + rows_per_partition - 1) // rows_per_partition)
    return min(ceiling, want)

LINEAGE_SCHEMA = (
    "partition_id int, iteration int, rows long, checksum long, wall_ms double"
)


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        ext = ""
    return "Iceberg" in ext


class CheckpointStore:
    """Per-superstep vertex-state checkpoints with lineage + resume."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.use_iceberg = _iceberg_available(spark)
        os.makedirs(self.path, exist_ok=True)

    # -- layout ----------------------------------------------------------
    def _state_path(self, iteration: int) -> str:
        return f"{self.path}/state/iter={iteration:05d}"

    @property
    def _lineage_path(self) -> str:
        return f"{self.path}/lineage"

    @property
    def _metrics_path(self) -> str:
        return f"{self.path}/metrics.jsonl"

    # -- meta ------------------------------------------------------------
    @property
    def _meta_path(self) -> str:
        return f"{self.path}/meta.json"

    def write_meta(self, meta: dict) -> None:
        if not os.path.exists(self._meta_path):
            with open(self._meta_path, "w") as f:
                json.dump(meta, f)

    def validate_meta(self, meta: dict) -> None:
        """Refuse to resume a checkpoint written for a different input.

        Compares a caller-supplied fingerprint (e.g. node count + edge
        checksum) against the one recorded at the first save.
        """
        if not os.path.exists(self._meta_path):
            return
        with open(self._meta_path) as f:
            recorded = json.load(f)
        if recorded != meta:
            raise ValueError(
                f"checkpoint at {self.path} was written for a different "
                f"input/config: recorded={recorded} current={meta}; refusing "
                "to resume (pass a fresh checkpoint_dir)"
            )

    # -- write -----------------------------------------------------------
    def save(self, df: DataFrame, iteration: int, metrics: dict | None = None) -> None:
        """Write state snapshot, then lineage rows (the commit marker).

        Lineage checksum is an order-insensitive 64-bit fold (sum of
        xxhash64 over all columns) collected via ``observe()`` DURING the
        parquet write — one Spark job per save, no readback of the files
        just written.  ``partition_id`` is ``-1``: the fold is global (the
        per-save serial cost must stay independent of N, and observed
        metrics cannot be split per output partition).
        """
        t0 = _time.monotonic()
        obs = Observation()
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            # order-insensitive fold; 32-bit terms so the ANSI long sum
            # cannot overflow below 2^31 rows
            F.sum(
                F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF))
            ).alias("checksum"),
        )
        observed.write.mode("overwrite").parquet(self._state_path(iteration))
        got = obs.get
        lineage = self.spark.createDataFrame(
            [
                (
                    -1,
                    iteration,
                    int(got["rows"]),
                    int(got["checksum"] or 0),
                    (_time.monotonic() - t0) * 1000.0,
                )
            ],
            schema=LINEAGE_SCHEMA,
        )
        lineage.write.mode("append").parquet(self._lineage_path)
        if metrics is not None:
            with open(self._metrics_path, "a") as f:
                f.write(json.dumps({"iteration": iteration, **metrics}) + "\n")

    # -- read ------------------------------------------------------------
    def last_completed(self) -> int | None:
        """Highest iteration with committed lineage rows."""
        try:
            lin = self.spark.read.parquet(self._lineage_path)
        except Exception:
            return None
        row = lin.agg(F.max("iteration")).first()
        return None if row is None or row[0] is None else int(row[0])

    def load(self, iteration: int) -> DataFrame:
        return self.spark.read.parquet(self._state_path(iteration))

    def resume(self, state: DataFrame) -> tuple[DataFrame, int]:
        """The last completed iteration's state and the iteration after it;
        ``state`` and iteration 1 when none has completed."""
        last = self.last_completed()
        return (state, 1) if last is None else (self.load(last), last + 1)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self._lineage_path)


_log = logging.getLogger("linkgraph.superstep")


def lazy_cut(df: DataFrame, *aggs: Column) -> tuple[DataFrame, Row]:
    """Cut ``df``'s lineage and measure it in ONE Spark job.

    ``localCheckpoint(eager=False)`` only marks the frame; the one-row
    ``aggs`` aggregate is its first consumer, so that job computes the
    frame, stores its blocks and returns the aggregate row.  Every later
    reader starts from the stored blocks (:func:`mark_cut`).
    """
    df = mark_cut(df)
    return df, df.agg(*aggs).first()


def mark_cut(df: DataFrame) -> DataFrame:
    """``df`` cut by a local checkpoint that the first job reading it
    computes and stores, without the plan statistics the cut would inherit
    from the plan it cut; Spark then sizes it at
    ``spark.sql.defaultSizeInBytes``, like any RDD-backed frame.

    Spark sizes a join as the PRODUCT of its sides, and a checkpoint keeps
    the size of the plan it cut.  A step that joins the state with itself
    (the pointer jump; the ``state`` full join of the temporal relaxations)
    therefore squares the estimate every round: its bit length doubles per
    round and, a dozen to twenty rounds in, planning one round takes minutes
    of BigInteger arithmetic.  The partitioning and the stored blocks are kept.
    """
    cut = df.localCheckpoint(eager=False)
    spark = cut.sparkSession
    jvm = spark._jvm
    lp = cut._jdf.queryExecution().logical()
    none = jvm.scala.Option.empty()
    lp = lp.copy(
        lp.output(), lp.rdd(), lp.outputPartitioning(), lp.outputOrdering(),
        lp.isStreaming(), lp.stream(), spark._jsparkSession, none, none,
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, lp),
        spark,
    )


def release_cut(df: DataFrame) -> None:
    """Free the stored blocks of a frame cut by :func:`lazy_cut`.

    ``df.unpersist()`` does not reach them: a local checkpoint is an RDD
    persisted outside the cache manager, which Spark frees only once a JVM
    garbage collection drops it — so a loop that cuts every round keeps
    every superseded round on the executors until then.  Call this when
    the next round is stored; nothing may read ``df`` afterwards.
    """
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def supersteps(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame, Row], DataFrame],
    *witness: Column,
    rounds: Iterable[int],
    save: Callable[[int, DataFrame, Row], None] | None = None,
) -> Iterator[tuple[int, DataFrame, Row]]:
    """Run ``state = step(state, row)`` for each round number in ``rounds``;
    yields ``(round, state, row)``.

    ``witness`` is a one-row aggregate (one or more columns) of the state:
    the initial ``state`` is cut and measured by :func:`lazy_cut` when this
    is called (one Spark job), and each round's ``step`` output is cut and
    measured the same way, so a round is ONE Spark job that computes,
    stores and measures it.  ``row`` is that round's witness row; ``step``
    receives the row of the state it reads (e.g. PageRank's sink mass).  A
    state that carries the columns its convergence check reads (a previous
    score or label) needs no join against the previous round.  The
    superseded round is released once the next is stored; then
    ``save(round, state, row)`` runs (a :class:`CheckpointStore` write)
    and one DEBUG record goes to the ``linkgraph.superstep`` logger (name,
    round, witness, wall).

    The caller owns the stop rule: it leaves the loop when a row says so,
    and the loop ends silently when ``rounds`` runs out (pass
    :func:`rounds` for the loud ``not converged`` guard).  Nothing may read
    a yielded state once the next round is asked for.
    """
    state, row = lazy_cut(state, *witness)

    def run(state: DataFrame, row: Row):
        for rnd in rounds:
            t0 = _time.monotonic()
            old = state
            state, row = lazy_cut(step(state, row), *witness)
            release_cut(old)
            if save is not None:
                save(rnd, state, row)
            _log.debug(
                "%s round=%d witness=%s wall_s=%.3f",
                name, rnd, tuple(row), _time.monotonic() - t0,
            )
            yield rnd, state, row

    return run(state, row)


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *witness: Column,
    max_rounds: int,
) -> tuple[DataFrame, int]:
    """Iterate ``state = step(state)`` until the witness stops changing.

    ``witness`` is the one-row aggregate (one or more columns) that
    converges with the state — e.g. ``F.sum("v")`` for values that only
    decrease.  The :func:`supersteps` whose stop rule is "the witness
    equals the previous one": one Spark job per round (plus one for the
    initial state), superseded rounds released, one DEBUG record per
    round.  Returns the final state and the number of rounds run, the
    repeating one included.  Raises ``RuntimeError`` if ``max_rounds``
    rounds do not converge (:func:`rounds`).
    """
    last = None

    def advance(state: DataFrame, row: Row) -> DataFrame:
        nonlocal last
        last = row
        return step(state)

    for rnd, state, row in supersteps(
        name, state, advance, *witness, rounds=rounds(name, max_rounds)
    ):
        if row == last:
            return state, rnd


def rounds(name: str, max_rounds: int):
    """Rounds 1..``max_rounds`` of a loop that leaves when it converges;
    asking for one more raises the loud ``not converged`` guard."""
    yield from range(1, max_rounds + 1)
    raise RuntimeError(f"{name}: not converged after {max_rounds} rounds — raise max_rounds")


def seminaive(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame, DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    *,
    max_rounds: int,
) -> tuple[DataFrame, int]:
    """Grow ``state`` delta by delta until a round derives nothing new.

    The initial ``state`` is also the first delta.  ``step(delta, state)``
    returns the rows new to (or better than) ``state``, reading ``state``;
    ``merge(state, delta)`` folds them in (``DataFrame.unionByName``, or
    :func:`replace_by_id`); the merged state is coalesced (no shuffle) to
    ``spark.sql.shuffle.partitions``, so a union does not add the delta's
    partitions every round.  ONE Spark job per round cuts and counts the
    delta and stores the state merged the round before, whose inputs are
    then freed.  Returns the final state and the rounds run, the empty one
    included; raises ``RuntimeError`` after ``max_rounds`` non-empty rounds;
    logs one DEBUG record per round (name, round, delta rows, wall).
    """
    # a job storing a cut also stores + cuts each marked frame it read, whole:
    # merged states are complete before their inputs are freed, lineage short
    spark, key = state.sparkSession, "spark.checkpoint.checkpointAllMarkedAncestors"
    sc, P = spark.sparkContext, int(spark.conf.get("spark.sql.shuffle.partitions"))
    prior = sc.getLocalProperty(key)
    sc.setLocalProperty(key, "true")
    try:
        state, _ = lazy_cut(state, F.count(F.lit(1)))
        delta, stale = state, ()
        for rnd in rounds(name, max_rounds):
            t0 = _time.monotonic()
            new, (rows,) = lazy_cut(step(delta, state), F.count(F.lit(1)))
            for old in stale:  # that job stored ``state``, merged from these
                release_cut(old)
            _log.debug(
                "%s round=%d delta_rows=%d wall_s=%.3f",
                name, rnd, rows, _time.monotonic() - t0,
            )
            if rows == 0:
                release_cut(new)
                return state, rnd
            stale, delta = (state, new), new
            state = mark_cut(merge(state, new).coalesce(P))
    finally:
        sc.setLocalProperty(key, prior)


def replace_by_id(state: DataFrame, delta: DataFrame) -> DataFrame:
    """``state`` with each row whose ``id`` is in ``delta`` replaced by the
    delta's row — the :func:`seminaive` merge of a relaxation whose delta
    holds only improved rows (Dijkstra, widest paths, SI infection)."""
    return state.join(delta.select("id"), "id", "left_anti").unionByName(delta)
