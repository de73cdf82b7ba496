"""``superstep.supersteps``, ``superstep.fixpoint`` and
``superstep.seminaive`` on toy frames: the stop rule, the loud guard or the
silent cap, one Spark job per round, one DEBUG record per round, superseded
rounds released, checkpoint and resume.

The halving toy state halves every value each round (``v -> max(v) div
2`` per id, a shuffle per round), so ``sum(v)`` runs 800, 400, 200, 96,
48, 24, 8, 0, 0 and the witness first repeats in round 8.

The seminaive toy is a BFS from node 0 along the path 0 -> 1 -> ... -> 7:
round ``r`` reaches node ``r``, and round 8 reaches nothing.
"""

import logging

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.superstep import CheckpointStore, fixpoint, iteration_conf, seminaive, supersteps

ROUNDS = 8
PATH_ROUNDS = 8


def _start(spark):
    return spark.range(8).select("id", F.lit(100).cast("long").alias("v"))


def _halve(state):
    return state.groupBy("id").agg(F.expr("max(v) div 2").alias("v"))


def _jobs(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    with iteration_conf(spark, shuffle_partitions=4):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _halving(spark, rounds, save=None, state=None):
    """``(round, witness)`` of each round run, and the witness rows that
    ``step`` was handed."""
    handed = []

    def step(state, row):
        handed.append(tuple(row))
        return _halve(state)

    run = [
        (rnd, tuple(row))
        for rnd, _, row in supersteps(
            "halve", _start(spark) if state is None else state, step, F.sum("v"),
            rounds=rounds, save=save,
        )
    ]
    return run, handed


def test_supersteps_stops_silently_at_the_cap(spark):
    # the caller owns the stop rule: running out of rounds is no error,
    # and each step is handed the witness row of the state it reads
    run, handed = _halving(spark, range(1, 4))
    assert run == [(1, (400,)), (2, (200,)), (3, (96,))]
    assert handed == [(800,), (400,), (200,)]
    assert _halving(spark, range(1, 1)) == ([], [])


def test_supersteps_runs_one_job_per_round_and_resumes(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))

    def save(rnd, state, row):
        store.save(state, rnd, {"sum": row[0]})

    _, plain = _jobs(spark, "test-supersteps-jobs", lambda: _halving(spark, range(1, 4)))
    # one job cuts and measures the initial state, then one per round
    assert plain == 1 + 3
    _, saved = _jobs(
        spark, "test-supersteps-save", lambda: _halving(spark, range(1, 4), save)
    )
    # a save writes the state and appends its lineage row
    assert saved == 1 + 3 + 2 * 3
    # resume: the last saved round stands in for the initial state
    state, start = store.resume(_start(spark))
    assert start == 4 and state.columns == ["id", "v"]
    run, _ = _halving(spark, range(start, 6), state=state)
    assert run == [(4, (48,)), (5, (24,))]
    assert store.resume(_start(spark))[1] == 4  # resuming does not save
    fresh = CheckpointStore(spark, str(tmp_path / "empty"))
    assert fresh.resume(_start(spark))[1] == 1


def test_fixpoint_stops_on_witness_equality(spark):
    state, rounds = fixpoint("halve", _start(spark), _halve, F.sum("v"), max_rounds=64)
    assert rounds == ROUNDS
    assert {r["v"] for r in state.collect()} == {0}


def test_fixpoint_raises_at_max_rounds(spark):
    with pytest.raises(RuntimeError, match="halve: not converged after 3 rounds"):
        fixpoint("halve", _start(spark), _halve, F.sum("v"), max_rounds=3)
    # the round that repeats the witness may be the last one allowed
    _, rounds = fixpoint(
        "halve", _start(spark), _halve, F.sum("v"), max_rounds=ROUNDS
    )
    assert rounds == ROUNDS


def test_fixpoint_runs_one_job_per_round(spark):
    sc = spark.sparkContext
    group = "test-fixpoint-jobs"
    with iteration_conf(spark, shuffle_partitions=4):
        sc.setJobGroup(group, group)
        try:
            _, rounds = fixpoint(
                "halve",
                _start(spark),
                _halve,
                F.count("*"),
                F.sum("v"),
                max_rounds=64,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    # one job cuts and measures the initial state, then one per round
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == rounds + 1


def test_fixpoint_logs_one_debug_record_per_round(spark, caplog):
    caplog.set_level(logging.DEBUG, logger="linkgraph.superstep")
    _, rounds = fixpoint("halve", _start(spark), _halve, F.sum("v"), max_rounds=64)
    records = [r for r in caplog.records if r.name == "linkgraph.superstep"]
    assert [r.levelno for r in records] == [logging.DEBUG] * rounds
    assert [r.args[:2] for r in records] == [("halve", i) for i in range(1, rounds + 1)]
    assert records[-1].args[2] == records[-2].args[2] == (0,)


def test_fixpoint_releases_superseded_rounds(spark):
    # every round is a local checkpoint; only the returned one stays stored
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    state, rounds = fixpoint(
        "halve", _start(spark), _halve, F.sum("v"), max_rounds=64
    )
    assert rounds == ROUNDS
    assert persistent().size() - before <= 1
    assert state.agg(F.sum("v")).first()[0] == 0


def test_fixpoint_cut_does_not_inherit_the_plan_size(spark):
    # Spark sizes a join as the product of its sides: a step that joins the
    # state with itself squares the estimate, and a cut that kept it would
    # double its bit length every round (minutes of planning by round ~20)
    def step(state):
        return _halve(state.join(state.select("id", F.col("v").alias("w")), "id"))

    start = spark.range(8).select("id", F.lit(1 << 12).cast("long").alias("v"))
    state, rounds = fixpoint("self-join", start, step, F.sum("v"), max_rounds=64)
    assert rounds == 14
    size = state._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size.bit_length() <= 64


def _bfs(spark, max_rounds=64):
    path = spark.range(PATH_ROUNDS - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )

    def expand(frontier, reached):
        return (
            frontier.join(path, frontier.id == path.src)
            .select(F.col("dst").alias("id"), (F.col("d") + 1).alias("d"))
            .join(reached, "id", "left_anti")
        )

    start = spark.range(1).select("id", F.lit(0).cast("long").alias("d"))
    return seminaive(
        "bfs", start, expand, DataFrame.unionByName, max_rounds=max_rounds
    )


def test_seminaive_stops_on_empty_delta(spark):
    state, rounds = _bfs(spark)
    assert rounds == PATH_ROUNDS
    assert sorted((r["id"], r["d"]) for r in state.collect()) == [
        (i, i) for i in range(PATH_ROUNDS)
    ]


def test_seminaive_raises_at_max_rounds(spark):
    with pytest.raises(RuntimeError, match="bfs: not converged after 3 rounds"):
        _bfs(spark, max_rounds=3)
    # the round that derives nothing may be the last one allowed
    _, rounds = _bfs(spark, max_rounds=PATH_ROUNDS)
    assert rounds == PATH_ROUNDS


def test_seminaive_runs_one_job_per_round(spark):
    sc = spark.sparkContext
    group = "test-seminaive-jobs"
    with iteration_conf(spark, shuffle_partitions=4):
        sc.setJobGroup(group, group)
        try:
            _, rounds = _bfs(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    # one job cuts and counts the initial state, then one per round
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == rounds + 1


def test_seminaive_releases_superseded_rounds(spark):
    # every delta and every merged state is a local checkpoint; only the
    # returned state stays stored
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    state, rounds = _bfs(spark)
    assert rounds == PATH_ROUNDS
    assert persistent().size() - before <= 1
    assert state.count() == PATH_ROUNDS


def test_seminaive_logs_one_debug_record_per_round(spark, caplog):
    caplog.set_level(logging.DEBUG, logger="linkgraph.superstep")
    _, rounds = _bfs(spark)
    records = [r for r in caplog.records if r.name == "linkgraph.superstep"]
    assert [r.levelno for r in records] == [logging.DEBUG] * rounds
    assert [r.args[:3] for r in records] == [("bfs", i, 1) for i in range(1, rounds)] + [
        ("bfs", rounds, 0)
    ]


def test_seminaive_cuts_the_merged_state(spark):
    # the job that counts a delta also cuts the state merged before it, so
    # the returned state's RDD lineage does not chain every round's union
    with iteration_conf(spark, shuffle_partitions=4):
        state, rounds = _bfs(spark)
    assert rounds == PATH_ROUNDS
    assert state._jdf.queryExecution().logical().rdd().isCheckpointed()
    # the merge keeps the loop's partition count: a plain union would add
    # every round's delta partitions to it
    assert state.rdd.getNumPartitions() == 4
