import json
import math
import random

import pytest

from linkgraph.algorithms import pagerank
from linkgraph.graph import LinkGraph

from tests import fixtures as FX
from tests.oracles import pagerank_oracle


def run_pr(spark, edges, **kw):
    g = LinkGraph.from_edge_list(spark, edges)
    return {r.name: r.score for r in pagerank(g, **kw).collect()}


def assert_close(got: dict, want: dict, decimals: int):
    assert set(got) == set(want)
    for k in want:
        assert round(got[k], decimals) == round(want[k], decimals), (
            k, got[k], want[k])


def test_five_edge_golden(spark):
    got = run_pr(spark, FX.FIVE_EDGE, max_iter=1000, norm="l2")
    assert_close(got, FX.FIVE_EDGE_PAGERANK, 5)


@pytest.mark.parametrize("kernel", ["local", "superstep", "blocks"])
def test_gen_graph_golden(spark, kernel):
    """python/tests/test_algorithms.py:232-246 — allclose 1e-6 gate,
    on BOTH the gathered-CSR kernel and the distributed superstep loop."""
    got = run_pr(spark, FX.GEN_GRAPH, max_iter=20, norm="l2", kernel=kernel)
    assert set(got) == set(FX.GEN_GRAPH_PAGERANK)
    for k, v in FX.GEN_GRAPH_PAGERANK.items():
        assert math.isclose(got[k], v, rel_tol=0, abs_tol=1e-6), (k, got[k], v)


def test_two_cycle(spark):
    got = run_pr(spark, FX.TWO_CYCLE, max_iter=1000, norm="l1")
    assert_close(got, {"1": 0.5, "2": 0.5}, 3)


def test_three_dangling(spark):
    got = run_pr(spark, FX.THREE_DANGLING, max_iter=10, norm="l1")
    assert_close(got, FX.THREE_DANGLING_PAGERANK, 3)


def test_dangling_chain_sink_redistribution(spark):
    got = run_pr(spark, FX.DANGLING_CHAIN, max_iter=1000, norm="l2")
    assert_close(got, FX.DANGLING_CHAIN_PAGERANK, 3)


def test_motif_graph_golden(spark):
    got = run_pr(spark, FX.MOTIF_GRAPH, max_iter=1000, norm="l2")
    assert_close(got, FX.MOTIF_GRAPH_PAGERANK, 5)


def test_scores_sum_to_one(spark):
    got = run_pr(spark, FX.GEN_GRAPH, max_iter=20)
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


@pytest.mark.parametrize(
    "seed,kernel",
    [(7, "local"), (7, "superstep"), (7, "blocks"), (101, "local"), (101, "superstep"), (101, "blocks")],
)
def test_randomized_vs_oracle(spark, seed, kernel):
    """Quickcheck-style: random digraphs must match the numpy oracle that
    replicates pagerank.rs semantics line-for-line — both kernels."""
    rng = random.Random(seed)
    n = 30
    edges = [
        (t, str(rng.randrange(n)), str(rng.randrange(n))) for t in range(80)
    ]
    got = run_pr(spark, edges, max_iter=50, norm="l1", tol=1e-12, kernel=kernel)
    want = pagerank_oracle([(s, d) for _, s, d in edges],
                           max_iter=50, norm="l1", tol=1e-12)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-9), (k, got[k], want[k])


def test_superstep_kernel_runs_at_most_two_jobs_per_round(spark):
    """A superstep is one Spark job that computes, cuts and measures the
    state, plus the broadcast of the rank vector; four more rounds cost at
    most eight more jobs."""
    g = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH).materialize()
    sc = spark.sparkContext
    jobs = {}
    for rounds in (4, 8):
        group = f"test-pagerank-jobs-{rounds}"
        sc.setJobGroup(group, group)
        try:
            pagerank(g, max_iter=rounds, tol=0.0, kernel="superstep").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[rounds] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[8] - jobs[4] <= 2 * 4, jobs


def test_no_broadcast_path_matches(spark):
    """Force the co-partitioned (non-broadcast) join path; results identical."""
    got = run_pr(
        spark, FX.GEN_GRAPH, max_iter=20, broadcast_threshold=0, kernel="superstep"
    )
    for k, v in FX.GEN_GRAPH_PAGERANK.items():
        assert math.isclose(got[k], v, abs_tol=1e-6)


def test_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: run 3 iterations, then resume to convergence; the
    resumed run must agree with an uninterrupted run."""
    g = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    ckpt = str(tmp_path / "pr_ckpt")
    pagerank(g, max_iter=3, tol=0.0, checkpoint_dir=ckpt)  # "killed" after 3
    g2 = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    resumed = {
        r.name: r.score
        for r in pagerank(
            g2, max_iter=20, norm="l2", checkpoint_dir=ckpt, resume=True
        ).collect()
    }
    for k, v in FX.GEN_GRAPH_PAGERANK.items():
        assert math.isclose(resumed[k], v, abs_tol=1e-6), (k, resumed[k], v)
    # lineage rows recorded per iteration
    from linkgraph.superstep import CheckpointStore

    store = CheckpointStore(spark, ckpt)
    lin = store.lineage().toPandas()
    assert set(lin.columns) == {"partition_id", "iteration", "rows", "checksum", "wall_ms"}
    assert lin.iteration.max() >= 4  # resumed past the killed run
    # one metrics record per completed iteration, with its delta
    with open(f"{ckpt}/metrics.jsonl") as f:
        metrics = [json.loads(line) for line in f]
    assert [m["iteration"] for m in metrics] == sorted(lin.iteration)
    assert [m["iteration"] for m in metrics] == list(range(1, len(metrics) + 1))
    assert all(m["algorithm"] == "pagerank" and m["delta"] >= 0 for m in metrics)
    # snapshots hold the state's own columns, not the carried previous score
    assert store.load(int(lin.iteration.max())).columns == ["id", "out_degree", "score"]


def test_checkpoint_resume_across_kernels(spark, tmp_path):
    """The CSR-block kernel shares checkpoint layout + meta fingerprint with
    the superstep kernel: a run killed under "blocks" resumes under
    "superstep" (and the resumed trajectory converges to the golden)."""
    g = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    ckpt = str(tmp_path / "pr_ckpt_blocks")
    pagerank(g, max_iter=3, tol=0.0, checkpoint_dir=ckpt, kernel="blocks")
    g2 = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    resumed = {
        r.name: r.score
        for r in pagerank(
            g2, max_iter=20, norm="l2", checkpoint_dir=ckpt, resume=True,
            kernel="superstep",
        ).collect()
    }
    for k, v in FX.GEN_GRAPH_PAGERANK.items():
        assert math.isclose(resumed[k], v, abs_tol=1e-6), (k, resumed[k], v)


def test_personalized_pagerank_matches_local_power_iteration(spark):
    from linkgraph.algorithms import personalized_pagerank
    from linkgraph.graph import LinkGraph

    #  1→2→3→1 cycle, 3→4 (4 is a sink), 5→1 feeder
    edges = [(0, "1", "2"), (1, "2", "3"), (2, "3", "1"), (3, "3", "4"), (4, "5", "1")]
    g = LinkGraph.from_edge_list(spark, edges)
    seeds = ["1"]
    got = {r["id"]: r["score"]
           for r in personalized_pagerank(g, seeds, max_iter=300, tol=0.0).collect()}

    adj = {1: [2], 2: [3], 3: [1, 4], 5: [1]}
    nodes = [1, 2, 3, 4, 5]
    p = {v: (1.0 if v == 1 else 0.0) for v in nodes}
    s = dict(p)
    d = 0.85
    for _ in range(300):
        sink = sum(s[v] for v in nodes if v not in adj)
        msum = {v: 0.0 for v in nodes}
        for u, nbrs in adj.items():
            for v in nbrs:
                msum[v] += s[u] / len(nbrs)
        s = {v: d * msum[v] + (1 - d + d * sink) * p[v] for v in nodes}
    for v in nodes:
        assert abs(got[v] - s[v]) < 1e-9, (v, got[v], s[v])
    # restart mass concentrates at/near the seed; total mass is 1
    assert got[1] == max(got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_warm_start_same_fixpoint_fewer_iterations(spark):
    from tests import fixtures as FX

    g = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    cold_iters: dict = {}
    cold = {
        r["name"]: r["score"]
        for r in pagerank(g, max_iter=200, tol=1e-9, norm="l1",
                          iters_out=cold_iters).collect()
    }
    # warm-start from an 80%-converged vector: the fixpoint is identical,
    # the distance to it is not
    init = pagerank(g, max_iter=max(2, cold_iters["iterations"] // 2),
                    tol=0.0).select("id", "score")
    warm_iters: dict = {}
    warm = {
        r["name"]: r["score"]
        for r in pagerank(g, max_iter=200, tol=1e-9, norm="l1",
                          iters_out=warm_iters, init_scores=init).collect()
    }
    assert warm_iters["iterations"] < cold_iters["iterations"]
    for k in cold:
        assert warm[k] == pytest.approx(cold[k], abs=1e-7)


def test_warm_start_projects_and_renormalises(spark):
    # init has a node NOT in the graph (dropped) and misses one that is
    # (seeded 1/n); total mass renormalised to 1
    edges = [(0, "a", "b"), (1, "b", "c"), (2, "c", "a")]
    g = LinkGraph.from_edge_list(spark, edges)
    ids = {r["name"]: r["id"] for r in g.ids().collect()}
    init = spark.createDataFrame(
        [(ids["a"], 10.0), (ids["b"], 30.0), (12345, 99.0)],
        "id long, score double",
    )
    out = {
        r["name"]: r["score"]
        for r in pagerank(g, max_iter=0, tol=0.0, kernel="superstep",
                          init_scores=init).collect()
    }
    n = 3
    total = 10.0 + 30.0 + 1.0 / n
    assert out["a"] == pytest.approx(10.0 / total)
    assert out["b"] == pytest.approx(30.0 / total)
    assert out["c"] == pytest.approx((1.0 / n) / total)
    assert sum(out.values()) == pytest.approx(1.0)
