"""linkgraph end-to-end benchmark: one workload, one fresh JVM, one JSON line.

    python3 perfbench/run.py --workload {ingest,iterate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The run

1. generates the workload's source table for ``--seed`` (cached on disk under
   ``.perfbench/``, counted in no metric);
2. sets up: session start, then an untimed warm-up pass of every timed plan
   shape on a small slice with iteration counts capped (``setup_s``);
3. runs the pipeline back to back for ``--seconds`` and at least the
   workload's ``min_pipelines`` times, and reports medians; with
   ``--trace 1`` it runs ``min_pipelines`` and traces the last;
4. stops Spark, then checks every result written against the numpy oracles
   in ``oracles.py``.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The exit code is 1 when any check failed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import oracles  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
KEEP_DATASETS = 32  # generated tables kept on disk, newest first
WARM_SEED = 0  # the warm-up slice is benchmark scaffolding: one per workload


def _env() -> None:
    """Keep every file the run writes inside the checkout."""
    for d in ("tmp", "spark-local", "data", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def start_session():
    from linkgraph.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=CORES,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of a pipeline back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # a fixed, pre-touched heap: the peak RSS then follows the
            # program's native and off-heap memory, not G1's heap resizing
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def isolate(spark) -> None:
    """Drop cached relations and collect garbage on both sides (the
    ``bench._isolate`` pattern), between pipelines and never inside one."""
    spark.catalog.clearCache()
    tracing.collect_garbage(spark.sparkContext)


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM process has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def ensure_data(spark, spec, seed: int) -> str:
    """Directory holding ``source/`` and ``truth/`` for (spec, seed)."""
    from gen import write_source

    root = os.path.join(WORK, "data")
    path = os.path.join(root, f"{spec.key()}-s{seed}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        write_source(spark, spec, seed, path)
    os.utime(path)
    old = sorted(
        (os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime, reverse=True
    )
    for d in old[KEEP_DATASETS:]:
        shutil.rmtree(d, ignore_errors=True)
    return path


def tiny(wl):
    """The smoke-test scale of a workload: same shape, a few thousand files."""
    from workloads import Workload, shrink

    return Workload(wl.name, shrink(wl.spec, 3_000, 600), wl.warm_spec, wl.min_pipelines)


def percentile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def edge_iters_per_s(rep: dict, edges: int) -> float:
    """Simple edges x supersteps / PageRank wall."""
    op = next(o for o in rep["res"].ops if o.kind == "pagerank")
    return edges * op.supersteps / op.wall_s


def probe_rep(spark, rec, res) -> dict:
    """Traced run, right after a traced pipeline and before its caches are
    dropped: Spark stage metrics per layer, graph counts, checkpoint lineage."""
    from linkgraph.superstep import CheckpointStore

    probe = {
        "stages": tracing.stage_metrics(spark, rec),
        "nodes": res.graph.ids().count(),
        "edges": res.graph.edge_ids().count(),
        "snapshots": 0,
        "write_ms": 0.0,
        "ck_rows": 0,
    }
    if res.checkpoint_dir:
        lin = CheckpointStore(spark, res.checkpoint_dir).lineage().toPandas()
        probe["snapshots"] = len(lin)
        probe["write_ms"] = float(lin["wall_ms"].sum())
        probe["ck_rows"] = int(lin["rows"].sum())
    return probe


def probe_extract(spark, data_dir: str) -> dict:
    """Traced run: the mining layer alone, forced through a no-op sink, with
    and without the content-sha check."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from linkgraph.extract import mine_edges

    source = spark.read.parquet(os.path.join(data_dir, "source"))
    rows_in, content = source.agg(F.count("*"), F.sum(F.length("content"))).first()
    rec = tracing.Recorder(spark, True, "probe")
    obs = Observation("mined")
    with rec.layer("extract") as sha:
        mine_edges(source, verify_sha=True).observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.format("noop").mode("overwrite").save()
    with rec.layer("extract.nosha") as nosha:
        mine_edges(source, verify_sha=False).write.format("noop").mode("overwrite").save()
    return {
        "wall_s": sha["wall_s"],
        "sha_verify_s": sha["wall_s"] - nosha["wall_s"],
        "rows_in": rows_in,
        "content_mb": content / 1e6,
        "edges_out": obs.get["n"],
        "stages": tracing.stage_metrics(spark, rec)["extract"],
        "spans": rec.spans,
    }


def written(paths: list[str]) -> tuple[int, float]:
    """(rows, MB) of the parquet results at ``paths``."""
    import pyarrow.parquet as pq

    rows = sum(pq.read_metadata(os.path.join(d, f)).num_rows
               for d in paths for f in os.listdir(d) if f.endswith(".parquet"))
    size = sum(os.path.getsize(os.path.join(d, f)) for d in paths for f in os.listdir(d))
    return rows, size / 1e6


def layer_metrics(reps, setup: dict, extract: dict, steal_s: float, edges: int) -> dict:
    """Per-layer metrics of the traced run (README.md maps each to the
    end-to-end metric it should move)."""
    probe, res, rec = reps[-1]["probe"], reps[-1]["res"], reps[-1]["rec"]
    walls = rec.walls()
    st = probe["stages"]

    def op(kind: str):
        return next((o for o in res.ops if o.kind == kind), None)

    pr_steps = op("pagerank").supersteps
    per_step = [dt for it, dt in res.pagerank_timings if it != "setup"]
    loop_setup = sum(dt for it, dt in res.pagerank_timings if it == "setup")
    graph_span = next(s for s in rec.spans if s["name"] == "graph")
    rows, mb = written([o.path for o in res.ops if o.path])
    m = {
        "session.start_s": (setup["session_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "extract.wall_s": (extract["wall_s"], "s"),
        "extract.rows_in": (extract["rows_in"], "count"),
        "extract.content_mb": (extract["content_mb"], "MB"),
        "extract.edges_out": (extract["edges_out"], "count"),
        "extract.sha_verify_s": (extract["sha_verify_s"], "s"),
        "extract.mine_passes": (sum(v["mine_passes"] for v in probe["stages"].values()), "count"),
        "extract.task_cpu_s": (extract["stages"]["cpu_s"], "s"),
        "extract.task_run_s": (extract["stages"]["run_s"], "s"),
        "graph.materialize_s": (walls["graph"], "s"),
        "graph.nodes": (probe["nodes"], "count"),
        "graph.edges": (probe["edges"], "count"),
        "graph.dedup_ratio": (probe["edges"] / max(1, extract["edges_out"]), "ratio"),
        "graph.shuffle_write_mb": (st["graph"]["shuffle_write_mb"], "MB"),
        "graph.cached_mb": (graph_span["cached_mb_end"] - graph_span["cached_mb_start"], "MB"),
        "pagerank.wall_s": (walls["pagerank"], "s"),
        "pagerank.edge_iters_per_s": (edge_iters_per_s(reps[-1], edges), "1/s"),
        "pagerank.loop_setup_s": (loop_setup, "s"),
        "pagerank.supersteps": (pr_steps, "count"),
        "pagerank.superstep_p50_s": (percentile(per_step, 0.5), "s"),
        "pagerank.superstep_p90_s": (percentile(per_step, 0.9), "s"),
        "pagerank.jobs_per_superstep": (st["pagerank"]["jobs"] / pr_steps, "count"),
        "pagerank.shuffle_write_mb_per_superstep": (
            st["pagerank"]["shuffle_write_mb"] / pr_steps, "MB"),
        "wcc.wall_s": (walls.get("wcc", 0.0), "s"),
        "wcc.supersteps": (op("wcc").supersteps if op("wcc") else 0, "count"),
        "wcc.shuffle_write_mb": (st["wcc"]["shuffle_write_mb"], "MB"),
        "lpa.wall_s": (walls.get("lpa", 0.0), "s"),
        "lpa.shuffle_write_mb": (st["lpa"]["shuffle_write_mb"], "MB"),
        "triangles.wall_s": (walls.get("triangles", 0.0), "s"),
        "triangles.shuffle_write_mb": (st["triangles"]["shuffle_write_mb"], "MB"),
        "triangles.count": (op("triangles").value if op("triangles") else 0, "count"),
        "checkpoint.snapshots": (probe["snapshots"], "count"),
        "checkpoint.write_ms": (probe["write_ms"], "ms"),
        "checkpoint.rows": (probe["ck_rows"], "count"),
        "write.wall_s": (walls["write"], "s"),
        "write.rows": (rows, "count"),
        "write.mb": (mb, "MB"),
    }
    for layer in ("extract", "graph", "pagerank", "wcc", "lpa", "triangles", "write"):
        s = extract["stages"] if layer == "extract" else st[layer]
        m[f"{layer}.jobs"] = (s["jobs"], "count")
        m[f"{layer}.tasks"] = (s["tasks"], "count")
        m[f"{layer}.spill_mb"] = (s["spill_mb"], "MB")
        m[f"{layer}.gc_s"] = (s["gc_s"], "s")
    m["host.steal_s"] = (steal_s, "s")
    m["trace.pipeline_s"] = (reps[-1]["pipeline_s"], "s")
    return m


def check(reps: list[dict], data_dir: str, seed: int, failures: list[str]) -> tuple[int, int, int]:
    """Check every result written against the oracles; returns (attempted,
    failed, simple edges).  Each algorithm result is one operation."""
    from workloads import LPA_SWEEPS, PR_MAX_ITER, PR_TOL

    g = oracles.simple_graph(oracles.load_truth(os.path.join(data_dir, "truth")))
    want: dict = {}

    def expected(kind: str):
        if kind not in want:
            if kind == "pagerank":
                want[kind] = oracles.pagerank(g, PR_TOL, PR_MAX_ITER)[0]
            elif kind == "wcc":
                want[kind] = oracles.wcc(g)
            elif kind == "lpa":
                want[kind] = oracles.lpa_sync(g, seed, LPA_SWEEPS)
            else:
                want[kind] = oracles.triangles(g)
        return want[kind]

    attempted = failed = 0
    for rep in reps:
        for op in rep["res"].ops:
            attempted += 1
            try:
                if op.kind == "triangles":
                    w = expected(op.kind)
                    err = None if op.value == w else f"triangles: {op.value} != {w}"
                else:
                    column = {"pagerank": "score", "wcc": "component", "lpa": "label"}[op.kind]
                    err = oracles.check_result(
                        op.path, column, g, expected(op.kind), exact=op.kind != "pagerank"
                    )
            except Exception:
                err = traceback.format_exc(limit=3)
            if err:
                failed += 1
                failures.append(err)
    return attempted, failed, len(g.src)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "iterate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: the smoke-test size")
    args = ap.parse_args()

    _env()
    import linkgraph  # noqa: F401  fails here, before any output, without the program
    from workloads import WORKLOADS, run_pipeline

    wl = WORKLOADS[args.workload]
    if args.scale == "tiny":
        wl = tiny(wl)
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)

    # -- set-up: process start -> session ready -> warm-up pass done -------
    spark = start_session()
    setup = {"session_s": time.perf_counter() - T0}
    t = time.perf_counter()
    data_dir = ensure_data(spark, wl.spec, args.seed)
    warm_dir = ensure_data(spark, wl.warm_spec, WARM_SEED)
    gen_s = time.perf_counter() - t
    log(f"session {setup['session_s']:.2f}s, source table {gen_s:.2f}s")
    t = time.perf_counter()
    warm = tracing.Recorder(spark, False, "warm")
    run_pipeline(spark, warm, wl, warm_dir, os.path.join(run_dir, "warm"), WARM_SEED, warmup=True)
    setup["warmup_s"] = time.perf_counter() - t
    isolate(spark)
    setup_s = time.perf_counter() - T0 - gen_s
    log(f"setup {setup_s:.2f}s, warm-up {setup['warmup_s']:.2f}s "
        + " ".join(f"{k}={v:.2f}" for k, v in warm.walls().items()))

    # -- timed pipelines ---------------------------------------------------
    pid = jvm_pid(spark)
    tracing.reset_peak_rss("self")
    tracing.reset_peak_rss(pid)
    steal0 = tracing.steal_s()
    reps: list[dict] = []
    failures: list[str] = []  # every failed operation, with its reason
    crashed = 0  # pipelines that raised
    deadline = time.perf_counter() + args.seconds
    while True:
        # the traced run traces only its last pipeline, the warmest one
        traced = bool(args.trace) and len(reps) + 1 >= wl.min_pipelines
        rec = tracing.Recorder(spark, traced, f"rep{len(reps)}")
        steal_rep = tracing.steal_s()
        try:
            res = run_pipeline(
                spark, rec, wl, data_dir, os.path.join(run_dir, f"rep{len(reps)}"), args.seed
            )
        except Exception:
            failures.append(traceback.format_exc(limit=3))
            crashed += 1
            break
        rep = {"pipeline_s": rec.wall_s(), "cpu_s": rec.cpu_s(), "res": res, "rec": rec}
        log(f"pipeline {len(reps) + 1}: {rep['pipeline_s']:.2f}s cpu {rep['cpu_s']:.2f}s "
            + " ".join(f"{s['name']}={s['wall_s']:.2f}/{s['cpu_s']:.1f}" for s in rec.spans)
            + " | supersteps " + " ".join(f"{o.kind}={o.supersteps}" for o in res.ops if o.supersteps)
            + f" | steal {tracing.steal_s() - steal_rep:.1f}s")
        if traced:
            rep["probe"] = probe_rep(spark, rec, res)
        reps.append(rep)
        isolate(spark)
        if traced or (len(reps) >= wl.min_pipelines and time.perf_counter() >= deadline):
            break
    steal_s = tracing.steal_s() - steal0
    driver_rss = tracing.peak_rss_mb("self")
    jvm_rss = tracing.peak_rss_mb(pid)
    extract = probe_extract(spark, data_dir) if args.trace and not crashed else None
    stop_jvm(spark)

    # -- checks, outside every timed window ---------------------------------
    attempted, failed, edges = check(reps, data_dir, args.seed, failures)
    attempted, failed = attempted + crashed, failed + crashed
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    metrics: dict = {}
    if args.trace and extract is not None and reps:
        with open(os.path.join(WORK, f"spans-{wl.name}-s{args.seed}.jsonl"), "w") as f:
            for spans in [r["rec"].spans for r in reps] + [extract["spans"]]:
                f.writelines(json.dumps(s) + "\n" for s in spans)
        metrics = layer_metrics(reps, setup, extract, steal_s, edges)
    elif not args.trace and reps:
        metrics = {
            "pipeline_s": (statistics.median(r["pipeline_s"] for r in reps), "s"),
            "setup_s": (setup_s, "s"),
            "pipeline_cpu_s": (statistics.median(r["cpu_s"] for r in reps), "s"),
            "driver_peak_rss_mb": (driver_rss, "MB"),
            "jvm_peak_rss_mb": (jvm_rss, "MB"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
