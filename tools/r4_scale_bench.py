#!/usr/bin/env python
"""Round-4 scale-tier evidence runs (results merged into BENCH.md).

Three experiments, each in its own JVM (subprocess) so walls are clean:

- ``--n2v``: node2vec kernel A/B on a hub-skewed synthetic graph — the
  exact inverse-CDF kernel's per-step cost is O(deg(cur)·deg(prev)) with
  the previous node's neighbour array carried in walk state, so its wall
  grows with hub degree; the rejection kernel's is O(attempts) per walk.
  Same graph, same starts, same walk length; separate JVMs per method.
- ``--resume-demo``: PageRank kill/resume at the 160M-edge scaling-gate
  tier — cold full run with per-superstep checkpoints, a killed run
  (SIGKILL mid-flight), and a resumed run that must do only the remaining
  supersteps.  Turns the pytest-proven durability story into a
  demonstrated-at-gate-scale one.
- ``--docs-sf1``: the LLM-pipeline family at a 10x documents tier (50k
  synthetic docs derived deterministically from sf0.1's 5k) — walls +
  candidate-pair counts for minhash-LSH / simhash / dup-spans /
  quality-gate, with the same-window sf0.1 walls as the scaling
  denominator.

All inputs are synthesised deterministically in-process (no external
data).  Usage: python tools/r4_scale_bench.py --n2v|--resume-demo|--docs-sf1
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# ---------------------------------------------------------------- node2vec

N2V_EDGES = int(os.environ.get("N2V_EDGES", 8_000_000))
N2V_NODES = int(os.environ.get("N2V_NODES", 1_000_000))
N2V_HUBS = int(os.environ.get("N2V_HUBS", 500))
N2V_START_MOD = int(os.environ.get("N2V_START_MOD", 20))  # ~N/20 starts
N2V_WL = int(os.environ.get("N2V_WL", 4))


def _hub_graph(spark):
    """Seeded hub-skewed edge table as a LinkGraph: ~90% uniform
    destinations, ~10% directed at a small hub set (repo-dependency
    skew), names are the synthetic ints as strings."""
    from pyspark.sql import functions as F

    from linkgraph.graph import LinkGraph

    e = spark.range(N2V_EDGES).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(N2V_NODES))
        .cast("string")
        .alias("src"),
        F.when(
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10)) == 0,
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(N2V_HUBS)),
        )
        .otherwise(F.pmod(F.xxhash64("id", F.lit(4)), F.lit(N2V_NODES)))
        .cast("string")
        .alias("dst"),
        (F.col("id") % 1000).alias("time"),
    )
    return LinkGraph(e)


def n2v_worker(method: str) -> None:
    from pyspark.sql import functions as F

    from linkgraph.algorithms import node2vec_walks
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name=f"n2v[{method}]", cores=16, shuffle_partitions=32,
        driver_memory="24g",
    )
    g = _hub_graph(spark)
    starts = g.ids().select("id").filter(F.col("id") % N2V_START_MOD == 0)
    n_starts = starts.count()
    und = g.undirected_edge_ids()
    hub_deg = (
        und.groupBy("id").count().agg(F.max("count").alias("mx")).first()["mx"]
    )
    t0 = time.monotonic()
    corpus = node2vec_walks(
        g, walk_length=N2V_WL, walks_per_node=1, seed=11, p=2.0, q=0.5,
        direction="both", starts=starts, method=method,
    )
    corpus.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "method": method,
                "wall_s": round(wall, 1),
                "n_starts": n_starts,
                "walk_length": N2V_WL,
                "n_edges": N2V_EDGES,
                "max_und_degree": hub_deg,
                "steps_per_sec": round(n_starts * N2V_WL / wall, 1),
            }
        )
    )


def run_n2v() -> None:
    out = {}
    for method in ("rejection", "exact"):
        log_path = f"/tmp/r4_n2v_{method}.log"
        env = dict(os.environ)
        env["LINKGRAPH_TMPFS"] = "1"
        with open(log_path, "w") as log:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--n2v-worker", method],
                stdout=log, stderr=subprocess.STDOUT, text=True, env=env,
                cwd=REPO, timeout=5400,
            )
        with open(log_path) as log:
            for line in log:
                if line.startswith("WORKER_RESULT "):
                    out[method] = json.loads(line[len("WORKER_RESULT "):])
    print(json.dumps({"n2v_ab": out}, indent=2))


# ------------------------------------------------------------- resume demo

RS_EDGES = int(os.environ.get("RS_EDGES", 160_000_000))
RS_NODES = RS_EDGES // 8
RS_ITERS = int(os.environ.get("RS_ITERS", 12))
RS_CK = os.environ.get("RS_CK", "/tmp/r4_resume_ck")


def resume_worker(resume: bool) -> None:
    from pyspark.sql import functions as F

    from linkgraph.algorithms.pagerank import pagerank_on_ids
    from linkgraph.session import get_spark

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from scaling_bench import synth_edges

    spark = get_spark(
        app_name="resume-demo", cores=16, shuffle_partitions=32,
        driver_memory="24g",
    )
    nodes = spark.range(RS_NODES).select(F.col("id"))
    edges = (
        synth_edges(spark, RS_EDGES, RS_NODES)
        .distinct()
        .repartition(32, "src_id")
        .persist()
    )
    n_simple = edges.count()
    t0 = time.monotonic()
    res = pagerank_on_ids(
        spark, nodes, edges, max_iter=RS_ITERS, tol=0.0, norm="l1",
        partitions=32, pre_deduped=True, kernel="superstep",
        checkpoint_dir=RS_CK, resume=resume,
    )
    res.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "resume": resume,
                "wall_s": round(wall, 1),
                "n_edges": n_simple,
                "iters": RS_ITERS,
            }
        )
    )


def _launch_resume(resume: bool, log_path: str):
    env = dict(os.environ)
    env["LINKGRAPH_TMPFS"] = "1"
    log = open(log_path, "w")
    return subprocess.Popen(
        [
            sys.executable, os.path.abspath(__file__),
            "--resume-worker", "1" if resume else "0",
        ],
        stdout=log, stderr=subprocess.STDOUT, text=True, env=env, cwd=REPO,
    )


def _read_result(log_path: str) -> dict | None:
    with open(log_path) as log:
        for line in log:
            if line.startswith("WORKER_RESULT "):
                return json.loads(line[len("WORKER_RESULT "):])
    return None


def _last_checkpointed_iter() -> int:
    import glob

    its = [
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(f"{RS_CK}/state/iter=*")
    ]
    return max(its) if its else -1


def run_resume_demo() -> None:
    import shutil

    # 1. cold full run with checkpoints
    shutil.rmtree(RS_CK, ignore_errors=True)
    p = _launch_resume(False, "/tmp/r4_resume_cold.log")
    p.wait(timeout=7200)
    cold = _read_result("/tmp/r4_resume_cold.log")

    # 2. killed run: fresh dir, SIGKILL once the half-way superstep's
    # checkpoint lands (polling the checkpoint dir, not guessing walls —
    # process start includes JVM + input-synth time the kill must skip)
    shutil.rmtree(RS_CK, ignore_errors=True)
    p = _launch_resume(False, "/tmp/r4_resume_killed.log")
    target = RS_ITERS // 2
    killed_cleanly = False
    t_kill0 = time.monotonic()
    while p.poll() is None and time.monotonic() - t_kill0 < 7200:
        if _last_checkpointed_iter() >= target:
            p.send_signal(signal.SIGKILL)
            p.wait()
            killed_cleanly = True
            break
        time.sleep(3)
    if p.poll() is None:
        p.send_signal(signal.SIGKILL)
        p.wait()
    k_iter = _last_checkpointed_iter()

    # 3. resumed run against the surviving checkpoints
    p = _launch_resume(True, "/tmp/r4_resume_resumed.log")
    p.wait(timeout=7200)
    resumed = _read_result("/tmp/r4_resume_resumed.log")

    print(
        json.dumps(
            {
                "resume_demo": {
                    "cold": cold,
                    "killed_mid_flight": killed_cleanly,
                    "last_checkpointed_iter": k_iter,
                    "resumed": resumed,
                }
            },
            indent=2,
        )
    )


# ---------------------------------------------------------------- docs sf1

DOCS_SRC = os.environ.get("DOCS_SRC", "/root/testdata/sf0.1/documents.parquet")
DOCS_REPS = int(os.environ.get("DOCS_REPS", 10))


def _sf1_docs(spark):
    """50k-doc corpus: sf0.1's 5k docs x 10 deterministic replicas.
    Replica 0 is the original; replicas 1-3 substitute every (rep+2)th
    word (NEAR dups — the banding target); replicas 4-9 reverse the word
    order and prepend a variant tag (no shared 5-grams, so they must NOT
    band together)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(DOCS_SRC)
    reps = docs.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(DOCS_REPS - 1))).alias("rep")
    )
    words = F.split(F.col("text"), r"\s+")
    near = F.array_join(
        F.zip_with(
            words,
            F.sequence(F.lit(1), F.size(words)),
            lambda w, i: F.when(
                F.pmod(i, F.col("rep") + 2) == 0,
                F.concat(w, F.lit("v"), F.col("rep").cast("string")),
            ).otherwise(w),
        ),
        " ",
    )
    far = F.concat(
        F.lit("variant "),
        F.col("rep").cast("string"),
        F.lit(" of "),
        F.col("doc_id").cast("string"),
        F.lit(" "),
        F.array_join(F.reverse(words), " "),
    )
    text = (
        F.when(F.col("rep") == 0, F.col("text"))
        .when(F.col("rep") <= 3, near)
        .otherwise(far)
    )
    return reps.select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
        F.length(text).alias("n_chars"),
    )


def docs_worker() -> None:
    from pyspark.sql import functions as F

    from linkgraph.pipeline.dedup import (
        duplicate_spans,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from linkgraph.pipeline.quality import quality_gate
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="docs-sf1", cores=16, shuffle_partitions=32,
        driver_memory="24g",
    )

    def run_tier(docs, tier):
        docs = docs.persist()
        n = docs.count()
        out = {"n_docs": n}
        t0 = time.monotonic()
        pairs = minhash_lsh_pairs(docs, n=5, num_hashes=32, bands=8, threshold=0.4)
        out["minhash_pairs"] = pairs.count()
        out["minhash_s"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        sp = simhash_pairs(docs, max_distance=6)
        out["simhash_pairs"] = sp.count()
        out["simhash_s"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        ds = duplicate_spans(docs, n=8)
        out["dup_span_docs"] = ds.filter(F.col("dup_tokens") > 0).count()
        out["dup_spans_s"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        benchmark = docs.filter(F.col("doc_id") % 37 == 0)
        train = docs.filter(F.col("doc_id") % 37 != 0)
        qg = quality_gate(
            train, benchmark, min_words=16, min_alpha_ratio=0.81,
            max_dup2_frac=0.16, max_top3_frac=0.07,
        )
        out["quality_rejected"] = qg.filter(F.col("reject_reason").isNotNull()).count()
        out["quality_s"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        from linkgraph.pipeline.dedup import line_dedup

        ld = line_dedup(docs, min_docs=2, seg_words=10)
        out["line_dedup_removed"] = int(
            ld.agg(F.sum("removed_units")).first()[0] or 0
        )
        out["line_dedup_s"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        from linkgraph.pipeline.textstats import novelty_stats

        nv = novelty_stats(docs, n=8)
        out["novelty_zero_docs"] = nv.filter(F.col("novelty_ppm") == 0).count()
        out["novelty_s"] = round(time.monotonic() - t0, 1)
        docs.unpersist()
        print("TIER_RESULT " + json.dumps({tier: out}))
        return out

    base = spark.read.parquet(DOCS_SRC)
    r01 = run_tier(base, "sf0.1")
    sf1 = run_tier(_sf1_docs(spark), "sf1")
    ratios = {
        k: round(sf1[f"{k}_s"] / max(r01[f"{k}_s"], 0.1), 2)
        for k in (
            "minhash", "simhash", "dup_spans", "quality", "line_dedup",
            "novelty",
        )
    }
    print(
        json.dumps(
            {"docs_sf1": {"sf0.1": r01, "sf1": sf1, "wall_ratio_10x_data": ratios}},
            indent=2,
        )
    )


# ------------------------------------------------------------- warm WCC

WW_EDGES = int(os.environ.get("WW_EDGES", 40_000_000))
WW_NODES = WW_EDGES // 8
WW_CHAIN = int(os.environ.get("WW_CHAIN", 24))


def _ww_graphs(spark):
    """Old view = 95% of a hub-skewed random graph plus a CHAIN of
    ``WW_CHAIN`` dedicated nodes (the deep structure that forces cold
    min-label propagation to take O(chain) supersteps); full view adds
    the remaining 5% random edges — the append-only increment."""
    from pyspark.sql import functions as F

    from linkgraph.graph import LinkGraph

    full = synth_edges_mod(spark, WW_EDGES, WW_NODES)
    tag = F.pmod(F.xxhash64("src_id", "dst_id", F.lit(7)), F.lit(20))
    chain = spark.range(WW_CHAIN).select(
        (F.lit(WW_NODES) + F.col("id")).alias("src_id"),
        (F.lit(WW_NODES) + F.col("id") + 1).alias("dst_id"),
    )

    def to_graph(e):
        return LinkGraph(
            e.select(
                F.col("src_id").cast("string").alias("src"),
                F.col("dst_id").cast("string").alias("dst"),
            ).withColumn("time", F.lit(0).cast("long"))
        )

    old = full.filter(tag != 0).unionByName(chain)
    return to_graph(old), to_graph(full.unionByName(chain))


def wcc_warm_worker(mode: str) -> None:
    from linkgraph.algorithms.components import weakly_connected_components
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name=f"wcc-warm-{mode}", cores=16, shuffle_partitions=32,
        driver_memory="24g",
    )
    g_old, g_all = _ww_graphs(spark)
    init = None
    if mode == "warm":
        # the increment scenario: the previous window's labels already
        # exist — materialise them OUTSIDE the timed region
        init = (
            weakly_connected_components(g_old, kernel="superstep")
            .select("id", "component")
            .localCheckpoint()
        )
        init.count()
    it: dict = {}
    t0 = time.monotonic()
    res = weakly_connected_components(
        g_all, kernel="superstep", init_labels=init, iters_out=it
    )
    res.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "mode": mode,
                "wall_s": round(wall, 1),
                "supersteps": it.get("iterations"),
                "n_edges": WW_EDGES,
                "chain": WW_CHAIN,
            }
        )
    )


def synth_edges_mod(spark, n_edges, n_nodes):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from scaling_bench import synth_edges

    return synth_edges(spark, n_edges, n_nodes)


def run_wcc_warm() -> None:
    out = {}
    for mode in ("cold", "warm"):
        log_path = f"/tmp/r4_wccwarm_{mode}.log"
        with open(log_path, "w") as log:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--wcc-warm-worker", mode],
                stdout=log, stderr=subprocess.STDOUT, text=True,
                cwd=REPO, timeout=5400,
            )
        with open(log_path) as log:
            for line in log:
                if line.startswith("WORKER_RESULT "):
                    out[mode] = json.loads(line[len("WORKER_RESULT "):])
    print(json.dumps({"wcc_warm_ab": out}, indent=2))


# ----------------------------------------------------------- Boruvka MSF

MSF_EDGES = int(os.environ.get("MSF_EDGES", 160_000_000))
MSF_NODES = MSF_EDGES // 8


def msf_worker() -> None:
    """Borůvka MSF at the scaling-gate edge tier: weights derived from the
    synthetic event stream (count per canonical pair), then the full
    pick/merge rounds.  Reports rounds, forest size, and edge-merge
    throughput (n_edges x rounds / wall — the volume the relabel joins
    actually process)."""
    from pyspark.sql import functions as F

    from linkgraph.algorithms.mst import minimum_spanning_forest
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="msf160", cores=16, shuffle_partitions=64, driver_memory="24g"
    )
    g_edges = synth_edges_mod(spark, MSF_EDGES, MSF_NODES)
    from linkgraph.graph import LinkGraph

    g = LinkGraph(
        g_edges.select(
            F.col("src_id").cast("string").alias("src"),
            F.col("dst_id").cast("string").alias("dst"),
            (F.col("src_id") % 1000).alias("time"),
        )
    )
    t0 = time.monotonic()
    msf = minimum_spanning_forest(g, max_rounds=24)
    msf.persist()
    n_forest = msf.count()
    rounds = msf.agg(F.max("round")).first()[0] + 1
    wall = time.monotonic() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "n_edges": MSF_EDGES,
                "n_nodes": MSF_NODES,
                "forest_edges": n_forest,
                "rounds": int(rounds),
                "wall_s": round(wall, 1),
                "edge_merges_per_sec": round(MSF_EDGES * int(rounds) / wall, 1),
            }
        )
    )


def run_msf() -> None:
    log_path = "/tmp/r4_msf.log"
    with open(log_path, "w") as log:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--msf-worker"],
            stdout=log, stderr=subprocess.STDOUT, text=True,
            cwd=REPO, timeout=5400,
        )
    out = {}
    with open(log_path) as log:
        for line in log:
            if line.startswith("WORKER_RESULT "):
                out = json.loads(line[len("WORKER_RESULT "):])
    print(json.dumps({"msf_scale": out}, indent=2))


LPA_EDGES = int(os.environ.get("LPA_EDGES", 40_000_000))
LPA_NODES = LPA_EDGES // 8
LPA_SWEEPS = int(os.environ.get("LPA_SWEEPS", 16))

TRI_EDGES = int(os.environ.get("TRI_EDGES", 40_000_000))
TRI_NODES = TRI_EDGES // 8


def _scale_graph(spark, n_edges, n_nodes):
    from pyspark.sql import functions as F

    from linkgraph.graph import LinkGraph

    e = synth_edges_mod(spark, n_edges, n_nodes)
    return LinkGraph(
        e.select(
            F.col("src_id").cast("string").alias("src"),
            F.col("dst_id").cast("string").alias("dst"),
        ).withColumn("time", F.lit(0).cast("long"))
    )


def lpa_worker() -> None:
    """Sync LPA at scale under the bounded-sweep contract: the north rule
    names label propagation as a core algorithm; this evidences the
    distributed sweep loop (one frontier shuffle per sweep) at a tier
    where per-sweep compute dominates scheduler latency."""
    from pyspark.sql import functions as F

    from linkgraph.algorithms.lpa import label_propagation
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="lpa40", cores=16, shuffle_partitions=64, driver_memory="24g"
    )
    g = _scale_graph(spark, LPA_EDGES, LPA_NODES)
    t0 = time.monotonic()
    res = label_propagation(g, seed=42, mode="sync", max_sweeps=LPA_SWEEPS)
    res.persist()
    n = res.count()
    n_labels = res.select("label").distinct().count()
    wall = time.monotonic() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "n_edges": LPA_EDGES,
                "n_nodes_out": n,
                "n_labels": n_labels,
                "max_sweeps": LPA_SWEEPS,
                "wall_s": round(wall, 1),
                "edge_sweeps_per_sec": round(LPA_EDGES * LPA_SWEEPS / wall, 1),
            }
        )
    )


def tri_worker() -> None:
    """Global triangle count at scale (degree-oriented intersection): the
    north rule's fourth core algorithm. Reports the count, wall, and the
    oriented-wedge volume the intersection join actually processed."""
    from pyspark.sql import functions as F

    from linkgraph.algorithms.triangles import global_triangle_count
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="tri40", cores=16, shuffle_partitions=64, driver_memory="24g"
    )
    g = _scale_graph(spark, TRI_EDGES, TRI_NODES)
    und = g.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    deg = und.groupBy("id").agg(F.count("*").alias("d"))
    wedges = int(
        deg.agg(F.sum(F.expr("d * (d - 1) div 2"))).first()[0]
    )
    t0 = time.monotonic()
    n_tri = global_triangle_count(g)
    wall = time.monotonic() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "n_edges": TRI_EDGES,
                "n_nodes": TRI_NODES,
                "triangles": n_tri,
                "wedges_upper_bound": wedges,
                "wall_s": round(wall, 1),
                "edges_per_sec": round(TRI_EDGES / wall, 1),
            }
        )
    )


# ------------------------------------------------------------------ onion

ONION_EDGES = int(os.environ.get("ONION_EDGES", 40_000_000))
ONION_NODES = ONION_EDGES // 8


def onion_worker() -> None:
    """Onion decomposition at the 40M-edge tier: evidences that the
    subtract-formulation peel (edge table map-scanned against the
    broadcast layer, never re-shuffled) holds when per-round compute
    dominates scheduler latency.  Reports layers, max coreness, and the
    edge-scan throughput n_edges x layers / wall."""
    from pyspark.sql import functions as F

    from linkgraph.algorithms.kcore import coreness, onion_layers
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="onion40", cores=16, shuffle_partitions=64, driver_memory="24g"
    )
    g = _scale_graph(spark, ONION_EDGES, ONION_NODES)
    t0 = time.monotonic()
    o = onion_layers(g, max_rounds=512)
    o.persist()
    n = o.count()
    layers = o.agg(F.max("layer")).first()[0]
    kmax = o.agg(F.max("coreness")).first()[0]
    wall = time.monotonic() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "n_edges": ONION_EDGES,
                "n_nodes_out": n,
                "layers": int(layers),
                "max_coreness": int(kmax),
                "wall_s": round(wall, 1),
                "edge_scans_per_sec": round(ONION_EDGES * int(layers) / wall, 1),
            }
        )
    )


FP_EVENTS = int(os.environ.get("FP_EVENTS", 20_000_000))
FP_NODES = int(os.environ.get("FP_NODES", 2_000_000))
FP_SOURCES = int(os.environ.get("FP_SOURCES", 4))


def fastest_worker() -> None:
    """Fastest temporal paths at the 20M-event tier: evidences the
    frontier-only Pareto propagation (candidates from CHANGED labels,
    one exchange serving min-merge + dominance prune) when the state
    table is millions of (source, node, departure) labels.  Reports the
    reached pair count, mean Pareto frontier width per reached pair
    (labels div pairs in ppm — the quantity the dominance prune
    bounds), rounds, and label-throughput."""
    from pyspark.sql import functions as F

    from linkgraph.algorithms.paths import fastest_path_durations
    from linkgraph.graph import LinkGraph
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="fp20", cores=16, shuffle_partitions=64, driver_memory="24g"
    )
    year_ms = 365 * 86_400_000
    e = spark.range(FP_EVENTS).select(
        F.pmod(F.xxhash64("id", F.lit(11)), F.lit(FP_NODES))
        .cast("string")
        .alias("src"),
        F.pmod(F.xxhash64("id", F.lit(13)), F.lit(FP_NODES))
        .cast("string")
        .alias("dst"),
        F.pmod(F.xxhash64("id", F.lit(17)), F.lit(year_ms)).alias("time"),
    )
    g = LinkGraph(e)
    sources = [str(s) for s in range(FP_SOURCES)]
    t0 = time.monotonic()
    res = fastest_path_durations(g, sources, max_rounds=128)
    res.persist()
    n_pairs = res.count()
    mean_dur = res.agg(F.avg("duration")).first()[0]
    wall = time.monotonic() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "n_events": FP_EVENTS,
                "n_nodes": FP_NODES,
                "n_sources": FP_SOURCES,
                "n_pairs": n_pairs,
                "mean_duration_days": round(mean_dur / 86_400_000, 2),
                "wall_s": round(wall, 1),
                "pairs_per_sec": round(n_pairs / wall, 1),
            }
        )
    )


def _run_single(flag: str, log_name: str, key: str) -> None:
    log_path = f"/tmp/{log_name}.log"
    with open(log_path, "w") as log:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), flag],
            stdout=log, stderr=subprocess.STDOUT, text=True,
            cwd=REPO, timeout=5400,
        )
    out = {}
    with open(log_path) as log:
        for line in log:
            if line.startswith("WORKER_RESULT "):
                out = json.loads(line[len("WORKER_RESULT "):])
    print(json.dumps({key: out}, indent=2))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n2v", action="store_true")
    ap.add_argument("--n2v-worker", type=str, default=None)
    ap.add_argument("--resume-demo", action="store_true")
    ap.add_argument("--resume-worker", type=str, default=None)
    ap.add_argument("--docs-sf1", action="store_true")
    ap.add_argument("--wcc-warm", action="store_true")
    ap.add_argument("--wcc-warm-worker", type=str, default=None)
    ap.add_argument("--msf", action="store_true")
    ap.add_argument("--msf-worker", action="store_true")
    ap.add_argument("--lpa", action="store_true")
    ap.add_argument("--lpa-worker", action="store_true")
    ap.add_argument("--triangles", action="store_true")
    ap.add_argument("--triangles-worker", action="store_true")
    ap.add_argument("--onion", action="store_true")
    ap.add_argument("--onion-worker", action="store_true")
    ap.add_argument("--fastest", action="store_true")
    ap.add_argument("--fastest-worker", action="store_true")
    args = ap.parse_args()
    if args.n2v_worker:
        n2v_worker(args.n2v_worker)
    elif args.n2v:
        run_n2v()
    elif args.resume_worker is not None:
        resume_worker(args.resume_worker == "1")
    elif args.resume_demo:
        run_resume_demo()
    elif args.docs_sf1:
        docs_worker()
    elif args.wcc_warm_worker:
        wcc_warm_worker(args.wcc_warm_worker)
    elif args.wcc_warm:
        run_wcc_warm()
    elif args.msf_worker:
        msf_worker()
    elif args.msf:
        run_msf()
    elif args.lpa_worker:
        lpa_worker()
    elif args.lpa:
        _run_single("--lpa-worker", "r4_lpa", "lpa_scale")
    elif args.triangles_worker:
        tri_worker()
    elif args.triangles:
        _run_single("--triangles-worker", "r4_tri", "triangles_scale")
    elif args.onion_worker:
        onion_worker()
    elif args.onion:
        _run_single("--onion-worker", "r4_onion", "onion_scale")
    elif args.fastest_worker:
        fastest_worker()
    elif args.fastest:
        _run_single("--fastest-worker", "r4_fastest", "fastest_scale")
    else:
        ap.error(
            "pick one of --n2v / --resume-demo / --docs-sf1 / --wcc-warm / "
            "--msf / --lpa / --triangles / --onion / --fastest"
        )


if __name__ == "__main__":
    main()
