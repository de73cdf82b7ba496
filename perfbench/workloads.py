"""The benchmark's workloads: inputs and pipelines.

Each pipeline is the user-visible job from source scan to the last result
written, and times each layer from outside through ``Recorder.layer``:

- ``ingest``  scan -> sha-verified mining + LinkGraph build (``materialize``)
  -> PageRank (``kernel="auto"``, the local kernel at this size) -> write;
- ``iterate`` scan -> build -> PageRank on the superstep kernel to L1 1e-9
  -> WCC on the superstep kernel with a durable checkpoint per superstep
  -> sync LPA -> triangles (``kernel="auto"``), each result written.

Why each workload exists is recorded in README.md.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from gen import SourceSpec
from tracing import Recorder

from linkgraph import LinkGraph
from linkgraph.algorithms import (
    global_triangle_count,
    label_propagation,
    pagerank,
    weakly_connected_components,
)

PR_TOL = 1e-9  # L1, the north-rule target
PR_MAX_ITER = 200
LPA_SWEEPS = 2  # fixed and even: the oracle replays exactly this many
WARM_MAX_ITER = 1  # iteration cap of the untimed warm-up pass


@dataclass(frozen=True)
class Workload:
    name: str
    spec: SourceSpec
    warm_spec: SourceSpec  # the small slice the warm-up pass runs on
    # pipelines a run times at least; the first full-size one is still
    # warming up (about 1.5x slower on ingest), so ingest times three and
    # reports the middle one
    min_pipelines: int


_ITERATE_SRC = SourceSpec(
    files=20_000, repos=4_000, community=40, max_imports=7, p_local=0.7,
    p_self=0.02, free_repos=30, filler=0, t_max=100,
)
_INGEST_SRC = SourceSpec(
    files=80_000, repos=16_000, community=50, max_imports=3, p_local=0.6,
    p_self=0.02, free_repos=30, filler=25, t_max=100,
)


def shrink(spec: SourceSpec, files: int, repos: int) -> SourceSpec:
    """The same source shape at another size."""
    return SourceSpec(**{**spec.__dict__, "files": files, "repos": repos, "free_repos": 5})


WORKLOADS = {
    "ingest": Workload("ingest", _INGEST_SRC, shrink(_INGEST_SRC, 400, 100), 3),
    "iterate": Workload("iterate", _ITERATE_SRC, shrink(_ITERATE_SRC, 400, 100), 1),
}


@dataclass
class Op:
    """One algorithm result to check against its oracle."""

    kind: str  # pagerank | wcc | lpa | triangles
    path: str | None = None  # written result (None for triangles)
    value: int | None = None  # triangles count
    supersteps: int = 0
    wall_s: float = 0.0


@dataclass
class PipelineRun:
    graph: LinkGraph | None = None
    ops: list[Op] = field(default_factory=list)
    pagerank_timings: list = field(default_factory=list)  # pagerank timings_out
    checkpoint_dir: str | None = None


def run_pipeline(
    spark, rec: Recorder, wl: Workload, src_dir: str, out_dir: str, seed: int,
    warmup: bool = False,
) -> PipelineRun:
    """Run ``wl``'s pipeline once; ``warmup`` caps every iteration count."""
    pr_iters = WARM_MAX_ITER if warmup else PR_MAX_ITER
    wcc_cap = {"max_iter": WARM_MAX_ITER} if warmup else {}
    res = PipelineRun()
    with rec.layer("scan"):
        source = spark.read.parquet(os.path.join(src_dir, "source"))
        g = LinkGraph.from_source_table(source)

    def write(df, name: str) -> str:
        path = os.path.join(out_dir, name)
        with rec.layer("write"):
            df.write.mode("overwrite").parquet(path)
        return path

    def run_pagerank(kernel: str) -> Op:
        it: dict = {}
        with rec.layer("pagerank") as span:
            pr = pagerank(
                g, max_iter=pr_iters, tol=PR_TOL, norm="l1", kernel=kernel,
                iters_out=it, timings_out=res.pagerank_timings,
            )
        op = Op("pagerank", supersteps=it.get("iterations", 0), wall_s=span["wall_s"])
        op.path = write(pr, "pagerank")
        return op

    with rec.layer("graph"):
        g.materialize()
    res.graph = g
    if wl.name == "ingest":
        res.ops.append(run_pagerank("auto"))
    elif wl.name == "iterate":
        res.ops.append(run_pagerank("superstep"))
        it: dict = {}
        res.checkpoint_dir = os.path.join(out_dir, "checkpoint")
        with rec.layer("wcc") as span:
            cc = weakly_connected_components(
                g, kernel="superstep", checkpoint_dir=res.checkpoint_dir, iters_out=it,
                **wcc_cap,
            )
        op = Op("wcc", supersteps=it.get("iterations", 0), wall_s=span["wall_s"])
        op.path = write(cc, "wcc")
        res.ops.append(op)
        with rec.layer("lpa") as span:
            lp = label_propagation(g, seed=seed, mode="sync", max_sweeps=LPA_SWEEPS)
        op = Op("lpa", wall_s=span["wall_s"])
        op.path = write(lp, "lpa")
        res.ops.append(op)
        with rec.layer("triangles") as span:
            tri = global_triangle_count(g, kernel="auto")
        res.ops.append(Op("triangles", value=tri, wall_s=span["wall_s"]))
    else:
        raise ValueError(f"unknown workload {wl.name!r}")
    return res
