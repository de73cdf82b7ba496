"""Layer timing, spans and Spark stage metrics for the benchmark.

Every layer call in a pipeline runs inside ``Recorder.layer(name)``.  The
untraced recorder only reads the clock around the call.  The traced
recorder also tags the Spark jobs the call starts with a job group of its
own, keeps one span per call (name, start, end, parent, run id) in memory,
and afterwards reads the status store (``sc._jsc.sc().statusStore()``) for
the stages of each group: tasks, run/CPU/GC time, shuffle bytes, spill, and
whether the stage ran the mining UDF (a ``MapInPandas`` operator).
"""

from __future__ import annotations

import gc
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    """Times the layer calls of one pipeline; with ``traced`` also tags their
    Spark jobs and records the cache they leave behind.

    Each span is ``{id, name, parent, start, end, wall_s}``; ``parent`` is the
    pipeline's run id, which every span of that pipeline shares.  Before each
    layer, outside its span, it collects garbage on both sides, so that one
    layer's garbage is not collected in the next layer's time.
    """

    def __init__(self, spark, traced: bool, run_id: str):
        self.sc = spark.sparkContext
        self.traced = traced
        self.run_id = run_id
        self.spans: list[dict] = []

    def wall_s(self) -> float:
        """The pipeline's wall: its layers, without the collections between."""
        return sum(s["wall_s"] for s in self.spans)

    def cpu_s(self) -> float:
        """CPU time the process tree spent inside the pipeline's layers."""
        return sum(s["cpu_s"] for s in self.spans)

    @contextmanager
    def layer(self, name: str):
        collect_garbage(self.sc)
        span = {"id": len(self.spans), "name": name, "parent": self.run_id}
        if self.traced:
            self.sc.setJobGroup(f"{self.run_id}/{span['id']}", f"{self.run_id} {name}")
            span["cached_mb_start"] = cached_mb(self.sc)
        cpu0 = tree_cpu_s()
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            span["wall_s"] = span["end"] - span["start"]
            span["cpu_s"] = tree_cpu_s() - cpu0
            if self.traced:
                span["cached_mb_end"] = cached_mb(self.sc)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(span)

    def walls(self) -> dict[str, float]:
        """Summed wall seconds per layer name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["wall_s"]
        return dict(out)


CLK_TCK = os.sysconf("SC_CLK_TCK")

_EMPTY = {
    "jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
    "shuffle_write_mb": 0.0, "spill_mb": 0.0, "mine_passes": 0,
}


def stage_metrics(spark, recorder: Recorder) -> dict[str, dict]:
    """Per layer name: Spark work summed over the stages its spans ran
    (zeros for a layer that ran none).

    A stage shared by several jobs (a reused shuffle) counts once, for the
    first job that ran it; skipped stages count as no work.  ``mine_passes``
    counts the executed mining operators: ``MapInPandas`` plan nodes that
    read the ``content`` column and emitted rows.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    name_of = {f"{recorder.run_id}/{s['id']}": s["name"] for s in recorder.spans}
    per: dict[str, dict] = defaultdict(lambda: dict(_EMPTY))
    layer_of_job: dict[int, str] = {}
    seen: set[int] = set()
    for job in sorted(conv.asJava(store.jobsList(None)), key=lambda j: j.jobId()):
        group = job.jobGroup()
        name = name_of.get(group.get()) if group.isDefined() else None
        if name is None:
            continue
        layer_of_job[job.jobId()] = name
        m = per[name]
        m["jobs"] += 1
        for sid in conv.asJava(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            m["tasks"] += st.numCompleteTasks()
            m["run_s"] += st.executorRunTime() / 1e3
            m["cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            m["spill_mb"] += (st.diskBytesSpilled() + st.memoryBytesSpilled()) / 1e6
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in conv.asJava(sql.executionsList()):
        if "MapInPandas" not in ex.physicalPlanDescription():
            continue
        layers = {layer_of_job.get(j) for j in conv.asJava(ex.jobs()).keySet()} - {None}
        if not layers:
            continue
        values = None
        for node in conv.asJava(sql.planGraph(ex.executionId()).allNodes()):
            if node.name() != "MapInPandas" or "content#" not in node.desc():
                continue
            if values is None:
                values = {int(k): v for k, v in conv.asJava(sql.executionMetrics(ex.executionId())).items()}
            rows = [
                values.get(int(mt.accumulatorId()), "0")
                for mt in conv.asJava(node.metrics())
                if mt.name() == "number of output rows"
            ]
            if any(r.replace(",", "").strip() not in ("", "0") for r in rows):
                per[min(layers)]["mine_passes"] += 1
    return per


def collect_garbage(sc) -> None:
    """A Python and a JVM garbage collection (the JVM one also lets Spark's
    ContextCleaner release what dropped DataFrames held)."""
    gc.collect()
    sc._jvm.System.gc()


def cached_mb(sc) -> float:
    """Memory plus disk held by cached RDDs and DataFrames, in MB."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants
    (the JVM and the Python workers), including reaped children."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children[pid]
    return total / CLK_TCK


def steal_s() -> float:
    """Cumulative steal time of all CPUs, in seconds (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM in /proc/{pid}/status")


def reset_peak_rss(pid: int | str = "self") -> None:
    """Restart VmHWM from the current RSS, so a later read is the peak of
    the interval that follows."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")
