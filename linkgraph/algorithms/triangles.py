"""Triangle counting, triplets, clustering coefficients.

Semantics match the reference exactly:

- global count (raphtory/src/algorithms/motifs/triangle_count.rs:61-124):
  triangles of the UNDIRECTED simple graph, self-loops excluded; the
  reference attributes triangle {a<b<c} to edge (b, a) by intersecting
  larger-id neighbour sets (:73-107). We produce the same per-edge
  attribution on canonical (lo, hi) edges, then sum.
- local count (motifs/local_triangle_count.rs:44-70): per node, the number
  of neighbour pairs connected in either direction = triangles through it.
- triplet count (motifs/triplet_count.rs:83-114): Σ_v C(deg(v), 2) over
  BOTH-degree excluding self-loops.
- clustering coefficient (metrics/clustering_coefficient.rs:38-47):
  3·triangles / triplets (0 when either is 0);
  local (metrics/local_clustering_coefficient.rs:57):
  local_triangles / C(deg, 2).

Spark-first plan — COUNT without ENUMERATING.  On dense graphs the wedge
self-join materialises O(Σ C(d,2)) rows (a near-complete 1000-node graph has
~1.6·10⁸ triangles); all counting paths therefore intersect **sorted
larger-id adjacency arrays** per canonical edge — the reference's own
AdjSet-intersection scheme (triangle_count.rs:82-107) — so the shuffled
volume is one row per edge, not per triangle.  Two interchangeable kernels:

- ``csr`` — the adjacency broadcast once per executor as numpy CSR arrays,
  intersected per edge inside ``mapInPandas`` (the north-star's CSR-block
  shape); ``auto`` picks it up to ``CSR_BROADCAST_MAX`` adjacency entries;
- ``jvm`` — ``array_intersect`` inside whole-stage codegen over joined
  adjacency arrays; ``auto`` picks it above that budget.

``triangles_df`` still enumerates explicit (a,b,c) rows for listing /
debugging; use the counters at scale.  Global counting orients edges by
(degree, id) — any acyclic orientation counts each triangle exactly once,
and the degree-DAG bounds out-adjacency lists at O(√m) on power-law graphs
— while per-edge attribution keeps the reference's id orientation for
result parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph


def _oriented_pairs(graph: LinkGraph, orientation: str = "id") -> DataFrame:
    """Each undirected simple edge once, as ``(lo, hi)`` oriented by:

    - ``"id"``     — lo < hi by node id (the reference's orientation,
      triangle_count.rs:75,84 — required for per-edge attribution parity);
    - ``"degree"`` — from the lower-(degree, id) endpoint to the higher.
      The standard power-law tightening: out-adjacency lists in the
      degree-DAG are O(√m) long, so hub intersections stay bounded.  Any
      acyclic orientation counts each triangle exactly once (the unique
      vertex with both out-edges), so global/local totals are identical.
    """
    canon = graph.canonical_edge_ids()
    if orientation == "id":
        return canon
    deg = (
        canon.select(F.col("lo").alias("id"))
        .unionAll(canon.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    with_deg = canon.join(
        deg.select(F.col("id").alias("lo"), F.col("d").alias("dlo")), "lo"
    ).join(deg.select(F.col("id").alias("hi"), F.col("d").alias("dhi")), "hi")
    # lo < hi by id already, so degree ties keep the id orientation
    fwd = with_deg.filter(F.col("dlo") <= F.col("dhi")).select("lo", "hi")
    rev = with_deg.filter(F.col("dlo") > F.col("dhi")).select(
        F.col("hi").alias("lo"), F.col("lo").alias("hi")
    )
    return fwd.unionAll(rev)


def _out_nbrs(pairs: DataFrame) -> DataFrame:
    """Per node: the sorted array of out-neighbour ids in the oriented DAG —
    ``(id, nbrs array<long>)`` — the reference's step-1 state
    (triangle_count.rs:73-80) generalised to any acyclic orientation."""
    return (
        pairs.groupBy(F.col("lo").alias("id"))
        .agg(F.array_sort(F.collect_set("hi")).alias("nbrs"))
    )


# adjacency-entry budget for the broadcast-CSR kernel: 20M int64 entries
# ≈ 160MB on the driver / per executor — the hub-vector-broadcast regime.
CSR_BROADCAST_MAX = 20_000_000

KERNELS = ("auto", "csr", "jvm")


def _csr_intersect_counts(edge_pairs: DataFrame, adj: DataFrame) -> DataFrame:
    """Broadcast the whole adjacency as numpy arrays and count sorted-array
    intersections per edge inside a ``mapInPandas`` kernel — one row per
    edge moves, the adjacency moves ONCE per executor (north-star CSR-block
    shape; the distributed analogue of the reference's in-memory AdjSet
    intersects, triangle_count.rs:82-107).  Caller guarantees the adjacency
    fits the broadcast budget."""
    import numpy as np
    import pandas as pd

    spark = edge_pairs.sparkSession
    adj_pdf = adj.toPandas()
    # CSR triple (ids, indptr, indices): three flat numpy arrays broadcast
    # once per executor — no driver-side dict of millions of slice objects,
    # and numpy arrays pickle as raw buffers
    raw_ids = adj_pdf["id"].to_numpy(np.int64)
    order = np.argsort(raw_ids, kind="stable")
    ids = raw_ids[order]
    lists = adj_pdf["nbrs"].to_numpy()[order] if len(order) else np.empty(0, object)
    lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
    indptr = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(lens, out=indptr[1:])
    indices = (
        np.concatenate([np.asarray(x, dtype=np.int64) for x in lists])
        if len(lists)
        else np.empty(0, dtype=np.int64)
    )
    bc = spark.sparkContext.broadcast((ids, indptr, indices))

    def _isize(a, b):
        # |a ∩ b| for sorted unique arrays: binary-search the smaller into
        # the larger — O(|s|·log|l|) fully vectorized, no concat-sort
        if a.size > b.size:
            a, b = b, a
        if a.size == 0 or b.size == 0:
            return 0
        idx = np.searchsorted(b, a)
        idx[idx == b.size] = 0  # out-of-range probes can never match b[0] twice wrongly: a is unique & sorted, a[-1] > b[-1] here
        return int(np.count_nonzero(b[idx] == a))

    def kernel(batches):
        c_ids, c_indptr, c_indices = bc.value
        empty = np.empty(0, dtype=np.int64)

        def row(node):
            i = np.searchsorted(c_ids, node)
            if i < c_ids.size and c_ids[i] == node:
                return c_indices[c_indptr[i]: c_indptr[i + 1]]
            return empty

        for pdf in batches:
            los = pdf["lo"].to_numpy()
            his = pdf["hi"].to_numpy()
            counts = np.fromiter(
                (_isize(row(a), row(b)) for a, b in zip(los, his)),
                dtype=np.int64,
                count=len(los),
            )
            yield pd.DataFrame({"lo": los, "hi": his, "triangles": counts})

    return edge_pairs.select("lo", "hi").mapInPandas(
        kernel, "lo long, hi long, triangles long"
    )


def _pick_kernel(graph: LinkGraph, kernel: str) -> str:
    if kernel not in KERNELS:
        raise ValueError(f"triangles: kernel must be one of {KERNELS}, got {kernel!r}")
    # every kernel scans the canonical edges at least twice (adjacency build
    # + per-edge probe), so materialize them once — persist() on the memoized
    # DataFrame is idempotent and shared by all later calls on this graph
    graph.canonical_edge_ids().persist()
    if kernel != "auto":
        return kernel
    m = graph.canonical_edge_ids().count()
    return "csr" if m <= CSR_BROADCAST_MAX else "jvm"


def _edge_common_bigger(
    graph: LinkGraph, kernel: str = "auto", orientation: str = "id"
) -> DataFrame:
    """Per oriented edge: ``(lo, hi, triangles)`` = |out(lo) ∩ out(hi)|
    (zero rows included).  Every common out-neighbour c closes one triangle,
    attributed to edge (lo, hi) — with ``orientation="id"`` this is exactly
    the reference's {a<b<c} → (a, b) attribution."""
    kernel = _pick_kernel(graph, kernel)
    canon = _oriented_pairs(graph, orientation)
    big = _out_nbrs(canon)
    if kernel == "csr":
        return _csr_intersect_counts(canon, big)
    joined = (
        canon.join(big.withColumnRenamed("id", "lo"), "lo")
        .withColumnRenamed("nbrs", "lo_nbrs")
        .join(
            big.withColumnRenamed("id", "hi").withColumnRenamed("nbrs", "hi_nbrs"),
            "hi",
            "left",
        )
        .select(
            "lo",
            "hi",
            "lo_nbrs",
            F.coalesce("hi_nbrs", F.array().cast("array<long>")).alias("hi_nbrs"),
        )
    )
    return joined.select(
        "lo", "hi", F.size(F.array_intersect("lo_nbrs", "hi_nbrs")).alias("triangles")
    )


def triangles_df(graph: LinkGraph, prune_2core: bool = False) -> DataFrame:
    """All triangles as ``(a, b, c)`` with a < b < c (ids), one row each."""
    canon = graph.canonical_edge_ids()
    if prune_2core:
        from linkgraph.algorithms.kcore import k_core_ids

        core = k_core_ids(graph, 2)
        canon = (
            canon.join(core.withColumnRenamed("id", "lo"), "lo", "left_semi")
            .join(core.withColumnRenamed("id", "hi"), "hi", "left_semi")
        )
    e1 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = canon.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b")  # (a<b, b<c) → wedge a-b-c with a<b<c
    return wedges.join(e3, ["a", "c"], "left_semi").select("a", "b", "c")


def per_edge_triangles(graph: LinkGraph, kernel: str = "auto") -> DataFrame:
    """Per-canonical-edge triangle attribution — ``(lo, hi, triangles)``,
    edges with zero triangles omitted.

    Triangle {a<b<c} is attributed to its smallest edge (a, b), matching
    the reference's s>t intersection accounting (triangle_count.rs:82-107)
    which counts each triangle exactly once at the pair of its two smallest
    vertices.
    """
    return _edge_common_bigger(graph, kernel).filter(F.col("triangles") > 0)


def global_triangle_count(graph: LinkGraph, kernel: str = "auto") -> int:
    # degree orientation: same total (any acyclic orientation counts each
    # triangle once), hub-bounded intersection arrays at scale
    row = (
        _edge_common_bigger(graph, kernel, orientation="degree")
        .agg(F.sum("triangles"))
        .first()
    )
    return int(row[0] or 0)


def local_triangle_count(graph: LinkGraph, kernel: str = "auto") -> DataFrame:
    """Per-node triangle membership — ``(name, id, triangles)`` (0-filled).

    Counted from FULL-neighbour intersections per edge: every triangle has
    three edges, and Σ_{edges e ∋ v} |N(u)∩N(w)| counts each of v's
    triangles exactly twice (once per incident triangle edge), so
    ``local(v) = Σ t_e / 2`` — still one row per edge, never per triangle.
    """
    kernel = _pick_kernel(graph, kernel)
    graph.undirected_edge_ids().persist()
    full = (
        graph.undirected_edge_ids()
        .filter(F.col("id") != F.col("nbr_id"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("nbr_id")).alias("nbrs"))
    )
    if kernel == "csr":
        per_edge = _csr_intersect_counts(
            graph.canonical_edge_ids(), full
        ).withColumnRenamed("triangles", "t_e")
        return _local_from_edge_counts(graph, per_edge)
    joined = (
        graph.canonical_edge_ids()
        .join(full.withColumnRenamed("id", "lo"), "lo")
        .withColumnRenamed("nbrs", "lo_nbrs")
        .join(
            full.withColumnRenamed("id", "hi").withColumnRenamed("nbrs", "hi_nbrs"),
            "hi",
        )
    )
    per_edge = joined.select(
        "lo", "hi", F.size(F.array_intersect("lo_nbrs", "hi_nbrs")).alias("t_e")
    )
    return _local_from_edge_counts(graph, per_edge)


def _local_from_edge_counts(graph: LinkGraph, per_edge: DataFrame) -> DataFrame:
    member = (
        per_edge.select(F.col("lo").alias("id"), "t_e")
        .unionAll(per_edge.select(F.col("hi").alias("id"), "t_e"))
        .groupBy("id")
        .agg((F.sum("t_e") / 2).cast("long").alias("triangles"))
    )
    return (
        graph.ids()
        .join(member, "id", "left")
        .select("name", "id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )


def triplet_count(graph: LinkGraph) -> int:
    """Σ_v C(deg(v), 2), BOTH-degree excluding self-loops."""
    deg = (
        graph.undirected_edge_ids()
        .filter(F.col("id") != F.col("nbr_id"))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    row = deg.agg(F.sum(F.col("d") * (F.col("d") - 1) / 2)).first()
    return int(row[0] or 0)


def clustering_coefficient(graph: LinkGraph, kernel: str = "jvm") -> float:
    """Global: 3·triangles / triplets — clustering_coefficient.rs:38-47."""
    t = global_triangle_count(graph, kernel)
    p = triplet_count(graph)
    return (3.0 * t / p) if t and p else 0.0


def local_clustering_coefficient(graph: LinkGraph) -> DataFrame:
    """Per-node: triangles / C(deg, 2) — ``(name, id, coefficient)``."""
    deg = (
        graph.undirected_edge_ids()
        .filter(F.col("id") != F.col("nbr_id"))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    lt = local_triangle_count(graph)
    return (
        lt.join(deg, "id", "left")
        .select(
            "name",
            "id",
            F.when(
                F.coalesce("d", F.lit(0)) >= 2,
                F.col("triangles") / (F.col("d") * (F.col("d") - 1) / 2),
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )


def new_triangles(
    before: LinkGraph, after: LinkGraph, check: bool = True
) -> DataFrame:
    """Incremental triangle enumeration — ``(a, b, c)`` with a < b < c: the
    triangles present in ``after`` but not in ``before``, computed from
    the edge DELTA instead of recounting the whole graph.

    Requires ``before`` ⊆ ``after`` (an append-only increment, the
    windowed-view growth pattern every warm-start operator here assumes).
    Under that premise a triangle is new iff it contains at least one new
    edge, so the enumeration is: delta edges (one anti-join of canonical
    edge sets) × common AFTER-neighbours of each delta edge's endpoints
    (two hash joins through the undirected view), then one distinct over
    sorted triples to de-duplicate triangles closed by two or three new
    edges.  Cost is O(Σ_{new (u,v)} deg(u)+deg(v)) + a distinct bounded
    by 3× the new-triangle count — proportional to the INCREMENT, not the
    graph, which is the whole point at 100 TB where the nightly delta is
    orders of magnitude smaller than the accumulated graph.

    Counting parity: ``new_triangles(b, a).count() ==
    global_triangle_count(a) - global_triangle_count(b)`` — asserted in
    tests and by the SQL oracle (which replays the same delta-wedge
    join).  Pure DataFrame ops, no UDFs; the sorted triple is one
    ``array_sort`` over three ids.
    """
    canon_b = before.canonical_edge_ids().select("lo", "hi")
    canon_a = after.canonical_edge_ids().select("lo", "hi")
    if check:
        removed = (
            canon_b.join(canon_a, ["lo", "hi"], "left_anti").limit(1).count()
        )
        if removed:
            raise ValueError(
                "new_triangles requires before ⊆ after (append-only "
                "increment); `before` has edges absent from `after` — "
                "pass check=False only if you have verified containment "
                "upstream"
            )
    new = canon_a.join(canon_b, ["lo", "hi"], "left_anti")
    und = after.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    n_lo = und.select(F.col("id").alias("lo"), F.col("nbr_id").alias("w"))
    n_hi = und.select(F.col("id").alias("hi"), F.col("nbr_id").alias("w"))
    cand = (
        new.join(n_lo, "lo")
        .join(n_hi, ["hi", "w"], "left_semi")
        .filter((F.col("w") != F.col("lo")) & (F.col("w") != F.col("hi")))
    )
    tri = cand.select(
        F.array_sort(F.array("lo", "hi", "w")).alias("t")
    ).distinct()
    return tri.select(
        F.element_at("t", 1).alias("a"),
        F.element_at("t", 2).alias("b"),
        F.element_at("t", 3).alias("c"),
    )


def local_bridges(graph: LinkGraph) -> DataFrame:
    """Local bridges — ``(lo, hi)``: the edges whose endpoints share NO
    common neighbour (span > 2), i.e. the edges in no triangle.

    Granovetter's weak ties: removing a local bridge forces traffic
    between its endpoints through a detour of ≥ 3 hops, so these are
    the edges whose loss most lengthens paths — the edge-level
    complement of :func:`per_edge_triangles` (which omits exactly these
    zero-triangle edges).  One wedge semi-join: canonical edges
    anti-joined against the triangle-closed pair set — Σdeg² wedge
    budget, the same as every common-neighbour operator here (cap hubs
    upstream if that binds).
    """
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    edges = und.filter(F.col("id") < F.col("nbr_id")).select(
        F.col("id").alias("lo"), F.col("nbr_id").alias("hi")
    )
    a = und.select(F.col("nbr_id").alias("w"), F.col("id").alias("lo"))
    b = und.select(F.col("nbr_id").alias("w2"), F.col("id").alias("hi"))
    closed = (
        a.join(b, F.col("w") == F.col("w2"))
        .filter(F.col("lo") < F.col("hi"))
        .select("lo", "hi")
    )
    return edges.join(closed, ["lo", "hi"], "left_anti")


def edge_geometry(graph: LinkGraph) -> DataFrame:
    """Per-edge discrete geometry — ``(lo, hi, n_common, curvature,
    overlap_ppm)`` over the undirected simple graph: common-neighbour
    count, augmented Forman–Ricci curvature ``4 − deg(u) − deg(v) +
    3·t(e)``, and Onnela neighbourhood overlap ``t / (deg(u) + deg(v)
    − 2 − t)`` in floor ppm (0 when the denominator is ≤ 0).

    The geometric complement of :func:`local_bridges`: strongly
    negative curvature marks bottleneck "highway" edges (traffic
    concentrators — exactly where congestion and oversquashing live),
    positive curvature marks intra-community redundancy, and overlap
    is the Granovetter tie-strength proxy.  One wedge join for the
    common-neighbour counts (Σdeg² budget, the family's standard), one
    degree join, pure integer arithmetic.
    """
    und = graph.undirected_edge_ids().filter(F.col("id") != F.col("nbr_id"))
    edges = und.filter(F.col("id") < F.col("nbr_id")).select(
        F.col("id").alias("lo"), F.col("nbr_id").alias("hi")
    )
    deg = und.groupBy("id").agg(F.count("*").alias("d"))
    a = und.select(F.col("nbr_id").alias("w"), F.col("id").alias("lo"))
    b = und.select(F.col("nbr_id").alias("w2"), F.col("id").alias("hi"))
    cn = (
        a.join(b, F.col("w") == F.col("w2"))
        .filter(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        edges.join(cn, ["lo", "hi"], "left")
        .join(deg.select(F.col("id").alias("lo"), F.col("d").alias("du")), "lo")
        .join(deg.select(F.col("id").alias("hi"), F.col("d").alias("dv")), "hi")
        .select(
            "lo",
            "hi",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (
                F.lit(4) - F.col("du") - F.col("dv")
                + F.lit(3) * F.coalesce("n_common", F.lit(0))
            ).cast("long").alias("curvature"),
            F.expr(
                "CASE WHEN du + dv - 2 - coalesce(n_common, 0) <= 0 THEN 0 "
                "ELSE (coalesce(n_common, 0) * 1000000) "
                "div (du + dv - 2 - coalesce(n_common, 0)) END"
            ).cast("long").alias("overlap_ppm"),
        )
    )


def temporal_closure_rate(graph: LinkGraph) -> DataFrame:
    """Temporal triadic closure rate (Kossinets & Watts, Science 2006) —
    ONE row ``(n_wedges, closed_ever, closed_after, ever_ppm,
    closure_ppm)``.

    Per-pair FIRST-CONTACT times are derived from the event table
    (min event time over the canonical undirected pair); a *wedge* is an
    ordered pair of first-contact edges (a–b, b–c), ``a < c`` by id, with
    wedge time ``max(t_ab, t_bc)`` — the moment both legs exist.  The
    wedge is ``closed_ever`` if the a–c edge exists at all, and
    ``closed_after`` if its first contact is **at or after** the wedge
    time — i.e. genuinely triadic closure (the tie formed after the
    two-path), not a pre-existing edge later joined by a two-path.  The
    reference counts static triangles (triangle_count.rs) and temporal
    motifs with a δ window (three_node_motifs.rs); this is the
    closure-RATE readout between them — "of all open two-paths, how many
    ever close, and how many close in causal order".

    Plan: one min-aggregate for first contacts, one self-join on the
    wedge center (Σ deg² rows — same cost class as the square/K4
    counters, and the same subsample knob applies), one left join back
    to the first-contact edges, one global aggregate.  Integer ppm via
    floor division; bit-exact across engines.
    """
    ft = (
        graph.edges_t.select(
            F.least(F.col("src"), F.col("dst")).alias("lo"),
            F.greatest(F.col("src"), F.col("dst")).alias("hi"),
            F.col("time").cast("long").alias("t"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.min("t").alias("t"))
    )
    und = ft.select(
        F.col("lo").alias("id"), F.col("hi").alias("nbr"), "t"
    ).unionByName(
        ft.select(F.col("hi").alias("id"), F.col("lo").alias("nbr"), "t")
    )
    l = und.select("id", F.col("nbr").alias("a"), F.col("t").alias("t1"))
    r = und.select("id", F.col("nbr").alias("c"), F.col("t").alias("t2"))
    wedges = (
        l.join(r, "id")
        .filter(F.col("a") < F.col("c"))
        .select(
            F.col("a").alias("lo"),
            F.col("c").alias("hi"),
            F.greatest("t1", "t2").alias("wt"),
        )
    )
    joined = wedges.join(
        ft.select("lo", "hi", F.col("t").alias("t_ac")), ["lo", "hi"], "left"
    )
    return joined.agg(
        F.count("*").alias("n_wedges"),
        F.count("t_ac").alias("closed_ever"),
        F.sum(
            F.when(F.col("t_ac") >= F.col("wt"), 1).otherwise(0)
        ).cast("long").alias("closed_after"),
        F.expr("(count(t_ac) * 1000000) div count(*)").alias("ever_ppm"),
        F.expr(
            "(sum(CASE WHEN t_ac >= wt THEN 1 ELSE 0 END) * 1000000)"
            " div count(*)"
        ).alias("closure_ppm"),
    )
