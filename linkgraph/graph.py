"""LinkGraph — the engine's graph facade and lazy view algebra.

A ``LinkGraph`` wraps two DataFrames:

- ``edges_t(src, dst, time, layer, ...)`` — event-level temporal edges, the
  analogue of Raphtory's per-edge ``TimeIndex`` histories
  (reference: core/entities/edges/edge_store.rs:26-34);
- ``nodes_t(name, time)`` — node presence events (add_node upserts).

All derived views — window / layer / subgraph — return new ``LinkGraph``
instances with filters pushed onto those DataFrames, mirroring Raphtory's
lazily-composed view stack (db/graph/views/window_graph.rs:73-78,
layer_graph.rs:22, node_subgraph.rs:27). Catalyst fuses and pushes the
predicates down to the scan, so composition is free.

Algorithm-facing accessors expose the **simple (deduplicated) directed
graph** — Raphtory's sorted, dedup'd ``AdjSet`` semantics
(core/entities/nodes/structure/adjset.rs:16-28): parallel temporal events on
one (src, dst) collapse to one logical edge, and BOTH-direction neighbour
sets dedup reciprocal pairs (node_store.rs:245-257).

Node identity: names are strings (repo names). Numeric names parse to their
integer value so component labels match the reference's min-external-id
semantics exactly; other names get a stable non-negative 64-bit hash
(reference hashes strings with xxhash too: core/utils/hashing.rs:8-12 —
values differ across hash seeds, so results are always keyed by *name* for
comparison, as Raphtory's AlgorithmResult is, algorithm_result.rs:114-124).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MAX_I64 = (1 << 63) - 1


def persist_once(df: DataFrame) -> Callable[[], object]:
    """Cache ``df`` unless an equivalent plan is cached already; returns the
    release callback, which unpersists only what this call cached.

    Algorithms take the graph's memoized tables (``ids()``, ``edge_ids()``,
    ...) through this, so a table the graph owns (see
    :meth:`LinkGraph.materialize`) outlives the algorithm, while a table the
    algorithm had to cache itself is still dropped when it is done.
    """
    if df.storageLevel != StorageLevel.NONE:
        return lambda: None
    df.persist()
    return df.unpersist


def name_to_id(col: Column) -> Column:
    """Stable 64-bit non-negative node id for a name column (see module doc).

    Collision caveats: a zero-padded numeric name ("007") collides with its
    unpadded form ("7"), and a hashed non-numeric name can in principle land
    on a small numeric id.  Datasets mixing key styles should run
    :meth:`LinkGraph.validate_ids` once at build time.
    """
    as_num = col.cast("long")
    hashed = F.xxhash64(col).bitwiseAND(F.lit(_MAX_I64))
    return F.when(col.rlike(r"^\d{1,18}$"), as_num).otherwise(hashed)


class LinkGraph:
    """Immutable graph view over an event-level edge table.

    Besides the two event tables, a graph may carry CONSTANT properties —
    set-once, time-independent metadata (db/api/properties/
    constant_props.rs; ingested via the loaders' ``const_props`` path,
    python/graph/pandas/loaders.rs:11-463):

    - ``node_const(name, <prop columns>)`` — one row per node;
    - ``edge_const(src, dst, <prop columns>)`` — one row per logical edge;
    - ``graph_const`` — a plain dict of graph-level properties.

    Constant properties are window-independent: temporal views propagate
    them unfiltered (a window narrows histories, never metadata), while
    accessors always join against the view's entity set.
    """

    def __init__(
        self,
        edges_t: DataFrame,
        nodes_t: DataFrame | None = None,
        node_const: DataFrame | None = None,
        edge_const: DataFrame | None = None,
        graph_const: dict | None = None,
    ):
        self.spark = edges_t.sparkSession
        if "layer" not in edges_t.columns:
            edges_t = edges_t.withColumn("layer", F.lit("_default"))
        if "time" not in edges_t.columns:
            edges_t = edges_t.withColumn("time", F.lit(0).cast("long"))
        self.edges_t = edges_t
        if nodes_t is None:
            nodes_t = (
                edges_t.select(F.col("src").alias("name"), "time")
                .unionByName(edges_t.select(F.col("dst").alias("name"), "time"))
            )
        self.nodes_t = nodes_t
        self.node_const = node_const
        self.edge_const = edge_const
        self.graph_const = dict(graph_const or {})
        self._cache: dict[str, DataFrame] = {}

    def _derive(self, edges_t: DataFrame, nodes_t: DataFrame) -> "LinkGraph":
        """A view over new event tables, carrying the constant-prop tables."""
        return LinkGraph(
            edges_t,
            nodes_t,
            node_const=self.node_const,
            edge_const=self.edge_const,
            graph_const=self.graph_const,
        )

    # ---------------------------------------------------------------- build
    @classmethod
    def from_source_table(cls, source: DataFrame, verify_sha: bool = True) -> "LinkGraph":
        """Derive the repo link graph from a source-code table (see extract)."""
        from linkgraph.extract import mine_edges, node_events

        edges_t = mine_edges(source, verify_sha=verify_sha)
        nodes_t = node_events(source).unionByName(
            edges_t.select(F.col("dst").alias("name"), "time")
        )
        return cls(edges_t, nodes_t)

    @classmethod
    def from_edge_list(cls, spark, edges: list[tuple[int, str, str]]) -> "LinkGraph":
        """Tiny test constructor from ``(time, src, dst)`` tuples."""
        df = spark.createDataFrame(
            [(str(s), str(d), int(t), "_default") for t, s, d in edges],
            schema="src string, dst string, time long, layer string",
        )
        return cls(df)

    # ---------------------------------------------------------------- views
    def window(self, start: int | None, end: int | None) -> "LinkGraph":
        """Half-open temporal window [start, end) — window_graph.rs:73-78.

        The node set is re-derived: a node is in the window iff it has any
        event inside it (window_graph.rs:217-233).
        """
        cond = F.lit(True)
        if start is not None:
            cond = cond & (F.col("time") >= F.lit(start))
        if end is not None:
            cond = cond & (F.col("time") < F.lit(end))
        return self._derive(self.edges_t.filter(cond), self.nodes_t.filter(cond))

    def at(self, t: int) -> "LinkGraph":
        return self.window(t, t + 1)

    def before(self, t: int) -> "LinkGraph":
        return self.window(None, t)

    def after(self, t: int) -> "LinkGraph":
        return self.window(t + 1, None)

    def layer(self, *layers: str) -> "LinkGraph":
        """Restrict to edge layers — layer_graph.rs:22."""
        return self._derive(
            self.edges_t.filter(F.col("layer").isin(list(layers))), self.nodes_t
        )

    def subgraph(self, nodes: DataFrame | list[str]) -> "LinkGraph":
        """Induced subgraph on a node set — node_subgraph.rs:27.

        Implemented as two broadcast/shuffle semi-joins (Catalyst picks);
        the node list is usually small enough to broadcast.
        """
        if isinstance(nodes, list):
            node_df = self.spark.createDataFrame([(n,) for n in nodes], "name string")
        else:
            node_df = nodes.select(F.col(nodes.columns[0]).alias("name"))
        node_df = node_df.distinct()
        e = (
            self.edges_t.join(
                F.broadcast(node_df.withColumnRenamed("name", "src")), "src", "left_semi"
            ).join(
                F.broadcast(node_df.withColumnRenamed("name", "dst")), "dst", "left_semi"
            )
        )
        n = self.nodes_t.join(F.broadcast(node_df), "name", "left_semi")
        return self._derive(e, n)

    def quotient(self, mapping: DataFrame) -> "LinkGraph":
        """Quotient (contracted) graph — relabel every node by its group
        and keep the event stream: the supernode graph whose edge events
        are the original events between groups (self-loop events preserved
        — window/layer views and every algorithm run unchanged on the
        coarsened graph).

        ``mapping`` is ``(name, group)``; unmapped nodes keep their own
        name.  One projection + two joins (the mapping is a node-dictionary
        sized relation — Catalyst broadcasts it while it fits).  This is
        the graph-coarsening step of multilevel pipelines (e.g. Louvain's
        community aggregation) exposed as a first-class view.
        """
        m = mapping.select(
            F.col(mapping.columns[0]).alias("name"),
            F.col(mapping.columns[1]).cast("string").alias("group"),
        ).distinct()
        e = (
            self.edges_t.join(
                m.select(F.col("name").alias("src"), F.col("group").alias("_gs")),
                "src",
                "left",
            )
            .join(
                m.select(F.col("name").alias("dst"), F.col("group").alias("_gd")),
                "dst",
                "left",
            )
            .withColumn("src", F.coalesce("_gs", F.col("src")))
            .withColumn("dst", F.coalesce("_gd", F.col("dst")))
            .drop("_gs", "_gd")
        )
        return LinkGraph(e)

    # ------------------------------------------------------------ accessors
    def _memo(self, key: str, build) -> DataFrame:
        if key not in self._cache:
            self._cache[key] = build()
        return self._cache[key]

    def names(self) -> DataFrame:
        """All node names — (name)."""
        return self._memo("names", lambda: self.nodes_t.select("name").distinct())

    def ids(self) -> DataFrame:
        """Node dictionary — (id, name), one row per node."""
        return self._memo(
            "ids",
            lambda: self.names().select(name_to_id(F.col("name")).alias("id"), "name"),
        )

    def edges(self) -> DataFrame:
        """Simple directed edges — (src, dst) distinct (AdjSet dedup)."""
        return self._memo("edges", lambda: self.edges_t.select("src", "dst").distinct())

    def edge_ids(self) -> DataFrame:
        """Simple directed edges as ids — (src_id, dst_id) distinct."""
        return self._memo(
            "edge_ids",
            lambda: self.edges().select(
                name_to_id(F.col("src")).alias("src_id"),
                name_to_id(F.col("dst")).alias("dst_id"),
            ),
        )

    def undirected_edge_ids(self) -> DataFrame:
        """BOTH-direction neighbour pairs — (id, nbr_id) distinct.

        Dedups reciprocal edges and keeps self-loops once, matching
        ``NodeStore::degree`` BOTH semantics (node_store.rs:245-257).
        """
        def build():
            e = self.edge_ids()
            return (
                e.select(F.col("src_id").alias("id"), F.col("dst_id").alias("nbr_id"))
                .unionByName(
                    e.select(F.col("dst_id").alias("id"), F.col("src_id").alias("nbr_id"))
                )
                .distinct()
            )

        return self._memo("undirected", build)

    def canonical_edge_ids(self) -> DataFrame:
        """Undirected simple edges oriented lo<hi, self-loops dropped — (lo, hi).

        The triangle-counting orientation (triangle_count.rs:75,84).
        """
        def build():
            e = self.edge_ids().filter(F.col("src_id") != F.col("dst_id"))
            return e.select(
                F.least("src_id", "dst_id").alias("lo"),
                F.greatest("src_id", "dst_id").alias("hi"),
            ).distinct()

        return self._memo("canonical", build)

    def validate_ids(self) -> int:
        """Assert the name→id mapping is injective over THIS graph's nodes —
        one aggregate (``count == countDistinct(id)``); raises ``ValueError``
        listing sample colliding names otherwise.  Run once at build time
        before very large runs (see :func:`name_to_id` caveats)."""
        row = self.ids().agg(
            F.count("*").alias("n"), F.countDistinct("id").alias("d")
        ).first()
        if row["n"] != row["d"]:
            sample = (
                self.ids()
                .groupBy("id")
                .agg(F.count("*").alias("c"), F.collect_list("name").alias("names"))
                .filter(F.col("c") > 1)
                .limit(5)
                .collect()
            )
            pairs = "; ".join(str(r["names"]) for r in sample)
            raise ValueError(
                f"name_to_id collision: {row['n'] - row['d']} id(s) shared by "
                f"multiple names, e.g. {pairs}"
            )
        return int(row["n"])

    # ------------------------------------------------------- entity views
    def node(self, name: str):
        """Per-node view with its own TimeOps — ``g.node(n).window(s, e)``
        (python/graph/node.rs; TimeOps for entity views,
        db/api/view/time.rs:108-135).  Lazy: returns a view even for an
        absent node; probe with ``.exists()``."""
        from linkgraph.entities import NodeView

        return NodeView(self, name)

    def edge(self, src: str, dst: str):
        """Per-edge view with its own TimeOps — ``g.edge(u, v).at(t)``
        (python/graph/edge.rs)."""
        from linkgraph.entities import EdgeView

        return EdgeView(self, src, dst)

    def paths(self, *names: str):
        """Multi-hop path surface — ``g.paths("a").neighbours().neighbours()``
        (PathFromNode / PathFromGraph, db/graph/path.rs; see hops.py)."""
        from linkgraph.hops import paths_from

        return paths_from(self, *names)

    def degrees(self) -> DataFrame:
        """Distinct-neighbour degrees — (id, out_degree, in_degree, degree).

        ``degree`` is BOTH-direction (in ∪ out, dedup'd); every count
        includes self-loops once, as the reference's AdjSet does.
        """
        def build():
            e = self.edge_ids()
            out_d = e.groupBy(F.col("src_id").alias("id")).agg(
                F.count("*").alias("out_degree")
            )
            in_d = e.groupBy(F.col("dst_id").alias("id")).agg(
                F.count("*").alias("in_degree")
            )
            both = self.undirected_edge_ids().groupBy("id").agg(
                F.count("*").alias("degree")
            )
            return (
                self.ids()
                .select("id")
                .join(out_d, "id", "left")
                .join(in_d, "id", "left")
                .join(both, "id", "left")
                .fillna(0, subset=["out_degree", "in_degree", "degree"])
            )

        return self._memo("degrees", build)

    # ------------------------------------------------------------- scalars
    def count_nodes(self) -> int:
        return self.names().count()

    def count_edges(self) -> int:
        """Logical (deduplicated) edge count — graph.rs:47-58."""
        return self.edges().count()

    def count_temporal_edges(self) -> int:
        return self.edges_t.count()

    def earliest_time(self) -> int | None:
        row = self.edges_t.agg(F.min("time")).first()
        return row[0]

    def latest_time(self) -> int | None:
        row = self.edges_t.agg(F.max("time")).first()
        return row[0]

    def has_node(self, name: str) -> bool:
        return self.names().filter(F.col("name") == name).limit(1).count() > 0

    def has_edge(self, src: str, dst: str) -> bool:
        return (
            self.edges()
            .filter((F.col("src") == src) & (F.col("dst") == dst))
            .limit(1)
            .count()
            > 0
        )

    # ------------------------------------------------------------ neighbours
    def neighbours(self, direction: str = "both") -> DataFrame:
        """Adjacency as a DataFrame — (id, nbr_id); the hash-join primitive
        every algorithm composes with (SURVEY §2.3)."""
        e = self.edge_ids()
        if direction == "out":
            return e.select(F.col("src_id").alias("id"), F.col("dst_id").alias("nbr_id"))
        if direction == "in":
            return e.select(F.col("dst_id").alias("id"), F.col("src_id").alias("nbr_id"))
        return self.undirected_edge_ids()

    # ------------------------------------------------------------ persistence
    def save(self, path: str) -> None:
        """Persist the graph (event tables) — ``save_to_file`` parity
        (python/graph/graph.rs:260-301, bincode there; columnar here so a
        saved graph is also directly queryable by any parquet reader)."""
        self.edges_t.write.mode("overwrite").parquet(f"{path.rstrip('/')}/edges_t")
        self.nodes_t.write.mode("overwrite").parquet(f"{path.rstrip('/')}/nodes_t")

    @classmethod
    def load(cls, spark, path: str) -> "LinkGraph":
        """Load a graph written by :meth:`save` — ``load_from_file`` parity."""
        p = path.rstrip("/")
        return cls(
            spark.read.parquet(f"{p}/edges_t"), spark.read.parquet(f"{p}/nodes_t")
        )

    # ------------------------------------------------------------ window sets
    def time_bounds(self) -> tuple[int | None, int | None]:
        """(earliest, latest+1) — the view's timeline, end exclusive."""
        row = self.edges_t.agg(F.min("time"), F.max("time")).first()
        if row is None or row[0] is None:
            return (None, None)
        return (row[0], row[1] + 1)

    def rolling(self, window: int | str, step: int | str | None = None):
        """Iterator of ``(start, end, LinkGraph)`` rolling windows.

        Mirrors the reference's WindowSet cursor rule
        (db/api/view/time.rs:193-209): the cursor starts at
        ``timeline_start + step`` and yields ``[cursor - window, cursor)``
        while ``cursor < timeline_end + step`` — the last window may hang
        past the data.  ``window``/``step`` are discrete millisecond ints
        or CALENDAR interval strings (``"1 day"``, ``"2 weeks"``,
        ``"3 months"`` — months via calendar arithmetic, not fixed ms;
        core/utils/time.rs:120-156, intervals.py).
        """
        from linkgraph.intervals import window_grid

        start, end = self.time_bounds()
        if start is None:
            return
        for ws, we in window_grid(start, end, window, step):
            yield (ws, we, self.window(ws, we))

    def expanding(self, step: int | str):
        """Iterator of ``(start, end, LinkGraph)`` expanding windows —
        window start pinned to the timeline start (time.rs:63-77,199-202);
        ``step`` may be a calendar interval string."""
        from linkgraph.intervals import expanding_grid

        start, end = self.time_bounds()
        if start is None:
            return
        for ws, we in expanding_grid(start, end, step):
            yield (ws, we, self.window(ws, we))

    def materialize(self) -> "LinkGraph":
        """Cache the event edge table and the hot derived tables, filled from
        one pass over the input.

        ``edges_t`` is cached first — for a graph built by
        :meth:`from_source_table` it is the output of the sha-verified
        mining pass — and ``edge_ids()`` and ``ids()`` are forced from it,
        so the source is mined once per graph: every algorithm, and every
        view (``window``, ``layer``, ...) taken from this graph, reads the
        cache.  ``undirected_edge_ids()`` is persisted too but filled by its
        first user, so a pipeline that never needs it skips its shuffle.

        Caching contract: the graph owns these caches for its lifetime.
        Algorithms read them and may cache frames of their own, but never
        unpersist a frame they did not persist themselves (they take shared
        tables through :func:`persist_once`).
        """
        self.edges_t.persist()
        for df in (self.ids(), self.edge_ids(), self.undirected_edge_ids()):
            df.persist()
        self.edge_ids().count()
        self.ids().count()
        return self
