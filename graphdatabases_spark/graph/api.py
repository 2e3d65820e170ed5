"""GraphEngine: the reference's ``GraphDriver`` API, Spark-native.

Rebuilds the six-operation abstract API (``databases.py:7-78``) on the
DataFrame model. The reference's per-call semantics are preserved where
they are semantics, and batched where they are an artifact of its
row-at-a-time client loop (SURVEY §1.2, §7 risk 1):

- ``add_node`` / ``add_edge`` buffer rows and flush as a single union +
  append — the batch reinterpretation of the reference's one-INSERT-per-
  call loop (``benchmark.py:103-122``).
- ``add_edge`` endpoint resolution (reference: Cypher cartesian ``MATCH
  (a),(b) WHERE a.id=…`` ``databases.py:102``; AQL nested ``FOR/FILTER``
  ``databases.py:200-206``) becomes a broadcast left-semi join against
  the vertex ids; edges with unresolvable endpoints are silently dropped,
  matching all three reference backends (SURVEY §2.1 quirk 3).
- Every frame the engine builds from driver-held rows (each flushed
  delta, the empty graph) comes from ``model.local_frame``: an
  Arrow-backed ``LocalRelation`` with exact Catalyst statistics. The
  ``auto`` traversal strategy trusts ``sizeInBytes``; a list-built frame
  reports Long.MaxValue through the union and the semi-joins, and would
  send every traversal after a write to the distributed kernel.
- ``get_single_node`` = conjunctive equality over the property map +
  label membership (``databases.py:111-119``). Neo4j honors the label
  argument, ArangoDB/OrientDB ignore it on reads (``databases.py:208-212,
  282-285``) — ``match_labels`` selects the behavior (default True =
  Neo4j semantics).
- ``suppress()`` = the reference's dry-run mode (``databases.py:68-78``):
  inside the context, actions short-circuit so harness loop overhead can
  be calibrated (used by ``perform_bench``, ``benchmark.py:214-219``).
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from graphdatabases_spark.graph import io as graph_io
from graphdatabases_spark.graph.model import (
    EDGE_SCHEMA,
    VERTEX_SCHEMA,
    PropertyGraph,
    local_frame,
)
from graphdatabases_spark.graph.traversal import khop, ssp


class GraphEngine:
    """Mutable facade over an immutable PropertyGraph (buffered appends)."""

    def __init__(self, spark: SparkSession, graph: PropertyGraph | None = None):
        self.spark = spark
        self.graph = graph if graph is not None else PropertyGraph.empty(spark)
        self._pending_nodes: list[tuple] = []
        self._pending_edges: list[tuple] = []
        self._suppressed = False
        self._flush_count = 0

    # --- suppression (reference dry-run mode, databases.py:68-78) ----------
    @contextmanager
    def suppress(self):
        self._suppressed = True
        try:
            yield self
        finally:
            self._suppressed = False

    # --- mutation ----------------------------------------------------------
    def add_node(
        self,
        nid: int,
        labels: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> None:
        """Reference ``add_node`` (``databases.py:11-18``). The id is kept
        as a typed column, not folded into the props map (fixes quirk 1);
        string coercion of property values happens here, the ingest
        boundary."""
        props = {str(k): str(v) for k, v in (properties or {}).items()}
        self._pending_nodes.append((int(nid), list(labels or []), props))

    def add_edge(
        self,
        src: int,
        dst: int,
        labels: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> None:
        """Reference ``add_edge`` (``databases.py:20-28``). Endpoints are
        resolved at flush time by semi-join; unresolvable edges drop."""
        props = {str(k): str(v) for k, v in (properties or {}).items()}
        self._pending_edges.append((int(src), int(dst), list(labels or []), props))

    # Collapse the vertices/edges union tree every N flushes: a long
    # interleaved add/query session otherwise grows the logical plan one
    # Union node per flush until Catalyst analysis dominates query time
    # (the same lineage-blowup the traversal kernel checkpoints away).
    _CHECKPOINT_FLUSHES = 16

    def flush(self) -> None:
        """Apply buffered mutations as one batch append per table.

        With nothing buffered this is a no-op: reads flush first, and only
        a flush that appends rows counts toward the checkpoint cadence."""
        if self._suppressed:
            self._pending_nodes.clear()
            self._pending_edges.clear()
            return
        if not (self._pending_nodes or self._pending_edges):
            return
        if self._pending_nodes:
            new_v = local_frame(self.spark, self._pending_nodes, VERTEX_SCHEMA)
            self.graph = PropertyGraph(
                self.graph.vertices.union(new_v), self.graph.edges
            )
            self._pending_nodes = []
        if self._pending_edges:
            new_e = local_frame(self.spark, self._pending_edges, EDGE_SCHEMA)
            self.graph = PropertyGraph(
                self.graph.vertices, self.graph.edges.union(self._validate_edges(new_e))
            )
            self._pending_edges = []
        self._flush_count += 1
        if self._flush_count % self._CHECKPOINT_FLUSHES == 0:
            self.graph = PropertyGraph(
                self.graph.vertices.localCheckpoint(eager=True),
                self.graph.edges.localCheckpoint(eager=True),
            )

    def _validate_edges(self, new_e: DataFrame) -> DataFrame:
        """Drop edges whose endpoints don't resolve (quirk-3 parity).

        Broadcast left-semi join on each endpoint — the Spark-native form
        of the reference's cartesian MATCH / nested-FOR lookup. At scale
        the vertex-id side is the big one, so the semi-join shuffles on
        id unless the new-edge batch is small enough to broadcast; either
        way Catalyst/AQE picks, we only declare the semantics.
        """
        ids = self.graph.vertices.select("id")
        return (
            new_e.join(ids, new_e.src == ids.id, "left_semi")
            .join(ids, new_e.dst == ids.id, "left_semi")
        )

    def add_nodes_df(self, nodes: DataFrame) -> None:
        """Bulk vectorized insert (the scale path for O1/O14)."""
        if self._suppressed:
            return
        self.graph = PropertyGraph(self.graph.vertices.union(nodes), self.graph.edges)

    def add_edges_df(self, edges: DataFrame, validate: bool = True) -> None:
        """Bulk vectorized insert with optional endpoint validation (O2/O15)."""
        if self._suppressed:
            return
        e = self._validate_edges(edges) if validate else edges
        self.graph = PropertyGraph(self.graph.vertices, self.graph.edges.union(e))

    def merge_nodes_df(self, nodes: DataFrame) -> None:
        """MERGE-style upsert (reference ad-hoc ``bench_test.py:24-35``):
        insert only ids not already present — left anti-join dedup."""
        if self._suppressed:
            return
        fresh = nodes.join(self.graph.vertices.select("id"), "id", "left_anti")
        self.graph = PropertyGraph(self.graph.vertices.union(fresh), self.graph.edges)

    def clear(self) -> None:
        """Reference ``clear()`` (``databases.py:149-150`` etc.)."""
        self._pending_nodes = []
        self._pending_edges = []
        self.graph = PropertyGraph.empty(self.spark)

    # --- reads -------------------------------------------------------------
    def find_nodes(
        self,
        labels: list[str] | None = None,
        properties: dict[str, str] | None = None,
        match_labels: bool = True,
    ) -> DataFrame:
        """All nodes matching conjunctive property equality (+ labels)."""
        self.flush()
        df = self.graph.vertices
        preds = []
        if match_labels:
            for lbl in labels or []:
                preds.append(F.array_contains(F.col("labels"), lbl))
        for k, v in (properties or {}).items():
            preds.append(F.element_at(F.col("props"), str(k)) == str(v))
        if preds:
            df = df.filter(reduce(lambda a, b: a & b, preds))
        return df

    def get_single_node(
        self,
        labels: list[str] | None = None,
        properties: dict[str, str] | None = None,
        match_labels: bool = True,
    ) -> Row | None:
        """Reference ``get_single_node`` (``databases.py:30-36``)."""
        if self._suppressed:
            return None
        rows = self.find_nodes(labels, properties, match_labels).limit(1).collect()
        return rows[0] if rows else None

    def get_nodes_hops(self, node_id: int, hops: int, **kw) -> DataFrame:
        """Reference ``get_nodes_hops`` (``databases.py:38-44``) → khop."""
        self.flush()
        return khop(self.graph, node_id, hops, **kw)

    def ssp(self, src: int, dst: int, **kw) -> DataFrame:
        """Reference ``ssp`` (``databases.py:46-52``) → BFS shortest path."""
        self.flush()
        return ssp(self.graph, src, dst, **kw)

    # --- bulk load ---------------------------------------------------------
    def load_database(self, path_nodes: str, path_edges: str) -> None:
        """Reference ``load_database`` (``databases.py:54-60``) as one job."""
        if self._suppressed:
            return
        loaded = graph_io.load_graph_files(self.spark, path_nodes, path_edges)
        self.graph = PropertyGraph(
            self.graph.vertices.union(loaded.vertices),
            self.graph.edges.union(loaded.edges),
        )
