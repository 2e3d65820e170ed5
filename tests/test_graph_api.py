"""GraphEngine API parity tests (SURVEY §2.1 semantics + quirks)."""

from __future__ import annotations

import ast
import inspect

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graphdatabases_spark.graph import algorithms as algorithms_module
from graphdatabases_spark.graph import api as api_module
from graphdatabases_spark.graph import model as model_module
from graphdatabases_spark.graph.api import GraphEngine
from graphdatabases_spark.graph import io as graph_io
from graphdatabases_spark.graph.generators import chain_graph, grid_graph
from graphdatabases_spark.graph.model import EDGE_SCHEMA, VERTEX_SCHEMA, local_frame
from graphdatabases_spark.graph.traversal import (
    _STATS_LOCAL_BYTES,
    _decide_strategy,
    _plan_size_bytes,
)
from graphdatabases_spark.harness.workloads import create_grid_graph


@pytest.fixture()
def engine(spark):
    return GraphEngine(spark)


class TestMutation:
    def test_add_node_and_lookup(self, engine):
        engine.add_node(1, ["person"], {"name": "alice"})
        engine.add_node(2, ["person"], {"name": "bob"})
        row = engine.get_single_node(["person"], {"name": "alice"})
        assert row is not None and row["id"] == 1

    def test_property_values_coerced_to_string(self, engine):
        # Reference degrades everything to strings at the boundary
        # (databases.py:96,192); we do the same, deterministically.
        engine.add_node(1, [], {"age": 30})
        row = engine.get_single_node(properties={"age": "30"})
        assert row is not None

    def test_add_edge_endpoint_validation_drops_dangling(self, engine):
        # Quirk 3: edges with unresolvable endpoints silently drop.
        engine.add_node(1)
        engine.add_node(2)
        engine.add_edge(1, 2)
        engine.add_edge(1, 99)  # dangling dst
        engine.add_edge(98, 2)  # dangling src
        engine.flush()
        assert engine.graph.num_edges() == 1

    def test_merge_upsert(self, engine, spark):
        engine.add_node(1, [], {"name": "old"})
        engine.flush()
        nodes = spark.createDataFrame(
            [(1, [], {"name": "new"}), (2, [], {"name": "n2"})],
            "id long, labels array<string>, props map<string,string>",
        )
        engine.merge_nodes_df(nodes)
        assert engine.graph.num_vertices() == 2
        # id 1 kept its original props (MERGE = insert-if-absent).
        row = engine.get_single_node(properties={"name": "old"})
        assert row is not None and row["id"] == 1
        # MERGE is idempotent: replaying the same frame changes nothing.
        engine.merge_nodes_df(nodes)
        assert engine.graph.num_vertices() == 2

    def test_clear(self, engine):
        engine.add_node(1)
        engine.add_edge(1, 1)
        engine.flush()
        engine.clear()
        assert engine.graph.num_vertices() == 0
        assert engine.graph.num_edges() == 0

    def test_many_flushes_keep_plan_bounded(self, engine):
        """A long interleaved add/flush session must not grow the logical
        plan one Union per flush — the periodic checkpoint collapses it."""
        for i in range(2 * engine._CHECKPOINT_FLUSHES + 3):
            engine.add_node(1000 + i)
            if i > 0:
                engine.add_edge(1000 + i - 1, 1000 + i)
            engine.flush()
        n = 2 * engine._CHECKPOINT_FLUSHES + 3
        assert engine.graph.num_vertices() == n
        assert engine.graph.num_edges() == n - 1
        plan = engine.graph.vertices._jdf.queryExecution().logical().toString()
        # Bounded: far fewer Union nodes than flushes.
        assert plan.count("Union") <= engine._CHECKPOINT_FLUSHES, plan.count("Union")

    def test_suppress_short_circuits(self, engine):
        with engine.suppress():
            engine.add_node(1)
            engine.flush()
            assert engine.get_single_node(properties={}) is None
        assert engine.graph.num_vertices() == 0


class TestReads:
    def test_labels_honored_vs_ignored(self, engine):
        # Quirk: Neo4j honors label filters on read, Arango/Orient ignore
        # them (databases.py:208-212). match_labels toggles parity.
        engine.add_node(1, ["a"], {"k": "v"})
        engine.add_node(2, ["b"], {"k": "v"})
        assert engine.find_nodes(["a"], {"k": "v"}).count() == 1
        assert engine.find_nodes(["a"], {"k": "v"}, match_labels=False).count() == 2

    def test_traversal_through_engine(self, spark):
        engine = GraphEngine(spark, chain_graph(spark, 6))
        assert engine.get_nodes_hops(1, 3, strategy="local").count() == 3
        rows = engine.ssp(0, 4, strategy="local").collect()
        assert rows[0]["dist"] == 4


def _grid_engine(spark):
    return GraphEngine(spark, grid_graph(spark, 20))


def _fresh_engine(spark):
    return GraphEngine(spark)


def _cleared_engine(spark):
    engine = GraphEngine(spark, grid_graph(spark, 20))
    engine.clear()
    return engine


def _created_grid_engine(spark):
    engine = GraphEngine(spark)
    create_grid_graph(engine, 20)
    return engine


def _khop_ids(adj: dict, src: int, hops: int) -> set:
    """Pure-Python k-hop: nodes at 1..hops; the root only via a cycle."""
    reached, frontier = set(), {src}
    for _ in range(hops):
        frontier = {v for u in frontier for v in adj.get(u, ())} - reached
        reached |= frontier
    return reached


def _bfs_dist(adj: dict, src: int) -> dict:
    dist, frontier = {src: 0}, [src]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    return dist


class TestExactStats:
    """``auto`` picks its traversal strategy from Catalyst ``sizeInBytes``,
    so every engine state — before and after a write — must report the
    true, small size and stay on the local path."""

    @staticmethod
    def _assert_local(engine):
        pairs = engine.graph.edge_pairs()
        size = _plan_size_bytes(pairs)
        assert size is not None and size <= _STATS_LOCAL_BYTES, size
        assert _decide_strategy(pairs, "auto") == "local"

    @pytest.mark.parametrize(
        "make", [_grid_engine, _fresh_engine, _cleared_engine, _created_grid_engine]
    )
    def test_write_keeps_auto_local_and_exact(self, spark, make):
        engine = make(spark)
        self._assert_local(engine)
        base_ids = {r["id"] for r in engine.graph.vertices.select("id").collect()}
        base_edges = [(r["src"], r["dst"]) for r in engine.graph.edge_pairs().collect()]
        writes = [(399, 400), (400, 401), (401, 0), (402, 401), (401, 999), (998, 400)]
        for nid in (400, 401, 402):
            engine.add_node(nid, ["test"], {"name": f"test{nid}"})
        for a, b in writes:
            engine.add_edge(a, b)
        engine.flush()
        self._assert_local(engine)

        known = base_ids | {400, 401, 402}
        kept = [(a, b) for a, b in writes if a in known and b in known]
        assert (401, 999) not in kept  # the dangling edge is dropped
        assert engine.graph.num_edges() == len(base_edges) + len(kept)
        adj = {}
        for a, b in base_edges + kept:
            adj.setdefault(a, []).append(b)

        got = {r["id"] for r in engine.get_nodes_hops(402, 30).collect()}
        assert got == _khop_ids(adj, 402, 30)
        dist = _bfs_dist(adj, 402)
        dst = max(dist, key=lambda v: (dist[v], -v))
        rows = engine.ssp(402, dst).collect()
        assert rows[0]["dist"] == dist[dst]
        path = rows[0]["path"]
        assert path[0] == 402 and path[-1] == dst and len(path) == dist[dst] + 1
        assert all(b in adj.get(a, ()) for a, b in zip(path, path[1:]))

    def test_reads_with_nothing_pending_do_not_flush(self, spark):
        engine = GraphEngine(spark, chain_graph(spark, 6))
        for _ in range(2 * engine._CHECKPOINT_FLUSHES):
            engine.find_nodes(properties={"name": "test1"})
            engine.get_nodes_hops(1, 2)
            engine.ssp(0, 3)
        assert engine._flush_count == 0
        engine.add_node(6)
        engine.flush()
        engine.flush()
        assert engine._flush_count == 1

    @pytest.mark.parametrize("n", [0, 1, 50])
    def test_local_frame_is_exact_local_relation(self, spark, n):
        vrows = [(i, ["a", "b"][: i % 3], {"k": str(i), "j": "x"}) for i in range(n)]
        if n:
            vrows[0] = (0, None, None)
        erows = [(i, i + 1, ["e"], {}) for i in range(n)]
        for rows, schema in ((vrows, VERTEX_SCHEMA), (erows, EDGE_SCHEMA)):
            df = local_frame(spark, rows, schema)
            plan = df._jdf.queryExecution().optimizedPlan()
            assert plan.getClass().getSimpleName() == "LocalRelation"
            assert _plan_size_bytes(df) <= 1024 * max(n, 1)
            assert df.schema == schema
            assert [tuple(r) for r in df.collect()] == rows


def test_driver_frames_come_from_local_frame(spark):
    """api.py and model.py call ``createDataFrame`` only inside
    ``local_frame``: a frame built from a Python list reports
    Long.MaxValue and silently flips ``auto`` to distributed. The
    traversal kernels and every ``relational/graph_*.py`` module may
    also hand it a pandas or Arrow frame (a ``pd.DataFrame(...)``/
    ``pa.table(...)`` call, possibly under a conditional expression),
    but never anything that may be a list. No function of
    ``algorithms.py`` calls it, and the local ``weighted_sssp`` result
    reports its exact size."""
    import importlib
    import pkgutil

    from graphdatabases_spark import relational
    from graphdatabases_spark.graph import traversal

    def calls(node):
        return [
            c for c in ast.walk(node)
            if isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == "createDataFrame"
        ]

    for mod in (api_module, model_module):
        tree = ast.parse(inspect.getsource(mod))
        helpers = [
            f for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
        ]
        allowed = {id(c) for f in helpers for c in calls(f)}
        stray = [c.lineno for c in calls(tree) if id(c) not in allowed]
        assert not stray, f"{mod.__name__}: createDataFrame at lines {stray}"

    def frame_ctor(arg) -> bool:
        if isinstance(arg, ast.IfExp):
            return frame_ctor(arg.body) and frame_ctor(arg.orelse)
        return (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Attribute)
            and arg.func.attr in ("DataFrame", "table")
        )

    graph_modules = [
        importlib.import_module(f"{relational.__name__}.{m.name}")
        for m in pkgutil.iter_modules(relational.__path__)
        if m.name.startswith("graph_")
    ]
    assert len(graph_modules) >= 8
    for mod in [traversal, *graph_modules]:
        tree = ast.parse(inspect.getsource(mod))
        stray = [
            c.lineno for c in calls(tree) if not (c.args and frame_ctor(c.args[0]))
        ]
        assert not stray, f"{mod.__name__}: createDataFrame at lines {stray}"

    # The whole-graph kernels build every driver-side frame (local
    # results, seed and start frames) through local_frame or the
    # exact-size result helpers, never a createDataFrame of their own.
    tree = ast.parse(inspect.getsource(algorithms_module))
    stray = [c.lineno for c in calls(tree)]
    assert not stray, f"algorithms: createDataFrame at lines {stray}"
    # A finite size lets an ``auto`` kernel that consumes the result
    # still choose its local path.
    edges = local_frame(
        spark,
        [(0, 1, 2), (1, 2, 2), (0, 2, 5)],
        StructType.fromDDL("src BIGINT, dst BIGINT, w BIGINT"),
    )
    out = algorithms_module.weighted_sssp(edges, 0, strategy="local")
    assert sorted(tuple(r) for r in out.collect()) == [(0, 0), (1, 2), (2, 4)]
    assert 0 < _plan_size_bytes(out) <= _STATS_LOCAL_BYTES


class TestIngest:
    def test_tsv_roundtrip(self, engine, tmp_path, spark):
        nodes_f = tmp_path / "nodes.txt"
        edges_f = tmp_path / "edges.tsv"
        nodes_f.write_text("1\n2\n3\n")
        edges_f.write_text("# comment line\n1\t2\n2\t3\n")
        engine.load_database(str(nodes_f), str(edges_f))
        assert engine.graph.num_vertices() == 3
        assert engine.graph.num_edges() == 2
        # Reference default labels/props (databases.py:133,137).
        row = engine.graph.vertices.first()
        assert row["labels"] == ["test"] and row["props"] == {"test": "test"}

    def test_derive_nodes_from_edges(self, spark, tmp_path):
        edges_f = tmp_path / "edges.tsv"
        edges_f.write_text("# c\n1\t2\n2\t3\n3\t1\n")
        edges = graph_io.read_edge_tsv(spark, str(edges_f))
        ids = sorted(
            r["id"] for r in graph_io.derive_nodes_from_edges(edges).collect()
        )
        assert ids == [1, 2, 3]

    def test_parquet_graph_roundtrip(self, spark, tmp_path):
        g = chain_graph(spark, 10)
        graph_io.write_graph(g, str(tmp_path / "g"), partitions=2, mirror_by_dst=True)
        g2 = graph_io.read_graph(spark, str(tmp_path / "g"))
        assert g2.num_vertices() == 10 and g2.num_edges() == 9
        mirror = spark.read.parquet(str(tmp_path / "g" / "edges_by_dst"))
        assert mirror.count() == 9


def test_degrees(spark):
    g = chain_graph(spark, 5)
    out_d = {r["id"]: r["out_degree"] for r in g.out_degrees().collect()}
    assert out_d == {0: 1, 1: 1, 2: 1, 3: 1}
    deg = {r["id"]: r["degree"] for r in g.degrees().collect()}
    assert deg == {0: 1, 1: 2, 2: 2, 3: 2, 4: 1}
