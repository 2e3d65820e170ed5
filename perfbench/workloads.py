"""The two benchmark workloads.

Each workload has

* ``prepare(ctx)``: build and materialize the inputs (``setup.inputs_s``);
* ``warm(ctx)``: one untimed round on the same inputs (``setup.warm_s``),
  which compiles the plan shapes the timed rounds use, at their sizes;
* ``run_round(ctx)``: the fixed, seed-determined op sequence, one span
  per public call; returns the outputs to check;
* ``check(ctx, outputs)``: one message per failed op, run after timing.

``SCALES`` lists the input scales a workload reads, so the launcher can
build them before the measured process starts.

The op sequence is identical in every round of a run, so rounds are
repeats. A round of either workload takes 12-17 s on 4 cores.
"""

from __future__ import annotations

import random
import time

import checks
import gen

# Catalog entries per layer; the layer is the module owning the function.
ITERATIVE = [
    ("graph_queries", "graph_pagerank_incremental"),
    ("graph_queries", "graph_cc_incremental"),
    ("graph_incremental_queries", "graph_mis_incremental"),
]
FLAG_COLUMNS = ("independent", "maximal", "converged")

# Input scale (0.1 = the sf0.1 row counts) and workload shapes.
ITER_SCALE = 0.001
API_GRID, API_HOPS, API_WRITES = 200, 4, 50


class Ctx:
    """What a workload needs: session, tracer, seed and data paths."""

    def __init__(self, spark, tracer, seed: int, data_root: str, cache_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.data_root = data_root
        self.cache_dir = cache_dir
        self.rng = random.Random(seed)

    def data(self, scale: float) -> str:
        return gen.ensure(self.data_root, scale, self.seed)


def _catalog_failures(ctx: Ctx, data_dir: str, name: str, pdf) -> list[str]:
    """Oracle differential plus the entry's own invariant flags."""
    from graphdatabases_spark.relational import oracle_sql

    want = checks.oracle_frame(ctx.cache_dir, data_dir, name, oracle_sql()[name])
    errs = []
    diff = checks.compare(pdf, want)
    if diff:
        errs.append(f"{name}: {diff}")
    for col in pdf.columns:
        if col in FLAG_COLUMNS or col.endswith("_converged"):
            if not bool(pdf[col].all()):
                errs.append(f"{name}: flag {col} is false")
    return errs


# --- graph_iterative --------------------------------------------------------


class GraphIterative:
    """The job-bound vertex-centric loops (eager driver loops, then count)."""

    SCALES = (ITER_SCALE,)

    def prepare(self, ctx: Ctx) -> None:
        self.dir = ctx.data(ITER_SCALE)

    def warm(self, ctx: Ctx) -> None:
        self.run_round(ctx)

    def run_round(self, ctx: Ctx) -> list:
        from graphdatabases_spark.relational import queries

        qs, out = queries(), []
        for layer, name in ITERATIVE:
            with ctx.tracer.span(f"{layer}.{name}") as rec:
                t0 = time.perf_counter()
                df = qs[name](ctx.spark, self.dir)
                rec["build_s"] = time.perf_counter() - t0
                df.count()
                rec["action_s"] = time.perf_counter() - t0 - rec["build_s"]
            out.append((name, df))
        return out

    def check(self, ctx: Ctx, outputs: list) -> list[str]:
        errs = []
        for name, df in outputs:
            errs += _catalog_failures(ctx, self.dir, name, df.toPandas())
        return errs


# --- graph_api_mixed --------------------------------------------------------


class GraphApiMixed:
    """GraphEngine calls on a fresh engine per round: a read-only phase,
    then one write session (buffered adds, flush) followed by a k-hop, a
    shortest path and lookups. The traversals after the write run the
    distributed BFS and SSP kernels. The round makes 16 engine calls that
    flush, so its last lookup hits the engine's every-16th-flush
    checkpoint."""

    SCALES = ()

    def prepare(self, ctx: Ctx) -> None:
        from graphdatabases_spark.graph import grid_graph

        n = API_GRID
        rng = ctx.rng
        self.base = grid_graph(ctx.spark, n)
        self.base.vertices.persist().count()
        self.base.edges.persist().count()
        # Read-only phase: 5 lookups, 2 k-hops and 2 shortest paths.
        self.ro_lookups = [rng.randrange(n * n) for _ in range(5)]
        self.ro_hops = [rng.randrange(n * n // 2) for _ in range(2)]
        self.ro_ssps = [self._pair(rng) for _ in range(2)]
        # Write log: new nodes, and edges among all ids.
        self.nodes = list(range(n * n, n * n + API_WRITES // 2))
        ids = n * n + len(self.nodes)
        self.edges = [(rng.randrange(ids), rng.randrange(ids))
                      for _ in range(API_WRITES - len(self.nodes))]
        # After the write: one k-hop, one shortest path, 4 lookups.
        self.rw_hop = rng.randrange(n * n // 2)
        self.rw_ssp = self._pair(rng)
        self.rw_lookups = [rng.choice(self.nodes), rng.randrange(n * n),
                           rng.choice(self.nodes), rng.randrange(n * n)]
        self.expected = self._expected()

    @staticmethod
    def _pair(rng) -> tuple[int, int]:
        """A seeded source in the upper-left quarter and the target 2 steps
        right of and 2 below it: distance 4 on the plain grid, like the
        4-hop k-hops, so every seed does the same traversal work."""
        n = API_GRID
        src = rng.randrange(n // 2) * n + rng.randrange(n // 2)
        return src, src + 2 * n + 2

    def _expected(self) -> dict:
        n = API_GRID
        adj = checks.adjacency(checks.grid_edges(n))
        known = set(range(n * n)) | set(self.nodes)  # nodes flush before edges resolve
        for a, b in self.edges:
            if a in known and b in known:
                adj.setdefault(a, []).append(b)
        return {
            "ro_hops": [checks.grid_khop_count(n, s, API_HOPS) for s in self.ro_hops],
            "ro_ssps": [checks.grid_distance(n, *p) for p in self.ro_ssps],
            "rw_hop": checks.khop_count(adj, self.rw_hop, API_HOPS),
            "rw_ssp": checks.bfs_dist(adj, self.rw_ssp[0]).get(self.rw_ssp[1]),
        }

    def warm(self, ctx: Ctx) -> None:
        # Each round starts from a fresh engine over the unchanged base
        # graph and clears the adjacency cache, so nothing carries over.
        self.run_round(ctx)

    def _lookup(self, ctx, eng, nid, out):
        with ctx.tracer.span("graph.api.lookup"):
            row = eng.get_single_node(properties={"name": f"test{nid}"})
        out.append(("lookup", None if row is None else row["id"], nid))

    @staticmethod
    def _traverse(eng, kind: str, args: tuple):
        if kind == "khop":
            return eng.get_nodes_hops(args[0], API_HOPS).count()
        rows = eng.ssp(*args).collect()
        return rows[0]["dist"] if rows else None

    def run_round(self, ctx: Ctx) -> list:
        from graphdatabases_spark.graph.api import GraphEngine
        from graphdatabases_spark.graph.traversal import _ADJ_CACHE

        _ADJ_CACHE.clear()
        out = []
        eng = GraphEngine(ctx.spark, self.base)
        exp = self.expected
        for nid in self.ro_lookups:
            self._lookup(ctx, eng, nid, out)
        ro = [("khop", (s,), w) for s, w in zip(self.ro_hops, exp["ro_hops"])]
        ro += [("ssp", p, w) for p, w in zip(self.ro_ssps, exp["ro_ssps"])]
        for kind, args, want in ro:
            with ctx.tracer.span("graph.api.traverse_read_only"):
                got = self._traverse(eng, kind, args)
            out.append((kind, got, want))
        with ctx.tracer.span("graph.api.write"):
            for nid in self.nodes:
                eng.add_node(nid, ["test"], {"name": f"test{nid}"})
            for a, b in self.edges:
                eng.add_edge(a, b, ["test"], {})
            eng.flush()
        rw = [("khop", (self.rw_hop,), exp["rw_hop"]), ("ssp", self.rw_ssp, exp["rw_ssp"])]
        for kind, args, want in rw:
            with ctx.tracer.span("graph.api.traverse_after_write"):
                got = self._traverse(eng, kind, args)
            out.append((f"{kind}_after_write", got, want))
        for nid in self.rw_lookups:
            self._lookup(ctx, eng, nid, out)
        return out

    def check(self, ctx: Ctx, outputs: list) -> list[str]:
        return [f"{op}: {got} != {want}" for op, got, want in outputs if got != want]


WORKLOADS = {
    "graph_iterative": GraphIterative,
    "graph_api_mixed": GraphApiMixed,
}
