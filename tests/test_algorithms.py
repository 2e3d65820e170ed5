"""Analytic golden tests for graph algorithms on deterministic graphs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from graphdatabases_spark.graph.algorithms import (
    kcore,
    connected_components,
    label_propagation,
    pagerank,
    pagerank_units,
    personalized_pagerank,
    personalized_pagerank_batch,
    personalized_pagerank_batch_units,
    triangle_count,
    weighted_sssp,
)
from graphdatabases_spark.graph.generators import chain_graph, grid_graph, ring_graph


class TestPageRank:
    def test_two_cycle_uniform(self, spark):
        # 0→1→0: perfectly symmetric, every iteration keeps rank = 1/2.
        g = ring_graph(spark, 2, skips=(1,))
        ranks = {r["id"]: r["rank"] for r in pagerank(g, num_iters=5).collect()}
        assert ranks[0] == pytest.approx(0.5)
        assert ranks[1] == pytest.approx(0.5)

    def test_ring_uniform(self, spark):
        # Any rotation-symmetric graph stays uniform.
        n = 10
        g = ring_graph(spark, n, skips=(1,))
        ranks = [r["rank"] for r in pagerank(g, num_iters=8).collect()]
        for v in ranks:
            assert v == pytest.approx(1.0 / n)

    def test_chain_closed_form_one_iter(self, spark):
        # chain 0→1→2, one iteration, d=0.85:
        # r1(0) = 0.05, r1(1) = 0.05 + 0.85/3, r1(2) = same.
        g = chain_graph(spark, 3)
        ranks = {r["id"]: r["rank"] for r in pagerank(g, num_iters=1).collect()}
        assert ranks[0] == pytest.approx(0.15 / 3)
        assert ranks[1] == pytest.approx(0.15 / 3 + 0.85 / 3)
        assert ranks[2] == pytest.approx(0.15 / 3 + 0.85 / 3)

    def test_mass_conservation_no_dangling(self, spark):
        # Ring has no dangling nodes → total rank stays 1.
        g = ring_graph(spark, 7, skips=(1,))
        total = sum(r["rank"] for r in pagerank(g, num_iters=10).collect())
        assert total == pytest.approx(1.0)


class TestConnectedComponents:
    def test_single_component_grid(self, spark):
        g = grid_graph(spark, 6)
        comps = {r["comp"] for r in connected_components(g).collect()}
        assert comps == {0}

    def test_disjoint_chains(self, spark):
        # Two chains: 0-4 and 5-9 (edges 0..3→+1 and 5..8→+1).
        ids = spark.range(10).select(F.col("id"))
        pairs = (
            spark.range(9)
            .filter(F.col("id") != 4)
            .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        )
        from graphdatabases_spark.graph.model import PropertyGraph

        g = PropertyGraph(
            ids.select("id", F.array().cast("array<string>").alias("labels"),
                       F.create_map().cast("map<string,string>").alias("props")),
            pairs.select("src", "dst", F.array().cast("array<string>").alias("labels"),
                         F.create_map().cast("map<string,string>").alias("props")),
        )
        rows = connected_components(g).collect()
        comp = {r["id"]: r["comp"] for r in rows}
        assert all(comp[i] == 0 for i in range(5))
        assert all(comp[i] == 5 for i in range(5, 10))


class TestTriangles:
    def test_ring_with_skips(self, spark):
        # ring(n, skips=(1,2)): triangles (i, i+1, i+2) → exactly n.
        n = 30
        g = ring_graph(spark, n, skips=(1, 2))
        assert triangle_count(g) == n

    def test_chain_no_triangles(self, spark):
        assert triangle_count(chain_graph(spark, 10)) == 0

    def test_direction_independence(self, spark):
        # Triangle 0→1, 1→2, 2→0 (directed cycle) is one undirected triangle.
        g = ring_graph(spark, 3, skips=(1,))
        assert triangle_count(g) == 1


class TestLabelPropagation:
    def test_disjoint_chains_converge_per_component(self, spark):
        from graphdatabases_spark.graph.model import PropertyGraph

        ids = spark.range(6).select(F.col("id"))
        pairs = (
            spark.range(5)
            .filter(F.col("id") != 2)
            .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        )
        g = PropertyGraph(
            ids.select("id", F.array().cast("array<string>").alias("labels"),
                       F.create_map().cast("map<string,string>").alias("props")),
            pairs.select("src", "dst", F.array().cast("array<string>").alias("labels"),
                         F.create_map().cast("map<string,string>").alias("props")),
        )
        rows = label_propagation(g, num_iters=6).collect()
        labels = {r["id"]: r["label"] for r in rows}
        # Labels never cross the component boundary.
        assert set(labels[i] for i in range(3)) <= {0, 1, 2}
        assert set(labels[i] for i in range(3, 6)) <= {3, 4, 5}

    @pytest.mark.parametrize("iters", [1, 2, 3])
    def test_rebuild_freeze_precondition_with_isolated_vertices(
        self, spark, iters
    ):
        """Guard for the round-9 single-reference-lineage rebuild
        (graph/algorithms.py label_propagation): the per-round
        ``coalesce(new_label, id)`` is exact ONLY under the invariant
        that ``best`` covers exactly the non-isolated vertex set —
        every vertex with an incident edge appears in every round's
        neighbor agg, and isolated vertices never leave their initial
        label.  A future change that filters ``counts``/``best``
        (dropping low-count labels, degree thresholds) would silently
        RESET labels to the initial id instead of freezing the previous
        round's value.  This pins, per round count and per strategy:
        totality (output covers the full vertex relation, isolated
        vertices included), the isolated-freeze (label == own id), and
        local/distributed equality on a graph that HAS truly isolated
        vertices — the local path computes the same recurrence
        independently, so any filtered-best regression diverges here.
        (Round-9 ADVICE item.)"""
        from graphdatabases_spark.graph.model import PropertyGraph

        # Triangle 0-1-2, chain 3-4, isolated vertices 5 and 6.
        ids = spark.range(7).select("id")
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (3, 4)], "src long, dst long"
        )
        empty_l = F.array().cast("array<string>").alias("labels")
        empty_p = F.create_map().cast("map<string,string>").alias("props")
        g = PropertyGraph(
            ids.select("id", empty_l, empty_p),
            edges.select("src", "dst", empty_l, empty_p),
        )
        out = {}
        for strat in ("local", "distributed"):
            rows = label_propagation(
                g, num_iters=iters, strategy=strat
            ).collect()
            labels = {r["id"]: r["label"] for r in rows}
            assert set(labels) == set(range(7)), strat  # totality
            assert labels[5] == 5 and labels[6] == 6, strat  # freeze
            # Non-isolated labels stay inside their own component.
            assert set(labels[i] for i in (0, 1, 2)) <= {0, 1, 2}, strat
            assert set(labels[i] for i in (3, 4)) <= {3, 4}, strat
            out[strat] = sorted(labels.items())
        assert out["local"] == out["distributed"]


class TestLocalDistributedEquivalence:
    """The adaptive local fast path must return exactly what the
    distributed loop returns (same recurrence, same tie-breaks)."""

    @pytest.fixture(scope="class")
    def mixed_graph(self, spark):
        # Ring with chords + a disjoint chain + an isolated-ish tail:
        # cycles, ties, multi-component — the shapes that expose
        # divergence between the two implementations.
        ring = ring_graph(spark, 12, skips=(1, 3))
        chain = chain_graph(spark, 5)
        shifted = chain.edges.select(
            (F.col("src") + 100).alias("src"),
            (F.col("dst") + 100).alias("dst"),
            "labels",
            "props",
        )
        from graphdatabases_spark.graph.model import PropertyGraph

        verts = ring.vertices.union(
            chain.vertices.select(
                (F.col("id") + 100).alias("id"), "labels", "props"
            )
        )
        return PropertyGraph(verts, ring.edges.union(shifted))

    def _pairs(self, df):
        return sorted(tuple(r) for r in df.collect())

    def test_pagerank(self, mixed_graph):
        loc = pagerank(mixed_graph, num_iters=6, strategy="local")
        dist = pagerank(mixed_graph, num_iters=6, strategy="distributed")
        lp, dp = self._pairs(loc), self._pairs(dist)
        assert [i for i, _ in lp] == [i for i, _ in dp]
        for (_, a), (_, b) in zip(lp, dp):
            assert a == pytest.approx(b, abs=1e-12)

    def test_connected_components(self, mixed_graph):
        loc = self._pairs(connected_components(mixed_graph, strategy="local"))
        dist = self._pairs(
            connected_components(mixed_graph, strategy="distributed")
        )
        assert loc == dist

    @pytest.mark.parametrize("seed", range(4))
    def test_min_labels_equal_union_find(self, seed):
        """The vectorised min-label solve against a Python union-find on
        random multigraphs with self-loops, plus a chain whose ids fall
        along it (the longest hook-and-shortcut path)."""
        import numpy as np

        from graphdatabases_spark.graph.algorithms import _min_labels

        rng = np.random.default_rng(seed)
        n = 300
        src, dst = rng.integers(0, n, 250), rng.integers(0, n, 250)
        chain = np.arange(n - 1, 200, -1)
        src, dst = np.r_[src, chain[:-1]], np.r_[dst, chain[1:]]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for u, v in zip(src.tolist(), dst.tolist()):
            ru, rv = find(u), find(v)
            parent[max(ru, rv)] = min(ru, rv)
        assert _min_labels(src, dst, n).tolist() == [find(v) for v in range(n)]

    def test_label_propagation(self, mixed_graph):
        loc = self._pairs(
            label_propagation(mixed_graph, num_iters=4, strategy="local")
        )
        dist = self._pairs(
            label_propagation(mixed_graph, num_iters=4, strategy="distributed")
        )
        assert loc == dist

    def test_triangle_count(self, mixed_graph):
        assert triangle_count(mixed_graph, strategy="local") == triangle_count(
            mixed_graph, strategy="distributed"
        )


class TestKCore:
    def test_chain_two_core_empty(self, spark):
        # Peeling a path graph cascades from both ends: no 2-core.
        g = chain_graph(spark, 8)
        assert kcore(g, k=2).count() == 0

    def test_ring_is_its_own_two_core(self, spark):
        # Every ring node has undirected degree 2 → nothing peels.
        g = ring_graph(spark, 9, skips=(1,))
        rows = sorted((r["id"], r["core_degree"]) for r in kcore(g, k=2).collect())
        assert rows == [(i, 2) for i in range(9)]

    def test_ring_with_tail_peels_tail(self, spark):
        # Ring plus a pendant path: the tail unravels, the ring stays.
        ring = ring_graph(spark, 6, skips=(1,))
        tail = spark.createDataFrame(
            [(0, 100), (100, 101), (101, 102)], "src long, dst long"
        )
        edges = ring.edges.select("src", "dst").union(tail)
        ids = {r["id"] for r in kcore(edges, k=2).collect()}
        assert ids == set(range(6))

    def test_min_degree_invariant_and_local_distributed_equal(self, spark):
        ring = ring_graph(spark, 12, skips=(1, 3))
        tail = spark.createDataFrame(
            [(0, 200), (200, 201)], "src long, dst long"
        )
        edges = ring.edges.select("src", "dst").union(tail)
        loc = sorted(tuple(r) for r in kcore(edges, k=3, strategy="local").collect())
        dist = sorted(
            tuple(r) for r in kcore(edges, k=3, strategy="distributed").collect()
        )
        assert loc == dist
        # Every surviving node keeps >= k neighbors inside the core.
        assert loc, "3-core of the chorded ring must be non-empty"
        for _, d in loc:
            assert d >= 3


class TestStrictMaxIters:
    """strict=True turns max_iters exhaustion from a RuntimeWarning into
    a raise so a non-fixpoint result can never be consumed silently
    (VERDICT r4 directive 8)."""

    def _long_chain(self, spark, n=12):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src long, dst long"
        )

    def test_kcore_strict_raises_on_exhaustion(self, spark):
        # A 12-link chain's 2-core peels from both ends: max_iters=1
        # cannot reach the (empty) fixpoint.
        edges = self._long_chain(spark)
        with pytest.raises(RuntimeError, match="max_iters=1 exhausted"):
            kcore(edges, k=2, max_iters=1, strategy="distributed", strict=True)

    def test_kcore_default_warns_not_raises(self, spark):
        edges = self._long_chain(spark)
        with pytest.warns(RuntimeWarning, match="max_iters=1 exhausted"):
            out = kcore(edges, k=2, max_iters=1, strategy="distributed")
        assert out.count() > 0  # partially-peeled result still returned

    def test_cc_strict_raises_on_exhaustion(self, spark):
        # Min-id propagation over a 12-link chain needs ~12 rounds.
        edges = self._long_chain(spark)
        with pytest.raises(RuntimeError, match="max_iters=2 exhausted"):
            connected_components(
                edges, max_iters=2, strategy="distributed", strict=True
            )

    def test_cc_default_warns_and_converged_run_is_silent(self, spark):
        edges = self._long_chain(spark)
        with pytest.warns(RuntimeWarning, match="components may be split"):
            connected_components(edges, max_iters=2, strategy="distributed")
        import warnings as _w

        with _w.catch_warnings():
            _w.simplefilter("error")  # converged run must not warn
            comp = connected_components(
                edges, max_iters=50, strategy="distributed", strict=True
            )
        assert {r["comp"] for r in comp.collect()} == {0}

    @pytest.mark.parametrize(
        "kernel", ["kcore", "connected_components", "weighted_sssp"]
    )
    def test_exhaustion_warns_and_strict_raises(self, spark, kernel):
        """Every fixpoint kernel reports an exhausted ``max_iters`` the
        same way, through the one superstep driver: a RuntimeWarning
        naming the cap and the fixpoint (the partial result is still
        returned), or a RuntimeError under ``strict`` that releases every
        cache of the call."""
        import warnings as _w

        chain = self._long_chain(spark)
        # 5-node weighted chain: 4 relaxation rounds needed; cap at 2.
        wchain = spark.createDataFrame(
            [(i, i + 1, 1) for i in range(4)], "src long, dst long, w long"
        )
        run, cap, fragment = {
            "kcore": (
                lambda **kw: kcore(chain, k=2, max_iters=1, **kw),
                1,
                "partially-peeled",
            ),
            "connected_components": (
                lambda **kw: connected_components(chain, max_iters=2, **kw),
                2,
                "components may be split",
            ),
            "weighted_sssp": (
                lambda **kw: weighted_sssp(wchain, src=0, max_iters=2, **kw),
                2,
                "over-estimates",
            ),
        }[kernel]
        # Strict first: the edge frames are fresh, so none of the caches
        # the call persists can be an earlier call's.
        before = _persisted_rdd_ids(spark)
        with pytest.raises(RuntimeError, match=f"max_iters={cap} exhausted") as err:
            run(strategy="distributed", strict=True)
        assert "fixpoint" in str(err.value) and fragment in str(err.value)
        assert _persisted_rdd_ids(spark) - before == set()
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            rows = run(strategy="distributed").collect()
        assert rows  # the partial result is still returned
        msgs = [str(c.message) for c in caught if c.category is RuntimeWarning]
        assert len(msgs) == 1, msgs
        assert f"max_iters={cap} exhausted" in msgs[0]
        assert "fixpoint" in msgs[0] and fragment in msgs[0]


def _persisted_rdd_ids(spark) -> set[int]:
    """Ids of the persisted RDDs, local checkpoints included (their
    blocks are registered as persisted too)."""
    return {
        int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def _checkpoints_read_by(df) -> set[int]:
    """Ids of the local checkpoints that ``df``'s plan scans."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    ids = set()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(int(leaf.rdd().id()))
    return ids


class TestLineageIndependence:
    """The superstep driver's release contract, on each of the nine
    distributed kernels: a returned frame never reads a cache the kernel
    released (it collects the same rows after ``clearCache``), and
    nothing the kernel persisted outlives the call but the checkpoint
    the result reads: no cache, no superseded round's checkpoint (after
    a ``strict`` raise, nothing at all: ``TestStrictMaxIters``)."""

    @pytest.fixture()
    def edges(self, spark):
        # A triangle with a tail and a separate pair: two components
        # and a two-round peel. A fresh frame per case, so no case can
        # reuse a cache that an earlier case left behind.
        rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 6)]
        return spark.createDataFrame(
            [(s, d, (3 * s + d) % 4) for s, d in rows],
            "src long, dst long, w long",
        )

    _KERNELS = {
        "pagerank": lambda e: pagerank(e, num_iters=3, strategy="distributed"),
        "personalized_pagerank": lambda e: personalized_pagerank(
            e, [0, 5], num_iters=3, strategy="distributed"
        ),
        "personalized_pagerank_batch": lambda e: personalized_pagerank_batch(
            e, [0, 5], num_iters=3, strategy="distributed"
        ),
        "personalized_pagerank_batch_units": (
            lambda e: personalized_pagerank_batch_units(e, [0, 5], num_iters=3)
        ),
        "pagerank_units": lambda e: pagerank_units(
            e, num_iters=3, strategy="distributed"
        ),
        "connected_components": lambda e: connected_components(
            e, strategy="distributed"
        ),
        "label_propagation": lambda e: label_propagation(
            e, num_iters=3, strategy="distributed"
        ),
        "kcore": lambda e: kcore(e, k=2, strategy="distributed"),
        "weighted_sssp": lambda e: weighted_sssp(e, 0, strategy="distributed"),
    }

    def test_superseded_round_checkpoints_are_released(self, spark):
        """Nine fixed rounds checkpoint at rounds 4 and 8 and once more
        at the end: only the returned checkpoint stays persisted."""
        from graphdatabases_spark.graph.algorithms import _supersteps

        before = _persisted_rdd_ids(spark)
        out = _supersteps(
            spark.range(3), lambda df, _: df.select((F.col("id") + 1).alias("id")), 9
        )
        assert _persisted_rdd_ids(spark) - before == _checkpoints_read_by(out)
        assert sorted(r.id for r in out.collect()) == [9, 10, 11]

    @pytest.mark.parametrize("kernel", sorted(_KERNELS))
    def test_result_survives_clear_cache_and_nothing_leaks(
        self, spark, edges, kernel
    ):
        before = _persisted_rdd_ids(spark)
        out = self._KERNELS[kernel](edges)
        assert _persisted_rdd_ids(spark) - before <= _checkpoints_read_by(out)
        first = sorted(tuple(r) for r in out.collect())
        assert first
        spark.catalog.clearCache()
        assert sorted(tuple(r) for r in out.collect()) == first


class TestWeightedSssp:
    """weighted_sssp: min-plus relaxation vs driver Dijkstra, plus the
    guard-rail contracts."""

    def _wedges(self, spark):
        # Two routes 0->3: direct hop w=10 vs detour 0->1->2->3 w=1+1+1,
        # plus a longer-hop cheaper path needing >BFS-depth rounds.
        rows = [
            (0, 3, 10),
            (0, 1, 1),
            (1, 2, 1),
            (2, 3, 1),
            (3, 4, 2),
            (0, 4, 99),
        ]
        return spark.createDataFrame(rows, "src long, dst long, w long")

    def test_detour_beats_direct_edge(self, spark):
        from graphdatabases_spark.graph.algorithms import weighted_sssp

        got = {
            r["id"]: r["dist"]
            for r in weighted_sssp(
                self._wedges(spark), src=0, strategy="local"
            ).collect()
        }
        assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 5}

    def test_local_equals_distributed(self, spark):
        from graphdatabases_spark.graph.algorithms import weighted_sssp

        e = self._wedges(spark)
        loc = sorted(
            tuple(r) for r in weighted_sssp(e, src=0, strategy="local").collect()
        )
        dist = sorted(
            tuple(r)
            for r in weighted_sssp(e, src=0, strategy="distributed").collect()
        )
        assert loc == dist

    def test_negative_weights_rejected(self, spark):
        import pytest

        from graphdatabases_spark.graph.algorithms import weighted_sssp

        e = spark.createDataFrame(
            [(0, 1, -1)], "src long, dst long, w long"
        )
        with pytest.raises(ValueError, match="non-negative"):
            weighted_sssp(e, src=0)


class TestPersonalizedPagerank:
    """personalized_pagerank: restart-mass semantics + strategy parity."""

    def _graph(self, spark):
        from graphdatabases_spark.graph import grid_graph

        return grid_graph(spark, 8)

    def test_local_equals_distributed(self, spark):
        import pytest as _pt

        from graphdatabases_spark.graph.algorithms import personalized_pagerank

        g = self._graph(spark)
        loc = sorted(
            tuple(r)
            for r in personalized_pagerank(
                g, [0, 27], num_iters=5, strategy="local"
            ).collect()
        )
        dist = sorted(
            tuple(r)
            for r in personalized_pagerank(
                g, [0, 27], num_iters=5, strategy="distributed"
            ).collect()
        )
        assert [i for i, _ in loc] == [i for i, _ in dist]
        for (_, a), (_, b) in zip(loc, dist):
            assert a == _pt.approx(b, abs=1e-12)

    def test_restart_mass_and_locality(self, spark):
        """Total mass stays <= 1 (dangling decay only removes mass),
        teleport sources hold rank, and nodes unreachable from the
        sources stay at exactly 0 — the personalization plain PageRank
        cannot express (there every node gets (1-d)/N)."""
        from graphdatabases_spark.graph.algorithms import personalized_pagerank

        g = self._graph(spark)
        ranks = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(
                g, [27], num_iters=6, strategy="local"
            ).collect()
        }
        assert sum(ranks.values()) <= 1.0 + 1e-9
        assert ranks[27] > 0
        # Node 27 = (3, 3) on the 8-grid; the directed grid only walks
        # right/down, so anything above/left of the source is
        # unreachable and must hold ZERO mass.
        assert ranks[0] == 0.0 and ranks[9] == 0.0
        reachable = [v for v, r in ranks.items() if r > 0]
        assert all(v % 8 >= 3 and v // 8 >= 3 for v in reachable)

    def test_empty_sources_rejected(self, spark):
        import pytest as _pt

        from graphdatabases_spark.graph.algorithms import personalized_pagerank

        with _pt.raises(ValueError, match="at least one source"):
            personalized_pagerank(self._graph(spark), [])


class TestPersonalizedPagerankBatch:
    """personalized_pagerank_batch: per-seed normalization, sparsity,
    dangling seeds, and strategy parity."""

    def _graph(self, spark):
        from graphdatabases_spark.graph import grid_graph

        return grid_graph(spark, 8)

    def test_local_equals_distributed(self, spark):
        import pytest as _pt

        from graphdatabases_spark.graph.algorithms import (
            personalized_pagerank_batch,
        )

        g = self._graph(spark)
        loc = sorted(
            tuple(r)
            for r in personalized_pagerank_batch(
                g, [0, 27, 63], num_iters=5, strategy="local"
            ).collect()
        )
        dist = sorted(
            tuple(r)
            for r in personalized_pagerank_batch(
                g, [0, 27, 63], num_iters=5, strategy="distributed"
            ).collect()
        )
        assert [(s, i) for s, i, _ in loc] == [(s, i) for s, i, _ in dist]
        for (_, _, a), (_, _, b) in zip(loc, dist):
            assert a == _pt.approx(b, abs=1e-12)

    def test_per_seed_unit_mass_and_sparsity(self, spark):
        """Each seed's vector is independently normalized (mass <= 1,
        dangling decay only), state holds ONLY rank>0 rows, and a
        single-seed batch equals |S|x the shared-teleport kernel's
        1-source run (which divides the same unit mass by |S|=1 —
        i.e. they coincide exactly for one seed)."""
        from graphdatabases_spark.graph.algorithms import (
            personalized_pagerank,
            personalized_pagerank_batch,
        )

        g = self._graph(spark)
        rows = personalized_pagerank_batch(
            g, [27], num_iters=6, strategy="local"
        ).collect()
        assert all(r["rank"] > 0 for r in rows)
        assert sum(r["rank"] for r in rows) <= 1.0 + 1e-9
        single = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(
                g, [27], num_iters=6, strategy="local"
            ).collect()
            if r["rank"] > 0
        }
        batch = {r["id"]: r["rank"] for r in rows}
        assert batch.keys() == single.keys()
        for v in batch:
            assert abs(batch[v] - single[v]) < 1e-12
        # Directed grid walks right/down only: everything above/left of
        # (3,3) is unreachable and must be ABSENT, not rank-0.
        assert all(v % 8 >= 3 and v // 8 >= 3 for v in batch)

    def test_dangling_seed_keeps_restart_mass_only(self, spark):
        """Seed 63 = bottom-right corner, outdeg 0: after round 1 the
        walk holds exactly the restart mass at the seed, nothing else."""
        from graphdatabases_spark.graph.algorithms import (
            personalized_pagerank_batch,
        )

        rows = personalized_pagerank_batch(
            self._graph(spark), [63], num_iters=4, strategy="distributed"
        ).collect()
        assert [(r["seed"], r["id"]) for r in rows] == [(63, 63)]
        assert abs(rows[0]["rank"] - 0.15) < 1e-15

    def test_empty_seeds_rejected(self, spark):
        import pytest as _pt

        from graphdatabases_spark.graph.algorithms import (
            personalized_pagerank_batch,
        )

        with _pt.raises(ValueError, match="at least one seed"):
            personalized_pagerank_batch(self._graph(spark), [])


class TestPersonalizedPagerankBatchUnits:
    """Fixed-point batched PPR: integer-exact, partition-invariant."""

    def test_matches_double_kernel_within_truncation(self, spark):
        """On the grid (in-degree <= 2) the integer kernel must agree
        with the double kernel to within the documented truncation
        bias (a few units per division chain)."""
        from graphdatabases_spark.graph import grid_graph
        from graphdatabases_spark.graph.algorithms import (
            personalized_pagerank_batch,
            personalized_pagerank_batch_units,
        )

        g = grid_graph(spark, 8)
        dbl = {
            (r["seed"], r["id"]): r["rank"]
            for r in personalized_pagerank_batch(
                g, [0, 27], num_iters=4, strategy="distributed"
            ).collect()
        }
        unit = {
            (r["seed"], r["id"]): r["rank_units"]
            for r in personalized_pagerank_batch_units(
                g, [0, 27], num_iters=4
            ).collect()
            if r["rank_units"] > 0
        }
        assert unit.keys() == {k for k, v in dbl.items() if v > 0}
        for k, u in unit.items():
            assert abs(u / 1e12 - dbl[k]) < 1e-9, (k, u, dbl[k])

    def test_partition_invariance(self, spark):
        """The whole point of the integer formulation: an adversarial
        repartition of the edge list changes NO output bit."""
        from pyspark.sql import functions as F

        from graphdatabases_spark.graph.algorithms import (
            personalized_pagerank_batch_units,
        )

        e = spark.range(4000).select(
            (F.col("id") % 731).alias("src"),
            ((F.col("id") * 37 + 11) % 731).alias("dst"),
        ).distinct()
        base = sorted(
            tuple(r)
            for r in personalized_pagerank_batch_units(
                e, [0, 1, 2], num_iters=3
            ).collect()
        )
        shuffled = sorted(
            tuple(r)
            for r in personalized_pagerank_batch_units(
                e.repartition(17, "dst"), [0, 1, 2], num_iters=3
            ).collect()
        )
        assert base == shuffled

    def test_unit_mass_bounded(self, spark):
        from graphdatabases_spark.graph import grid_graph
        from graphdatabases_spark.graph.algorithms import (
            personalized_pagerank_batch_units,
        )

        rows = personalized_pagerank_batch_units(
            grid_graph(spark, 8), [27], num_iters=5
        ).collect()
        # Truncating divisions only LOSE mass: per-seed total <= 1.0.
        assert sum(r["rank_units"] for r in rows) <= 10**12


class TestAnfHyperball:
    """graph_anf_hyperball: realized sketch accuracy vs the EXACT
    neighborhood function (full per-node BFS in Python) at sf0.001,
    plus the structural monotonicity the estimator must respect."""

    def test_estimates_track_exact_anf(self, spark, sf_dir):
        from collections import defaultdict

        from graphdatabases_spark.relational import REGISTRY, queries

        queries()
        rows = {
            r["r"]: r
            for r in REGISTRY["graph_anf_hyperball"].fn(spark, sf_dir).collect()
        }
        assert sorted(rows) == [0, 1, 2, 3]

        ORDER_BASE, PART_BASE, SUPP_BASE = (
            1_000_000_000,
            2_000_000_000,
            3_000_000_000,
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
        line = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
        succ = defaultdict(set)
        nodes = set()
        for o in orders:
            if o.o_orderkey % 2 == 0:
                s, d = o.o_custkey, ORDER_BASE + o.o_orderkey
                succ[s].add(d)
                nodes.update((s, d))
        for l in line:
            if l.l_orderkey % 2 == 0:
                a = ORDER_BASE + l.l_orderkey
                b = PART_BASE + l.l_partkey
                c = SUPP_BASE + l.l_suppkey
                succ[a].add(b)
                succ[b].add(c)
                nodes.update((a, b, c))

        balls = {v: {v} for v in nodes}
        for r in range(4):
            exact = sum(len(b) for b in balls.values())
            got = rows[r]
            assert got["n_nodes"] == len(nodes)
            # m=32 HLL: sigma ~ 1.04/sqrt(32) ~ 18% per node; summed
            # estimates share hashes, so allow 25%.
            assert abs(got["anf_estimate"] - exact) / exact < 0.25, (
                r,
                got["anf_estimate"],
                exact,
            )
            balls = {
                v: b | set().union(*(balls[u] for u in succ[v])) if succ[v] else b
                for v, b in balls.items()
            }

        # Balls only grow: every per-round metric is nondecreasing.
        for a, b in ((0, 1), (1, 2), (2, 3)):
            assert rows[b]["n_regs"] >= rows[a]["n_regs"]
            assert rows[b]["anf_estimate"] >= rows[a]["anf_estimate"] - 1e-6
            assert rows[b]["frac_of_final"] >= rows[a]["frac_of_final"] - 1e-6
        # The final round defines the denominator: frac 1.0, flagged.
        assert rows[3]["frac_of_final"] == 1.0
        assert rows[3]["reached_90"] == 1
        # reached_90 is a monotone cut — once reached, never unreached.
        flags = [rows[r]["reached_90"] for r in (0, 1, 2, 3)]
        assert flags == sorted(flags)


class TestEffectiveDiameter:
    """graph_effective_diameter: the interpolated value must be
    consistent with the ANF curve entry it is derived from."""

    def test_interp_consistent_with_curve(self, spark, sf_dir):
        from graphdatabases_spark.relational import REGISTRY, queries

        queries()  # populate REGISTRY
        curve = {
            r["r"]: r
            for r in REGISTRY["graph_anf_hyperball"].fn(spark, sf_dir).collect()
        }
        d = REGISTRY["graph_effective_diameter"].fn(spark, sf_dir).collect()
        assert len(d) == 1
        d = d[0]
        rounds = sorted(curve)
        # The cut round is the first round the curve entry flags.
        first_flagged = min(r for r in rounds if curve[r]["reached_90"] == 1)
        assert d["d_eff_round"] == first_flagged
        # target = 0.9 * final ANF (both rounded to 3 dp independently).
        final = curve[rounds[-1]]["anf_estimate"]
        assert abs(d["anf_final"] - final) < 1e-3
        assert abs(d["target_anf"] - 0.9 * final) < 0.01
        # Interpolation lands inside (cut-1, cut] — or exactly 0.
        if d["d_eff_round"] == 0:
            assert d["d_eff_interp"] == 0.0
        else:
            assert d["d_eff_round"] - 1 < d["d_eff_interp"] <= d["d_eff_round"]
        assert d["n_nodes"] == curve[0]["n_nodes"]


class TestHarmonicCentrality:
    """graph_harmonic_centrality: realized sketch accuracy vs the EXACT
    truncated harmonic centrality (per-node BFS balls in Python)."""

    def test_estimates_track_exact_harmonic(self, spark, sf_dir):
        from collections import defaultdict

        from graphdatabases_spark.relational import REGISTRY, queries

        queries()
        rows = REGISTRY["graph_harmonic_centrality"].fn(spark, sf_dir).collect()
        assert 1 <= len(rows) <= 10
        # Deterministic order: harmonic desc, node asc.
        keys = [(-r["harmonic"], r["node"]) for r in rows]
        assert keys == sorted(keys)

        from graphdatabases_spark.relational.graph_queries import (
            ORDER_BASE,
            PART_BASE,
            SUPP_BASE,
        )

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
        line = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
        succ = defaultdict(set)
        nodes = set()
        for o in orders:
            if o.o_orderkey % 2 == 0:
                s, d = o.o_custkey, ORDER_BASE + o.o_orderkey
                succ[s].add(d)
                nodes.update((s, d))
        for l in line:
            if l.l_orderkey % 2 == 0:
                a = ORDER_BASE + l.l_orderkey
                b = PART_BASE + l.l_partkey
                c = SUPP_BASE + l.l_suppkey
                succ[a].add(b)
                succ[b].add(c)
                nodes.update((a, b, c))
        balls = {v: {v} for v in nodes}
        exact: dict[int, float] = defaultdict(float)
        for r in (1, 2, 3):
            grown = {
                v: b | set().union(*(balls[u] for u in succ[v])) if succ[v] else b
                for v, b in balls.items()
            }
            for v in nodes:
                exact[v] += (len(grown[v]) - len(balls[v])) / r
            balls = grown

        # m=32 HLL: per-node sigma ~18%; shells difference two sketches
        # so allow 35% per node, 20% on the mean (measured ~10%).
        errs = []
        for row in rows:
            assert row["harmonic"] >= 0.0
            e = exact[row["node"]]
            rel = abs(row["harmonic"] - e) / max(e, 1e-9)
            assert rel < 0.35, (row["node"], row["harmonic"], e)
            errs.append(rel)
        assert sum(errs) / len(errs) < 0.20
        # The approximate top-k must substantially overlap the exact
        # top-k (measured 7/10 at sf0.001).
        k = len(rows)
        exact_top = sorted(exact, key=lambda v: (-exact[v], v))[:k]
        assert len({r["node"] for r in rows} & set(exact_top)) >= k // 2


class TestKTruss:
    """graph_ktruss_copurchase: Python replay of the peeling rounds,
    plus the structural theorems the entry's doc claims."""

    def test_peeling_replay_and_theorems(self, spark, sf_dir):
        from collections import Counter, defaultdict

        from graphdatabases_spark.relational import REGISTRY, queries

        queries()
        rows = {
            (r["k"], r["round"]): r
            for r in REGISTRY["graph_ktruss_copurchase"].fn(spark, sf_dir).collect()
        }
        assert sorted(rows) == [(3, 1), (3, 2), (4, 1), (4, 2)]

        # Exact Python replay: base edges then two peels per k.
        line = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
        # The base self-join counts line-item MULTIPLICITY (a part
        # appearing twice in an order contributes 2x to each pair);
        # the replay must too.
        pair_cnt = Counter()
        mult = defaultdict(Counter)
        for l in line:
            if l.l_orderkey % 2 == 0:
                mult[l.l_orderkey][l.l_partkey] += 1
        for cnts in mult.values():
            ps = sorted(cnts)
            for i, pa in enumerate(ps):
                for pb in ps[i + 1:]:
                    pair_cnt[(pa, pb)] += cnts[pa] * cnts[pb]
        e0 = {p for p, c in pair_cnt.items() if c >= 2}

        def peel(edges, k):
            adj = defaultdict(set)
            for a, b in edges:
                adj[a].add(b)
                adj[b].add(a)
            return {
                (a, b)
                for a, b in edges
                if len(adj[a] & adj[b]) >= k - 2
            }

        for k in (3, 4):
            cur = e0
            for r in (1, 2):
                nxt = peel(cur, k)
                got = rows[(k, r)]
                assert got["edges_before"] == len(cur), (k, r)
                assert got["edges_after"] == len(nxt), (k, r)
                assert got["edges_dropped"] == len(cur) - len(nxt)
                cur = nxt

        # Theorem 1: the 3-truss ('in >= 1 triangle') is already the
        # fixpoint after one round — triangles are self-supporting.
        assert rows[(3, 2)]["edges_dropped"] == 0
        assert rows[(3, 2)]["fp_sum"] == rows[(3, 1)]["fp_sum"]
        # Theorem 2: per-round nesting — the stricter truss is always
        # a subset of the looser one.
        for r in (1, 2):
            assert rows[(4, r)]["edges_after"] <= rows[(3, r)]["edges_after"]


class TestBetweennessSampled:
    """graph_betweenness_sampled: exact pure-Python replay of the
    truncated sampled-Brandes estimator — BFS sigma counts, integer
    micro-unit dependency accumulation with floor division, the full
    top-k — so the DataFrame program is pinned against an independent
    third implementation (the DuckDB oracle being the second)."""

    def test_python_replay_matches(self, spark, sf_dir):
        from collections import defaultdict

        from graphdatabases_spark.relational.graph_centrality_queries import (
            _BC_ROUNDS,
            _BC_SEEDS,
            _BC_TOPK,
            graph_betweenness_sampled,
        )
        from graphdatabases_spark.relational.graph_queries import (
            entity_edges,
        )

        got = [
            (r["node"], r["bc_ppm"], r["n_seed_obs"])
            for r in graph_betweenness_sampled(spark, sf_dir).collect()
        ]

        pairs = {
            (r["src"], r["dst"])
            for r in entity_edges(spark, sf_dir, dedup=True).collect()
        }
        adj: dict[int, list[int]] = defaultdict(list)
        for s, d in pairs:
            adj[s].append(d)
            adj[d].append(s)
        # Dedup the undirected neighbor lists (a<->b appearing in both
        # directions of the distinct directed multiset).
        adj = {u: sorted(set(vs)) for u, vs in adj.items()}

        bc: dict[int, int] = defaultdict(int)
        n_obs: dict[int, int] = defaultdict(int)
        for seed in _BC_SEEDS:
            levels = [{seed: 1}]
            seen = {seed}
            for _ in range(_BC_ROUNDS):
                nxt: dict[int, int] = defaultdict(int)
                for u, sig in levels[-1].items():
                    for v in adj.get(u, ()):
                        if v not in seen:
                            nxt[v] += sig
                levels.append(dict(nxt))
                seen |= set(nxt)
            deltas = {_BC_ROUNDS: {v: 0 for v in levels[_BC_ROUNDS]}}
            for r in range(_BC_ROUNDS - 1, 0, -1):
                d_r = {}
                for u, sig in levels[r].items():
                    acc = 0
                    for w in adj.get(u, ()):
                        if w in levels[r + 1]:
                            acc += (
                                sig * (1_000_000 + deltas[r + 1][w])
                            ) // levels[r + 1][w]
                    d_r[u] = acc
                deltas[r] = d_r
            for r in range(1, _BC_ROUNDS + 1):
                for v, val in deltas[r].items():
                    bc[v] += val
                    n_obs[v] += 1

        want = sorted(
            ((v, bc[v], n_obs[v]) for v in bc), key=lambda t: (-t[1], t[0])
        )[:_BC_TOPK]
        assert got == want
