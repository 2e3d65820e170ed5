"""Round-11 graph entries: multilevel Louvain.

Pins for ``graph_louvain_multilevel`` (its DuckDB oracle hash-checks
the values; these check the SEMANTICS):

* a pure-Python integer replay of the whole multilevel pipeline — LPA
  init, the weighted 2m²-scaled local-move pass at every level, the
  community-disjoint selection cascade, contraction to the weighted
  super-graph, and the ppm modularity identity — must reproduce all
  level rows bit-for-bit at sf0.001 and sf0.01;
* the monotonicity chain the coarsening is FOR: within every level
  q_after >= q_before (strict when any move applies), and across
  levels q_before(L) == q_after(L-1) EXACTLY, because contraction
  conserves total weight, strengths, and intra weight, so the
  floor-div ppm identity evaluates on identical integers.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from graphdatabases_spark.relational import queries

from tests.test_round10_graph import _e0_edges, _lpa

_LEVELS = 3


def _wlm_pass(wg, lab, m):
    """One weighted local-move pass on wg: {(u,v) u<=v: w} with labels
    lab: {node: community}. Returns (post_labels, stats_dict)."""
    k = Counter()
    adj = defaultdict(Counter)
    for (u, v), w in wg.items():
        if u == v:
            k[u] += 2 * w
        else:
            k[u] += w
            k[v] += w
            adj[u][v] += w
            adj[v][u] += w
    nodes = set(lab)
    sig = Counter()
    for vtx in nodes:
        sig[lab[vtx]] += k[vtx]
    cand1 = {}
    for vtx in nodes:
        kvc = Counter()
        for u, w in adj[vtx].items():
            kvc[lab[u]] += w
        s = lab[vtx]
        k_own = kvc.get(s, 0)
        best = None
        for c, kk in kvc.items():
            if c == s:
                continue
            gain = 2 * m * (kk - k_own) - k[vtx] * (sig[c] - sig[s] + k[vtx])
            if gain <= 0:
                continue
            key = (-gain, c)
            if best is None or key < best[0]:
                best = (key, (vtx, s, c, gain))
        if best is not None:
            cand1[vtx] = best[1]
    by_s = {}
    for vtx, s, c, gain in cand1.values():
        key = (-gain, vtx)
        if s not in by_s or key < by_s[s][0]:
            by_s[s] = (key, (vtx, s, c, gain))
    by_c = {}
    for _key, (vtx, s, c, gain) in by_s.values():
        key = (-gain, vtx)
        if c not in by_c or key < by_c[c][0]:
            by_c[c] = (key, (vtx, s, c, gain))
    cand3 = [mv for _, mv in by_c.values()]
    srcs = {s for _, s, _, _ in cand3}
    dsts = {c for _, _, c, _ in cand3}
    movers = [
        (vtx, s, c, gain)
        for vtx, s, c, gain in cand3
        if s not in dsts and c not in srcs
    ]
    touched = [x for _, s, c, _ in movers for x in (s, c)]
    assert len(touched) == len(set(touched)), "communities not disjoint"
    post = dict(lab)
    for vtx, _, c, _ in movers:
        post[vtx] = c

    def _q_ppm(labels):
        intra = sum(
            w for (u, v), w in wg.items() if labels[u] == labels[v]
        )
        sg = Counter()
        for vtx in nodes:
            sg[labels[vtx]] += k[vtx]
        sum_d2 = sum(s * s for s in sg.values())
        return (
            1_000_000
            * (4 * m * m + 4 * m * intra - sum_d2)
            // (4 * m * m)
            - 1_000_000
        )

    stats = {
        "n_nodes": len(nodes),
        "n_comm_before": len(set(lab.values())),
        "n_comm_after": len(set(post.values())),
        "n_moves": len(movers),
        "gain_2m2": sum(g for _, _, _, g in movers),
        "q_before_ppm": _q_ppm(lab),
        "q_after_ppm": _q_ppm(post),
    }
    return post, stats


def _contract(wg, post):
    out = Counter()
    for (u, v), w in wg.items():
        cu, cv = post[u], post[v]
        out[(min(cu, cv), max(cu, cv))] += w
    return dict(out)


def _replay_multilevel(sf_dir: str) -> list[dict]:
    edges = _e0_edges(sf_dir)
    label, _nbrs = _lpa(edges)
    m = len(edges)
    wg = dict(Counter(((min(a, b), max(a, b)) for a, b in edges)))
    lab = dict(label)
    rows = []
    for lvl in range(_LEVELS):
        post, stats = _wlm_pass(wg, lab, m)
        rows.append({"level": lvl, **stats})
        if lvl < _LEVELS - 1:
            wg = _contract(wg, post)
            lab = {c: c for c in set(post.values())}
    return rows


class TestLouvainMultilevel:
    @pytest.fixture(scope="class")
    def rows(self, spark, sf_dir):
        qs = queries()
        return (
            qs["graph_louvain_multilevel"](spark, sf_dir)
            .orderBy("level")
            .collect()
        )

    def test_python_integer_replay_matches(self, rows, sf_dir):
        expect = _replay_multilevel(sf_dir)
        assert len(rows) == len(expect) == _LEVELS
        for row, exp in zip(rows, expect):
            assert {c: row[c] for c in exp} == exp, exp["level"]

    def test_monotone_chain(self, rows):
        for row in rows:
            assert row["q_after_ppm"] >= row["q_before_ppm"]
            if row["n_moves"] >= 1:
                assert row["gain_2m2"] > 0
            else:
                assert row["gain_2m2"] == 0
                assert row["q_after_ppm"] == row["q_before_ppm"]
        for prev, cur in zip(rows, rows[1:]):
            # contraction preserves modularity EXACTLY (same integers
            # through the floor-div identity)
            assert cur["q_before_ppm"] == prev["q_after_ppm"]
            # contraction is partition-preserving: level L starts from
            # level L-1's communities
            assert cur["n_nodes"] == prev["n_comm_after"]
            assert cur["n_comm_before"] == prev["n_comm_after"]

    def test_moves_at_sf001(self, spark):
        """The sf0.01 fixture does move at every level (8/4/2 movers) —
        the coarsened levels find gains the flat pass cannot see."""
        qs = queries()
        rows = (
            qs["graph_louvain_multilevel"](spark, "/root/testdata/sf0.01")
            .orderBy("level")
            .collect()
        )
        assert [r["n_moves"] for r in rows] == [8, 4, 2]
        assert rows[-1]["q_after_ppm"] > rows[0]["q_before_ppm"]
        expect = _replay_multilevel("/root/testdata/sf0.01")
        for row, exp in zip(rows, expect):
            assert {c: row[c] for c in exp} == exp


# ---------------------------------------------------------------------------
# Incremental PageRank (graph_pagerank_incremental + pagerank_units)
# ---------------------------------------------------------------------------

import duckdb

_PR_U = 10**12
_PR_MOD = 20


def _entity_edges_py(sf_dir: str) -> list[tuple[int, int]]:
    """Directed distinct entity edges — the exact relation of
    graph_queries.entity_edges(dedup=True)."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT DISTINCT src, dst FROM (
          SELECT o_custkey AS src, 1000000000 + o_orderkey AS dst
          FROM read_parquet('{sf_dir}/orders.parquet')
          UNION ALL
          SELECT 1000000000 + l_orderkey, 2000000000 + l_partkey
          FROM read_parquet('{sf_dir}/lineitem.parquet')
          UNION ALL
          SELECT 2000000000 + l_partkey, 3000000000 + l_suppkey
          FROM read_parquet('{sf_dir}/lineitem.parquet')
        ) ORDER BY src, dst
        """
    ).fetchall()
    con.close()
    return [(int(s), int(d)) for s, d in rows]


def _pr_units_py(
    edges, init=None, num_iters=None, tol=None, max_iters=400, verts=None
):
    """Pure-Python replay of pagerank_units' integer recurrence.

    Fixed ``num_iters`` mode mirrors the kernel bit-for-bit; ``tol``
    mode iterates until max per-vertex |delta| <= tol and returns the
    round count — the convergence meter the distributed kernel
    deliberately does not pay for (an extra join+agg per round).
    ``verts`` replays a PropertyGraph: the vertex set is given, outdeg
    still counts every edge, and messages from or to non-vertices drop.
    """
    outdeg: dict[int, int] = {}
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
        adj.setdefault(s, []).append(d)
    if verts is None:
        verts = {v for e in edges for v in e}
    rank = {v: (init.get(v, _PR_U) if init is not None else _PR_U) for v in verts}
    base = 15 * _PR_U // 100
    rounds = num_iters if num_iters is not None else max_iters
    for it in range(1, rounds + 1):
        msg: dict[int, int] = {}
        for s, ds in adj.items():
            if s not in rank:
                continue
            c = rank[s] // outdeg[s]
            for d in ds:
                msg[d] = msg.get(d, 0) + c
        new = {v: base + (85 * msg.get(v, 0)) // 100 for v in verts}
        delta = max(abs(new[v] - rank[v]) for v in verts)
        rank = new
        if tol is not None and delta <= tol:
            return rank, it
    return rank, rounds


class TestPagerankIncremental:
    @pytest.mark.parametrize("strategy", ["local", "distributed"])
    def test_distributed_kernel_bit_equality(self, spark, sf_dir, strategy):
        """pagerank_units == the Python integer replay EXACTLY, for both
        the cold base phase and the warm-start phase, on either strategy
        — integer contribs and sums are associative/commutative, so
        neither partitioning nor the driver-side path can change a
        single bit."""
        from graphdatabases_spark.graph.algorithms import pagerank_units

        edges = _entity_edges_py(sf_dir)
        base_e = [(s, d) for s, d in edges if (s + d) % _PR_MOD != 0]
        exp_base, _ = _pr_units_py(base_e, num_iters=6)
        exp_warm, _ = _pr_units_py(edges, init=exp_base, num_iters=3)

        edf = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
        got_base_df = pagerank_units(
            edf.filter(((F.col("src") + F.col("dst")) % _PR_MOD) != 0),
            num_iters=6,
            unit_scale=_PR_U,
            strategy=strategy,
        )
        got_base = {
            r["id"]: r["rank_units"] for r in got_base_df.collect()
        }
        assert got_base == exp_base
        got_warm_df = pagerank_units(
            edf,
            num_iters=3,
            unit_scale=_PR_U,
            init_ranks=got_base_df,
            strategy=strategy,
        )
        got_warm = {
            r["id"]: r["rank_units"] for r in got_warm_df.collect()
        }
        assert got_warm == exp_warm

    def test_property_graph_vertex_semantics(self, spark):
        """Both strategies keep ``_vertices_from`` semantics on a
        PropertyGraph: an isolated vertex gets the base units, an edge to
        a non-vertex still counts in outdeg but its message drops, an
        ``init_ranks`` id outside the vertex set is ignored, and a
        vertex without a prior rank starts at ``unit_scale``."""
        from graphdatabases_spark.graph.algorithms import pagerank_units
        from graphdatabases_spark.graph.model import (
            EDGE_SCHEMA,
            VERTEX_SCHEMA,
            PropertyGraph,
            local_frame,
        )

        verts = [1, 2, 3, 4]  # 4 is isolated
        edges = [(1, 2), (2, 3), (3, 1), (1, 99), (2, 1)]  # 99: no vertex
        g = PropertyGraph(
            vertices=local_frame(
                spark, [(v, None, None) for v in verts], VERTEX_SCHEMA
            ),
            edges=local_frame(
                spark, [(s, d, None, None) for s, d in edges], EDGE_SCHEMA
            ),
        )
        init = {1: 3 * _PR_U, 2: _PR_U // 7, 42: 5 * _PR_U}  # 42: unknown
        init_df = spark.createDataFrame(
            list(init.items()), "id BIGINT, rank_units BIGINT"
        )
        exp, _ = _pr_units_py(edges, init=init, num_iters=4, verts=set(verts))
        got = {}
        for strategy in ("local", "distributed"):
            df = pagerank_units(
                g,
                num_iters=4,
                unit_scale=_PR_U,
                init_ranks=init_df,
                strategy=strategy,
            )
            got[strategy] = {r["id"]: r["rank_units"] for r in df.collect()}
        assert got["local"] == got["distributed"] == exp
        assert exp[4] == 15 * _PR_U // 100

    def test_overflow_raises_on_both_strategies(self, spark):
        """The local path raises on int64 overflow where ANSI Spark
        does, instead of wrapping."""
        from pyspark.errors import ArithmeticException

        from graphdatabases_spark.graph.algorithms import pagerank_units

        edf = spark.createDataFrame([(1, 2)], "src BIGINT, dst BIGINT")
        init_df = spark.createDataFrame([(1, 2**62)], "id BIGINT, rank_units BIGINT")
        for strategy in ("local", "distributed"):
            with pytest.raises((ArithmeticError, ArithmeticException)):
                pagerank_units(
                    edf, num_iters=1, init_ranks=init_df, strategy=strategy
                ).collect()

    def test_warm_start_fewer_rounds_identical_fixed_point(self, sf_dir):
        """THE incremental claim: on the symmetrized entity graph (cycles,
        so convergence takes real rounds — the directed 3-layer DAG
        flushes in depth+1), restarting from the base graph's fixed point
        after the ~5% edge-batch append converges in FEWER rounds than
        from-scratch, to a ppm-IDENTICAL fixed point (the truncated
        integer map forgets initial conditions entirely: trajectories
        that meet once stay equal)."""
        edges = _entity_edges_py(sf_dir)
        sym = sorted({(s, d) for s, d in edges} | {(d, s) for s, d in edges})
        base_e = [(s, d) for s, d in sym if (s + d) % _PR_MOD != 0]
        tol = 1000  # above the ~72-unit truncation limit cycle, far
        # below the 10**6-unit ppm quantum

        cold, rounds_cold = _pr_units_py(sym, tol=tol)
        base_fp, _ = _pr_units_py(base_e, tol=tol)
        warm, rounds_warm = _pr_units_py(sym, init=base_fp, tol=tol)

        assert rounds_warm < rounds_cold, (rounds_warm, rounds_cold)
        ppm_cold = {v: u // 10**6 for v, u in cold.items()}
        ppm_warm = {v: u // 10**6 for v, u in warm.items()}
        assert ppm_warm == ppm_cold

    def test_entry_shape_and_delta_identity(self, spark, sf_dir):
        qs = queries()
        rows = qs["graph_pagerank_incremental"](spark, sf_dir).collect()
        assert [r["pos"] for r in rows] == list(range(1, 26))
        units = [r["units_warm"] for r in rows]
        assert units == sorted(units, reverse=True)
        for r in rows:
            assert r["delta_units"] == r["units_warm"] - r["units_base"]
            assert r["units_warm"] > _PR_U  # top vertices beat uniform


# ---------------------------------------------------------------------------
# Deterministic random walks (graph_random_walks)
# ---------------------------------------------------------------------------

import hashlib


def _h48s(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


class TestRandomWalks:
    def test_python_hash_chain_replay(self, spark, sf_dir):
        """The walk corpus is a pure function of the corpus: a driver-side
        replay of the hash-pick chain over the same symmetrized adjacency
        reproduces every (seed, step, node) row bit-for-bit."""
        edges = _entity_edges_py(sf_dir)
        sym = edges + [(d, s) for s, d in edges]
        adj: dict[int, list[int]] = {}
        for s, d in sym:
            adj.setdefault(s, []).append(d)
        for s in adj:
            adj[s].sort()
        expect = []
        for seed in range(1, 11):
            node = seed
            expect.append((seed, 0, node))
            for k in range(1, 9):
                nbrs = adj[node]
                i = _h48s(f"wk{seed}:{k}:{node}") % len(nbrs)
                node = nbrs[i]
                expect.append((seed, k, node))
        got = [
            (r["seed"], r["step"], r["node"])
            for r in queries()["graph_random_walks"](spark, sf_dir)
            .orderBy("seed", "step")
            .collect()
        ]
        assert got == sorted(expect)

    def test_walks_move(self, spark, sf_dir):
        """Every walker leaves its seed (degree >= 1 on the symmetrized
        graph guarantees progress) and no walk is truncated."""
        rows = queries()["graph_random_walks"](spark, sf_dir).collect()
        by_seed: dict[int, list] = {}
        for r in rows:
            by_seed.setdefault(r["seed"], []).append(r)
        assert set(by_seed) == set(range(1, 11))
        for seed, rs in by_seed.items():
            assert len(rs) == 9
            assert any(r["node"] != seed for r in rs)


# ---------------------------------------------------------------------------
# Temporal earliest-arrival reachability (graph_temporal_reach)
# ---------------------------------------------------------------------------


def _temporal_edges_py(sf_dir: str) -> list[tuple[int, int, int]]:
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT DISTINCT src, dst, t FROM (
          SELECT o_custkey AS src, 1000000000 + o_orderkey AS dst,
                 CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS t
          FROM read_parquet('{sf_dir}/orders.parquet')
          UNION ALL
          SELECT 1000000000 + l_orderkey, 2000000000 + l_partkey,
                 CAST(l_shipdate AS DATE) - DATE '1990-01-01'
          FROM read_parquet('{sf_dir}/lineitem.parquet')
          UNION ALL
          SELECT 2000000000 + l_partkey, 3000000000 + l_suppkey,
                 CAST(l_shipdate AS DATE) - DATE '1990-01-01'
          FROM read_parquet('{sf_dir}/lineitem.parquet')
        )
        """
    ).fetchall()
    con.close()
    return [(int(s), int(d), int(t)) for s, d, t in rows]


class TestTemporalReach:
    def test_python_relaxation_replay(self, spark, sf_dir):
        edges = _temporal_edges_py(sf_dir)
        adj: dict[int, list[tuple[int, int]]] = {}
        for s, d, t in edges:
            adj.setdefault(s, []).append((d, t))
        expect = {}
        for seed in range(1, 6):
            arr = {seed: -1}
            for _ in range(3):
                new = dict(arr)
                for u, du in arr.items():
                    for v, t in adj.get(u, []):
                        if t >= du and (v not in new or t < new[v]):
                            new[v] = min(new.get(v, t), t)
                arr = new
            for v, d in arr.items():
                if v != seed:
                    expect[(seed, v)] = d
        got = {
            (r["seed"], r["id"]): r["arrival_day"]
            for r in queries()["graph_temporal_reach"](spark, sf_dir).collect()
        }
        assert got == expect

    def test_temporal_strictly_excludes_static_paths(self, sf_dir):
        """The operator's raison d'être: some statically 3-hop-reachable
        vertices are NOT time-respecting-reachable (a part shipped
        before its order date on the connecting path)."""
        edges = _temporal_edges_py(sf_dir)
        adj: dict[int, list[tuple[int, int]]] = {}
        for s, d, t in edges:
            adj.setdefault(s, []).append((d, t))
        static, temporal = set(), set()
        for seed in range(1, 6):
            # static 3-hop
            front = {seed}
            seen = set()
            for _ in range(3):
                front = {v for u in front for v, _ in adj.get(u, [])}
                seen |= front
            static |= {(seed, v) for v in seen if v != seed}
            # temporal
            arr = {seed: -1}
            for _ in range(3):
                new = dict(arr)
                for u, du in arr.items():
                    for v, t in adj.get(u, []):
                        if t >= du and (v not in new or t < new[v]):
                            new[v] = min(new.get(v, t), t)
                arr = new
            temporal |= {(seed, v) for v in arr if v != seed}
        assert temporal < static  # strict subset
        assert len(static - temporal) > 0
