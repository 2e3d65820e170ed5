"""Round-14 pins: incremental b-matching repair and edge-DELETION
repair for MIS / matching, against pure-Python replays.

Same contract as tests/test_round13_graph.py: the DuckDB differential
proves warm == cold VALUES; these tests pin (1) REPLAY EQUALITY — an
independent dict/set implementation of each cascade reaches the exact
cold greedy result element-for-element, and (2) REPAIR LOCALITY — the
cascade recomputes a bounded fraction of the graph in few rounds.
"""

from __future__ import annotations

import hashlib

import pytest

from graphdatabases_spark.relational.graph_queries import ENTITY_EDGES_SQL
from graphdatabases_spark.relational.graph_incremental_queries import _MI_MOD

from tests.oracle_utils import duckdb_connection

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"

B = 3  # graph_symmetry_queries._BM_B


def _edges(sf_dir):
    con = duckdb_connection(sf_dir)
    try:
        rows = con.execute(
            f"WITH {ENTITY_EDGES_SQL} SELECT src, dst FROM edges"
        ).fetchall()
    finally:
        con.close()
    return [(int(s), int(d)) for s, d in rows]


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _vh(vid: int) -> int:
    return _h48(f"mis{vid}")


def _eh(s: int, d: int) -> int:
    return _h48(f"mat{s}:{d}") * 32768 + (s * 31 + d) % 32768


def _bp(s: int, d: int) -> int:
    w = (s * 7 + d * 13) % 100 + 1
    return (100 - w) * (1 << 48) + _h48(f"bmat{s}:{d}")


def _bw(s: int, d: int) -> int:
    return (s * 7 + d * 13) % 100 + 1


# ---------------------------------------------------------------------------
# Shared replays: capacity-b line-graph cascade (b = 1 is matching)
# ---------------------------------------------------------------------------


def _cap_cold(edges, b, hfun):
    """Sequential greedy with per-vertex capacity b in ascending
    hfun priority; equals the round kernel's fixpoint."""
    cap: dict[int, int] = {}
    taken = set()
    for _h, s, d in sorted((hfun(s, d), s, d) for s, d in edges):
        if cap.get(s, b) > 0 and cap.get(d, b) > 0:
            taken.add((s, d))
            cap[s] = cap.get(s, b) - 1
            cap[d] = cap.get(d, b) - 1
    return taken


def _cap_cascade(universe, base_true, seed, b, hfun):
    """Priority-DAG chaotic relaxation over ``universe`` starting from
    ``base_true`` with dirty ``seed``: blocked(e at v) = at least b
    true adjacent edges with smaller h.  Returns (result, recomputed,
    rounds) — the replay of _matching_repair_local's cascade,
    including the round-14 REFINED propagation: a neighbor edge whose
    value provably cannot change is not dirtied (false & newly
    blocked, or false & still blocked at the other endpoint).  The
    value-can't-change test must read an edge's status INCLUDING this
    round's pending flips (``new_vals``) — reading the stale status
    skipped edges that flipped in the same round (the exact bug a
    60k-trial fuzz caught before the rule shipped)."""
    inc: dict[int, set] = {}
    for e in universe:
        inc.setdefault(e[0], set()).add(e)
        inc.setdefault(e[1], set()).add(e)
    H = {e: hfun(*e) for e in universe}
    status = {e: e in base_true for e in universe}
    vtrue: dict[int, list[int]] = {}
    for e, st in status.items():
        if st:
            for v in e:
                vtrue.setdefault(v, []).append(H[e])
    dirty = set(seed)
    rounds = 0
    recomputed = 0
    while dirty:
        rounds += 1
        recomputed += len(dirty)
        changed = []
        new_vals = {}
        for e in dirty:
            he = H[e]
            blocked = any(
                sum(1 for hh in vtrue.get(v, ()) if hh < he) >= b for v in e
            )
            new_s = not blocked
            if new_s != status[e]:
                new_vals[e] = new_s
                changed.append(e)
        dirty = set()
        for e in changed:
            he = H[e]
            status[e] = new_vals[e]
            for v in e:
                hs = vtrue.setdefault(v, [])
                old = list(hs)
                if new_vals[e]:
                    hs.append(he)
                else:
                    hs.remove(he)
                for f in inc[v]:
                    if f == e:
                        continue
                    hf = H[f]
                    po = sum(1 for hh in old if hh < hf) >= b
                    pn = sum(1 for hh in hs if hh < hf) >= b
                    if po == pn:
                        continue
                    if not new_vals.get(f, status[f]):
                        if pn:
                            continue  # false & newly blocked
                        u = f[0] + f[1] - v
                        if sum(1 for hh in vtrue.get(u, ()) if hh < hf) >= b:
                            continue  # false & still blocked at u
                    dirty.add(f)
    return {e for e, s in status.items() if s}, recomputed, rounds


# ---------------------------------------------------------------------------
# Incremental b-matching repair
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MID])
def test_bmatching_repair_replay_equals_cold(sf_dir):
    edges = _edges(sf_dir)
    base = [(s, d) for s, d in edges if (s + d) % _MI_MOD != 0]
    batch = [(s, d) for s, d in edges if (s + d) % _MI_MOD == 0]
    assert batch
    cold = _cap_cold(edges, B, _bp)
    base_cold = _cap_cold(base, B, _bp)
    warm, recomputed, rounds = _cap_cascade(
        edges, base_cold, batch, B, _bp
    )
    assert warm == cold
    # Locality: measured 6.8% / 5.5% of |E| recompute work and 4/4
    # rounds at sf0.001/0.01 — bounds at ~3x headroom.
    assert recomputed <= 0.2 * len(edges)
    assert rounds <= 12


def test_bmatching_incremental_entry_matches_replay(spark):
    from graphdatabases_spark.relational import queries

    edges = _edges(SF_SMALL)
    base = [(s, d) for s, d in edges if (s + d) % _MI_MOD != 0]
    batch = [(s, d) for s, d in edges if (s + d) % _MI_MOD == 0]
    base_cold = _cap_cold(base, B, _bp)
    warm, _, _ = _cap_cascade(edges, base_cold, batch, B, _bp)
    row = queries()["graph_bmatching_incremental"](spark, SF_SMALL).collect()[0]
    assert row["base_bmatch_size"] == len(base_cold)
    assert row["base_total_weight"] == sum(_bw(s, d) for s, d in base_cold)
    assert row["base_sum_ids"] == sum(s + d for s, d in base_cold)
    assert row["warm_bmatch_size"] == len(warm)
    assert row["warm_total_weight"] == sum(_bw(s, d) for s, d in warm)
    assert row["warm_sum_ids"] == sum(s + d for s, d in warm)
    assert row["n_changed_edges"] == len(base_cold ^ warm)
    assert row["feasible"] and row["maximal"] and row["converged"]


# ---------------------------------------------------------------------------
# MIS repair after an edge-batch DELETE
# ---------------------------------------------------------------------------


def _mis_cold(edges, verts):
    """Cold greedy MIS over an explicit vertex set (deletion keeps
    isolated vertices in play)."""
    adj: dict[int, set[int]] = {v: set() for v in verts}
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    mis: set[int] = set()
    for _h, v in sorted((_vh(v), v) for v in verts):
        if not (adj[v] & mis):
            mis.add(v)
    return mis


def _mis_del_repair(kept_edges, deleted_edges, verts):
    """Deletion cascade replay: seed = lower-priority endpoints of
    deleted edges whose higher-priority endpoint was base-TRUE."""
    full_mis = _mis_cold(kept_edges + deleted_edges, verts)
    adj: dict[int, set[int]] = {v: set() for v in verts}
    for s, d in kept_edges:
        adj[s].add(d)
        adj[d].add(s)
    prio = {v: (_vh(v), v) for v in verts}
    status = {v: v in full_mis for v in verts}
    dirty = set()
    for s, d in deleted_edges:
        for a, b in ((s, d), (d, s)):
            if status[a] and prio[a] < prio[b]:
                dirty.add(b)
    rounds = 0
    recomputed: set[int] = set()
    while dirty:
        rounds += 1
        recomputed |= dirty
        changed = set()
        new_vals = {}
        for v in dirty:
            new_s = not any(
                status[n] for n in adj[v] if prio[n] < prio[v]
            )
            if new_s != status[v]:
                new_vals[v] = new_s
                changed.add(v)
        for v, sv in new_vals.items():
            status[v] = sv
        dirty = set()
        for c in changed:
            for n in adj[c]:
                if prio[n] > prio[c]:
                    dirty.add(n)
    return {v for v, s in status.items() if s}, len(recomputed), rounds


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MID])
def test_mis_deletion_repair_replay_equals_cold(sf_dir):
    edges = _edges(sf_dir)
    kept = [(s, d) for s, d in edges if (s + d) % _MI_MOD != 0]
    dele = [(s, d) for s, d in edges if (s + d) % _MI_MOD == 0]
    assert dele
    verts = {v for e in edges for v in e}
    cold = _mis_cold(kept, verts)
    warm, n_recomputed, rounds = _mis_del_repair(kept, dele, verts)
    assert warm == cold
    # Locality: measured 9.1% / 9.6% of |V| recompute work and 3/4
    # rounds at sf0.001/0.01 — bounds at ~2x headroom.
    assert n_recomputed <= 0.2 * len(verts)
    assert rounds <= 12


def test_mis_decremental_entry_matches_replay(spark):
    from graphdatabases_spark.relational import queries

    edges = _edges(SF_SMALL)
    kept = [(s, d) for s, d in edges if (s + d) % _MI_MOD != 0]
    dele = [(s, d) for s, d in edges if (s + d) % _MI_MOD == 0]
    verts = {v for e in edges for v in e}
    base_mis = _mis_cold(edges, verts)
    warm, _, _ = _mis_del_repair(kept, dele, verts)
    row = queries()["graph_mis_decremental"](spark, SF_SMALL).collect()[0]
    assert row["base_mis_size"] == len(base_mis)
    assert row["base_sum_ids"] == sum(base_mis)
    assert row["warm_mis_size"] == len(warm)
    assert row["warm_sum_ids"] == sum(warm)
    assert row["n_flipped"] == len(base_mis ^ warm)
    assert row["independent"] and row["maximal"] and row["converged"]


# ---------------------------------------------------------------------------
# Matching repair after an edge-batch DELETE
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MID])
def test_matching_deletion_repair_replay_equals_cold(sf_dir):
    edges = _edges(sf_dir)
    kept = [(s, d) for s, d in edges if (s + d) % _MI_MOD != 0]
    dele = [(s, d) for s, d in edges if (s + d) % _MI_MOD == 0]
    assert dele
    full_mat = _cap_cold(edges, 1, _eh)
    cold_kept = _cap_cold(kept, 1, _eh)
    # Base state on the kept universe: full matching minus deleted
    # edges; seed = kept edges adjacent to a deleted-TRUE edge with
    # lower priority.
    del_true = [e for e in dele if tuple(e) in full_mat]
    base_true = {e for e in full_mat if e not in set(map(tuple, dele))}
    vtrue0: dict[int, list[int]] = {}
    for e in base_true:
        for v in e:
            vtrue0.setdefault(v, []).append(_eh(*e))
    inc: dict[int, set] = {}
    for e in kept:
        inc.setdefault(e[0], set()).add(e)
        inc.setdefault(e[1], set()).add(e)
    # Refined seed (mirrors the entry): lower-priority adjacents of a
    # deleted-TRUE edge, skipping those still blocked at their other
    # endpoint under the base state.
    seed = set()
    for e in del_true:
        he = _eh(*e)
        for v in e:
            for f in inc.get(v, ()):
                hf = _eh(*f)
                if hf > he:
                    u = f[0] + f[1] - v
                    if not any(hh < hf for hh in vtrue0.get(u, ())):
                        seed.add(f)
    warm, recomputed, rounds = _cap_cascade(kept, base_true, seed, 1, _eh)
    assert warm == cold_kept
    # Locality: measured 9.2% / 7.6% of |E| recompute work and 6/6
    # rounds at sf0.001/0.01 — bounds at ~2x headroom (the UNREFINED
    # propagation measured ~30%: hub endpoints of deleted matched
    # edges re-dirtied their whole lower-priority neighborhood).
    assert recomputed <= 0.2 * len(edges)
    assert rounds <= 12


def test_matching_decremental_entry_matches_replay(spark):
    from graphdatabases_spark.relational import queries

    edges = _edges(SF_SMALL)
    kept = [(s, d) for s, d in edges if (s + d) % _MI_MOD != 0]
    dele = [(s, d) for s, d in edges if (s + d) % _MI_MOD == 0]
    full_mat = _cap_cold(edges, 1, _eh)
    cold_kept = _cap_cold(kept, 1, _eh)
    row = queries()["graph_matching_decremental"](spark, SF_SMALL).collect()[0]
    assert row["base_matching_size"] == len(full_mat)
    assert row["base_sum_ids"] == sum(s + d for s, d in full_mat)
    assert row["warm_matching_size"] == len(cold_kept)
    assert row["warm_sum_ids"] == sum(s + d for s, d in cold_kept)
    assert row["n_changed_edges"] == len(full_mat ^ cold_kept)
    assert row["is_matching"] and row["maximal"] and row["converged"]
