"""Output checks, run outside the timed region.

* Catalog entries are compared with their DuckDB oracle over the same
  seeded parquet by the test suite's own ``tests/oracle_utils.py``
  (``duckdb_connection`` for the views, ``compare_frames`` for the
  verdict; MATCH or NEAR passes). The oracle frame is cached per
  (entry, input directory, SQL), because the heavy oracles take seconds.
* Graph API traversals are checked against the grid's closed forms while
  the graph is the plain grid, and against a pure-Python BFS over the
  generated edge list after writes.
"""

from __future__ import annotations

import functools
import hashlib
import os
from collections import deque

import pandas as pd

# --- catalog oracles --------------------------------------------------------


@functools.cache
def _oracle_utils():
    """The test suite's differential helpers, loaded from ``tests/`` by path
    (``tests`` is not a package, and ``perfbench/tests`` shares its name)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_frame(cache_dir: str, data_dir: str, name: str, sql: str) -> pd.DataFrame:
    """The oracle's result frame, cached per (entry, input directory, SQL)."""
    key = hashlib.sha256(f"{os.path.abspath(data_dir)}\0{name}\0{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = _oracle_utils().duckdb_connection(data_dir)
    try:
        con.execute("SET threads TO 2")
        frame = con.execute(sql).df()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    frame.to_pickle(tmp)
    os.replace(tmp, path)
    return frame


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when ``compare_frames`` says MATCH or NEAR, else its detail."""
    verdict, detail = _oracle_utils().compare_frames(got, want)
    return "" if verdict in ("MATCH", "NEAR") else detail


# --- grid closed forms ------------------------------------------------------


def grid_khop_count(n: int, src: int, hops: int) -> int:
    """|khop(src, hops)| on grid(n): cells (r+a, c+b) with 1 <= a+b <= hops,
    clipped at the bottom and right borders (root excluded)."""
    r, c = divmod(src, n)
    down, right = n - 1 - r, n - 1 - c
    total = 0
    for a in range(min(down, hops) + 1):
        total += min(right, hops - a) + 1
    return total - 1


def grid_distance(n: int, src: int, dst: int) -> int | None:
    """Shortest right/down path length (Manhattan distance) or None."""
    (r0, c0), (r1, c1) = divmod(src, n), divmod(dst, n)
    if r1 < r0 or c1 < c0:
        return None
    return (r1 - r0) + (c1 - c0)


def grid_edges(n: int) -> list[tuple[int, int]]:
    out = [(i, i + 1) for i in range(n * n) if i % n != n - 1]
    out += [(i, i + n) for i in range(n * n - n)]
    return out


# --- pure-Python BFS --------------------------------------------------------


def adjacency(edges) -> dict[int, list[int]]:
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    return adj


def bfs_dist(adj: dict[int, list[int]], src: int, max_hops: int | None = None) -> dict[int, int]:
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        if max_hops is not None and dist[u] >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def khop_count(adj: dict[int, list[int]], src: int, hops: int) -> int:
    """Reference k-hop semantics: reachable in 1..hops, root excluded
    unless a cycle of length <= hops returns to it."""
    dist = bfs_dist(adj, src, hops)
    n = len(dist) - 1
    if any(src in adj.get(u, ()) for u, d in dist.items() if d <= hops - 1):
        n += 1
    return n
