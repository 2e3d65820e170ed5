"""Traversal kernel: k-hop BFS and unweighted shortest path.

Rebuilds the reference's two traversal operations —
``get_nodes_hops(node_id, hops)`` (k-hop reachability, Neo4j var-length
path ``-[*1..h]->`` + DISTINCT at ``databases.py:122``; ArangoDB BFS with
``uniqueVertices:"global"`` at ``databases.py:224-227``) and
``ssp(src, dst)`` (hop-count shortest path, ``databases.py:125-127 /
229-233 / 291-293``) — as iterative DataFrame programs.

Semantics (SURVEY §2.1 quirk 2): the canonical k-hop result EXCLUDES the
root unless the root is re-reached via a cycle of length ≤ hops
(Neo4j/ArangoDB behavior; OrientDB's root-included variant is available
via ``include_root=True``).

Execution strategy (the 100-TB design decision):

- **distributed**: frontier BFS as repeated equi-joins —
  ``frontier ⋈ edges on id=src → dst`` with per-round ``distinct`` and an
  anti-join against the visited set. The edge set is persisted once
  (unshuffled — the frontier side is broadcast, so the join needs no
  co-partitioning) and every round's frontier is eagerly
  ``localCheckpoint``-ed, which both truncates lineage (the classic
  iterative-plan blowup) and guarantees the returned result holds no
  reference to the unpersisted edge cache.
- **local**: when the edge set is small enough to fit on the driver
  (adaptive threshold, like Catalyst collapsing small plans to
  LocalRelation), collect the adjacency list once (cached across calls
  by plan semanticHash) and run BFS in-process. A 300-round distributed
  loop on a 45k-edge graph pays ~300 job latencies for no parallelism
  benefit; the local path answers in milliseconds, matching the
  reference's server-side traversal times (BASELINE: 0.06-1.1 s for 300
  hops).
- **auto** (default): decided first from the optimized plan's Catalyst
  ``sizeInBytes`` (``_decide_strategy``): local at or under 64 MB,
  distributed at or over 4 GB, and in between local if
  ``edges.count() ≤ min(local_threshold, hops·500k)`` (default cap 2M
  edges) — one O(E) Arrow collect beats ~1-2 s of fixed job latency per
  round until E is large relative to the round count. At 100 TB
  the distributed path runs without a probe. The policy is only as good
  as the statistics: a driver-built frame must come from
  ``model.local_frame`` (exact size), because a list-built
  ``createDataFrame`` reports Long.MaxValue and forces distributed.
"""

from __future__ import annotations

import os
from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from graphdatabases_spark.graph.model import PropertyGraph, local_frame

DIST_SCHEMA = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("dist", IntegerType(), nullable=False),
    ]
)

PATH_SCHEMA = StructType(
    [
        StructField("dist", IntegerType(), nullable=False),
        StructField("path", ArrayType(LongType()), nullable=False),
    ]
)

LOCAL_EDGE_THRESHOLD = 2_000_000
CHECKPOINT_EVERY = 4

# --- multi-hop blocking for the distributed BFS kernels (round 14) --------
# The deep-traversal wall is NOT data volume: at depth 300 the grid500
# bench rows spent ~0.5 s/hop of fixed synchronous-BSP latency (eager
# checkpoint job + probe job + broadcast builds per hop) on frontiers of
# a few hundred rows.  When the frontier is provably small, up to
# _BLOCK_MAX_HOPS expansion levels are composed LAZILY into one plan and
# materialized with ONE action (plus one cheap probe of the result), so
# the per-hop scheduling floor is paid once per BLOCK instead of once
# per hop.  Exactness: every level still anti-joins `visited` (all
# pre-block discoveries), and the block result is reduced by
# min(dist) per id before anything reads it — within-block re-discovery
# echoes (an undirected edge walks back onto a level-i node at level
# i+2, which per-hop materialization used to kill via the visited
# anti-join) are therefore dropped, and a node's emitted dist is its
# true BFS level (a spurious parent has strictly larger dist, so every
# candidate it generates lands strictly above the child's true level —
# the min is untouched).  Deduped block == the exact BFS levels; the
# only cost of blocking is some re-expanded echo rows inside the block,
# bounded by (k/2)·|level| on symmetric graphs.
#
# Scale safety (the 100 TB contract): blocking only engages while the
# WORST-CASE estimated frontier stays driver-trivial — the block's k is
# the largest with rows·growth^k <= _BLOCK_SAFE_ROWS, where `growth` is
# a learned per-level expansion ratio that starts conservative (8x) and
# is re-estimated from each block's measured first/last level counts
# with a 2x margin (floor 2x, cap 64x).  A hub-explosive graph measures
# a large ratio after its first block and collapses back to k=1 — the
# pre-round-14 per-hop kernel, bit-identical behavior.
# Block size cap: measured on the 300-grid 60-hop fixture (interleaved
# A/B, 3 repeats, round 14): k=1 0.37 s/hop, k=2 0.28, k=4 0.24 (with
# the size-adaptive edge cache below), k=8 WORSE than k=4 — each level
# inside a block is still a sequentially-materialized AQE stage pair
# (shuffle + broadcast build), so past ~4 levels the saved
# checkpoint/probe jobs no longer dominate and the block's within-plan
# echo rows and planning cost grow.  4 is the measured knee.
_BLOCK_MAX_HOPS = 4
_BLOCK_SAFE_ROWS = 1_000_000

# Distinct-deferred blocks (round 15): when the block's worst-case
# per-level expansion is PROVABLY bounded — frontier_rows·max_deg^i,
# with max_deg the measured max out-degree of the cached edge set, not
# the learned growth estimate — the per-level ``distinct`` (bfs) /
# ``groupBy(id).min(path)`` (ssp) shuffles are skipped entirely and the
# block's one reduction (min(dist) / min(struct(dist, path))) dedups at
# block end.  Every level's join and visited anti-join then broadcasts
# a provably-small side, so a whole block plans with ZERO exchanges
# before the block-end reduction; the per-level AQE shuffle-stage pair
# that was the r14 floor disappears.  The multiset a level carries is
# bounded by the same max_deg power that gates engagement, so nothing
# relies on an estimate (advice r14: the learned ratio must not feed a
# broadcast hint).  Levels past the proven bound, hub graphs
# (max_deg blows the bound at i=1) and large-visited regimes fall back
# to the r14 per-level-distinct path unchanged.
_BLOCK_MAX_HOPS_DEFER = int(os.environ.get("SPARK_GRAFT_BFS_DEFER_K", "6"))
_DEFER_ENABLED = os.environ.get("SPARK_GRAFT_BFS_DEFER", "1") != "0"

# Per-partition byte target for the persisted traversal edge cache.
# The per-level join schedules one task per cached edge partition; a
# sub-threshold-adjacent graph (the 500-grid deep rows: 499k edges,
# ~12 MB) otherwise inherits the scan's 32 partitions and pays 32
# near-empty task launches PER LEVEL.  64 MB/partition keeps big
# graphs parallel (a 100 GB edge set still gets ~1600 partitions) and
# collapses toy ones to 1-2 tasks; derived from plan stats, so the
# sizing adapts to the input instead of the local core count.
_EDGE_CACHE_PARTITION_BYTES = 64 << 20


def _block_k(
    frontier_rows: int,
    growth: float,
    remaining: int | None,
    cap: int = _BLOCK_MAX_HOPS,
    safe_rows: int = _BLOCK_SAFE_ROWS,
) -> int:
    """Largest hop-block size whose worst-case frontier estimate stays
    under ``safe_rows`` (always >= 1; capped by remaining hops)."""
    k = 1
    est = frontier_rows * growth
    while (
        k < cap
        and (remaining is None or k < remaining)
        and est * growth <= safe_rows
    ):
        k += 1
        est *= growth
    return k


def _next_growth(ratio_k: float, k: int) -> float:
    """Re-estimate the per-level growth ratio from a block's overall
    first→last frontier ratio (k-th root), with a 2x safety margin,
    floored at 2x and capped at 64x."""
    per_level = max(ratio_k, 1e-9) ** (1.0 / k)
    return min(64.0, max(2.0, 2.0 * per_level))

# Frontier rows above which the per-round join switches from broadcast
# to shuffle. An (id, dist) frontier row is ~16 bytes, so 4M rows is
# ~64 MB serialized — comfortably broadcastable; past that, a high-
# fan-out graph's frontier (tens of millions of rows after 2-3 hops)
# would blow the 8 GB broadcast hard limit and driver memory, so the
# kernel shuffle-joins against a src-clustered edge copy instead (built
# lazily, once — only traversals that ever exceed the threshold pay
# for it).
FRONTIER_BROADCAST_MAX = 4_000_000


def _edges_df(graph: PropertyGraph | DataFrame) -> DataFrame:
    if isinstance(graph, PropertyGraph):
        return graph.edge_pairs()  # memoized projection, no repeat RPC
    return graph.select("src", "dst")


def _spark_of(df: DataFrame) -> SparkSession:
    return df.sparkSession


def _shuffle_partitions(spark: SparkSession) -> int:
    """Session shuffle-partition count — the coalesce cap for the
    iterative loops' accumulated-union checkpoints."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


# Catalyst-statistics short-circuit for the auto policy: optimizedPlan
# stats are free (no job), derived from file sizes through the operator
# tree. Below 64 MB the edge set certainly fits on the driver; above
# 4 GB it certainly doesn't; in between run the one-pass count probe.
_STATS_LOCAL_BYTES = 64 << 20
_STATS_DIST_BYTES = 4 << 30


def _plan_size_bytes(df: DataFrame) -> int | None:
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# Probe results cached by (semanticHash, col): the executedPlan() call
# below forces full physical planning on the JVM — a driver round-trip
# measured at ~15-40 ms per invocation — and the iterative kernels call
# the probe once per PUBLIC invocation on the same logical edge relation
# (the reference's workload shape is many calls against one loaded
# graph).  semanticHash needs only analysis (cheap) and is stable for
# the same logical plan within a session.  The probe is a performance
# hint only (skip-a-shuffle), so a stale entry after a mid-session
# bucketing-conf flip costs at most one redundant shuffle, never a
# wrong answer.
_HASHPART_CACHE: dict[tuple[int, str], bool] = {}
_HASHPART_CACHE_MAX = 64


def hash_partitioned_on(df: DataFrame, col: str) -> bool:
    """True when ``df``'s physical plan already reports hash
    partitioning on exactly (``col``) — a scan of a table bucketed by
    that column (the SURVEY §1.2 100-TB edge layout; the scan keeps its
    bucketed form when a downstream operator wants it, or always under
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``) or
    an upstream ``repartition(col)``.  The iterative kernels use this
    to SKIP their one-time edge-side shuffle: each round's join then
    exchanges only the frontier/dist side.

    The match is anchored to the FULL single-column form
    ``hashpartitioning(col#<exprId><type?>, <numPartitions>)`` — a
    multi-column partitioning (e.g. ``hashpartitioning(src#1L, dst#2L,
    200)``) means rows are NOT clustered by ``col`` alone and must
    return False, or the kernels would skip a shuffle the join actually
    needs every round."""
    import re

    try:
        key: tuple[int, str] | None = (df.semanticHash(), col)
    except Exception:
        key = None
    if key is not None and key in _HASHPART_CACHE:
        return _HASHPART_CACHE[key]
    try:
        p = (
            df._jdf.queryExecution()
            .executedPlan()
            .outputPartitioning()
            .toString()
        )
        out = (
            re.fullmatch(
                rf"hashpartitioning\({re.escape(col)}#\d+[A-Za-z]*(, \d+)?\)", p
            )
            is not None
        )
    except Exception:  # non-classic backend: conservatively re-shuffle
        out = False
    if key is not None:
        if len(_HASHPART_CACHE) >= _HASHPART_CACHE_MAX:
            _HASHPART_CACHE.clear()
        _HASHPART_CACHE[key] = out
    return out


def _pick_strategy(edges: DataFrame, strategy: str, local_threshold: int) -> str:
    decision = _decide_strategy(edges, strategy)
    if decision != "probe":
        return decision
    return "local" if edges.count() <= local_threshold else "distributed"


def _decide_strategy(edges: DataFrame, strategy: str) -> str:
    """'local' | 'distributed' | 'probe' (= stats inconclusive, count)."""
    if strategy != "auto":
        return strategy
    # Already collected this edge set → local, no job at all.
    if edges.semanticHash() in _ADJ_CACHE:
        return "local"
    size = _plan_size_bytes(edges)
    if size is not None:
        if size <= _STATS_LOCAL_BYTES:
            return "local"
        if size >= _STATS_DIST_BYTES:
            return "distributed"
    # Ambiguous: count is a single pass; at 100 TB the stats said
    # distributed already, so the probe never runs there.
    return "probe"


# ---------------------------------------------------------------------------
# local fast path
# ---------------------------------------------------------------------------

# Tiny LRU for the local fast path: repeated traversals over the same
# logical edge set (the reference's workload shape — many khop/ssp calls
# against one loaded graph) skip the re-collect. Keyed by the analyzed
# plan's semanticHash: same plan ⇒ same data within a session (mutation
# goes through GraphEngine, which builds a new plan on every change).
_ADJ_CACHE: dict[int, "_AdjIndex"] = {}
_ADJ_CACHE_MAX = 4


class _AdjIndex:
    """Driver-side edge index: CSR over the compacted node universe.

    The traversal kernels run vectorized numpy BFS over ``indptr`` /
    ``nbr_idx`` (a Python dict BFS pays ~1 µs/edge in interpreter
    overhead; the CSR form does a whole frontier level in a handful of
    numpy ops). The dict view (``adj``) is built lazily for consumers
    that genuinely need per-node Python iteration (union-find, LPA,
    local triangle counting) — neighbor lists come out dst-sorted.
    """

    def __init__(self, src, dst):
        import numpy as np

        # src-only quicksort: BFS is neighbor-order-insensitive, and at
        # millions of edges a lexsort costs 4× a plain sort. The
        # deterministic dst-sorted view is deferred to `.adj` (small-
        # graph consumers only). Separate unique + union1d beats one
        # unique over the concatenation ~5× at this scale.
        order = np.argsort(src)
        self.src = src[order]
        self.dst = dst[order]
        self.universe = np.union1d(np.unique(self.src), np.unique(self.dst))
        n = len(self.universe)
        self.indptr = np.empty(n + 1, dtype=np.int64)
        self.indptr[:n] = np.searchsorted(self.src, self.universe, side="left")
        self.indptr[n] = len(self.src)
        self.nbr_idx = np.searchsorted(self.universe, self.dst)
        self._adj: dict[int, list[int]] | None = None

    def node_pos(self, node: int) -> int | None:
        """Position of ``node`` in the universe, or None if absent."""
        import numpy as np

        p = int(np.searchsorted(self.universe, node))
        if p >= len(self.universe) or int(self.universe[p]) != node:
            return None
        return p

    def predecessor_positions(self, node: int):
        """Universe positions of all u with an edge u → node."""
        import numpy as np

        return np.searchsorted(self.universe, self.src[self.dst == node])

    @property
    def adj(self) -> dict[int, list[int]]:
        if self._adj is None:
            import numpy as np

            # Deterministic view: dst-sorted within each src segment
            # (src is the primary lexsort key and already sorted, so
            # segment boundaries — indptr — are unchanged).
            d_sorted = self.dst[np.lexsort((self.dst, self.src))]
            self._adj = {
                int(self.universe[i]): d_sorted[
                    self.indptr[i] : self.indptr[i + 1]
                ].tolist()
                for i in range(len(self.universe))
                if self.indptr[i] < self.indptr[i + 1]
            }
        return self._adj


def _collect_index(edges: DataFrame) -> _AdjIndex:
    """Collect the edge set to a driver-side CSR index via Arrow."""
    key = edges.semanticHash()
    hit = _ADJ_CACHE.get(key)
    if hit is not None:
        return hit
    sel = edges.select("src", "dst")
    if hasattr(sel, "toArrow"):  # Spark 4: Arrow table, no pandas hop
        tbl = sel.toArrow()
        src = tbl.column("src").to_numpy()
        dst = tbl.column("dst").to_numpy()
    else:
        pdf = sel.toPandas()  # Arrow-batched transfer
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
    idx = _AdjIndex(src, dst)
    if len(_ADJ_CACHE) >= _ADJ_CACHE_MAX:
        _ADJ_CACHE.pop(next(iter(_ADJ_CACHE)))
    _ADJ_CACHE[key] = idx
    return idx


def _collect_adjacency(edges: DataFrame) -> dict[int, list[int]]:
    """Driver-side adjacency dict (compat view over the CSR index)."""
    return _collect_index(edges).adj


def _bfs_numpy(idx: _AdjIndex, src: int, max_hops: int | None):
    """Vectorized frontier BFS over the CSR index.

    Returns a dist ndarray aligned to ``idx.universe`` (-1 = unreached),
    or None when ``src`` does not appear in the universe at all.
    """
    import numpy as np

    pos = idx.node_pos(src)
    if pos is None:
        return None
    n = len(idx.universe)
    dist = np.full(n, -1, dtype=np.int32)
    dist[pos] = 0
    frontier = np.array([pos], dtype=np.int64)
    d = 0
    while len(frontier) and (max_hops is None or d < max_hops):
        d += 1
        starts = idx.indptr[frontier]
        counts = idx.indptr[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        # Gather all frontier neighbors in one shot: repeat each start,
        # add a per-segment ramp (global arange minus segment offsets).
        ends = np.cumsum(counts)
        ramp = np.arange(total) - np.repeat(ends - counts, counts)
        nbrs = idx.nbr_idx[np.repeat(starts, counts) + ramp]
        new = np.unique(nbrs[dist[nbrs] < 0])
        if len(new) == 0:
            break
        dist[new] = d
        frontier = new
    return dist


from contextlib import contextmanager


@contextmanager
def _materialized(edges: DataFrame, decision: str):
    """Cache the (possibly join-derived) edge plan for the duration of a
    traversal call when the strategy probe needs a count pass: the probe,
    the adjacency collect, and every BFS round then read the cache
    instead of re-running the plan. When Catalyst statistics already
    decided ('local'/'distributed'), the plan is consumed exactly once
    (one Arrow collect, or persisted inside the BFS kernel itself), so
    persisting here would only add a redundant materialization pass.
    Results escape the block only in materialized form (driver lists or
    eager checkpoints), so the unpersist is safe."""
    if decision == "probe":
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            yield edges
        finally:
            edges.unpersist()
    else:
        yield edges


def _all_integral(rows: list, schema: StructType) -> bool:
    """True when every value is an int (or an array of ints) matching an
    integral(-array) schema field — the only shapes the SQL-literal
    fast path below can render exactly."""
    for f in schema.fields:
        if isinstance(f.dataType, ArrayType):
            if not isinstance(f.dataType.elementType, (IntegerType, LongType)):
                return False
        elif not isinstance(f.dataType, (IntegerType, LongType)):
            return False
    import numbers

    for row in rows:
        for f, v in zip(schema.fields, row):
            if isinstance(f.dataType, ArrayType):
                if not all(isinstance(x, numbers.Integral) for x in v):
                    return False
            elif not isinstance(v, numbers.Integral):
                return False
    return True


def _local_result_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Build a DataFrame from a small driver-side result in ONE slice —
    ``createDataFrame`` on a bare list fans a 1-row result across
    defaultParallelism tasks (a 32-task job to collect one row).
    Flat scalar rows ship as one Arrow batch (pandas) instead of pickled
    Row objects — ~3× faster to construct at 20k+ rows."""
    if rows and not any(isinstance(f.dataType, ArrayType) for f in schema.fields):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
        return spark.createDataFrame(pdf, schema)
    if rows and len(rows) == 1 and _all_integral(rows, schema):
        # The 1-ROW array-typed result (the SSP path): render as ONE
        # SQL statement — a single py4j round-trip. The Arrow batch
        # path below costs ~20 ms per call in JVM round-trips
        # (profiled round 8: >half of a cached ssp() invocation).
        # Restricted to exactly one row (ADVICE r8): a multi-row UNION
        # ALL of literal SELECTs has no contractual row order and its
        # derived nullability can differ from the declared schema —
        # with one row, ordering is moot and the single SELECT's
        # schema names/types are pinned by the CASTs below.
        # Arrays render as transform(split('1,2,…')) rather than an
        # array(…) literal: one string literal is ~5 expression nodes
        # where a 260-element array literal is 260+, and the analyzer
        # walks every node (measured 6-9 ms vs 8-13 ms per build).
        # Integral-only by construction (node ids/dists).
        selects = []
        for row in rows:
            cols = []
            for i, f in enumerate(schema.fields):
                if isinstance(f.dataType, ArrayType):
                    elem = f.dataType.elementType.simpleString()
                    if len(row[i]) == 0:
                        # split('') yields [''] → [NULL]; render empty
                        # arrays directly.
                        cols.append(
                            f"CAST(array() AS {f.dataType.simpleString()})"
                            f" AS {f.name}"
                        )
                        continue
                    inner = ",".join(str(int(v)) for v in row[i])
                    cols.append(
                        f"transform(split('{inner}', ','),"
                        f" x -> CAST(x AS {elem})) AS {f.name}"
                    )
                else:
                    cols.append(
                        f"CAST({int(row[i])} AS {f.dataType.simpleString()})"
                        f" AS {f.name}"
                    )
            selects.append("SELECT " + ", ".join(cols))
        return spark.sql(" UNION ALL ".join(selects))
    # Array-typed and empty results: ONE Arrow batch, planned as a
    # LocalRelation with exact statistics. The row-list path re-verifies
    # every element against the schema driver-side (~6 ms extra on a
    # 1-row path result — measured round 5) and plans as a LogicalRDD
    # that reports Long.MaxValue to anything sized from its stats.
    return local_frame(spark, rows, schema)


def _numpy_result_df(
    spark: SparkSession, arrays: dict[str, "object"], schema: StructType
) -> DataFrame:
    """One-Arrow-batch DataFrame from numpy columns — no tuple list, no
    per-row conversion; the arrays are handed to pandas zero-copy."""
    import pandas as pd

    pdf = pd.DataFrame(arrays, columns=[f.name for f in schema.fields])
    return spark.createDataFrame(pdf, schema)


def _ssp_numpy(
    idx: _AdjIndex, src: int, dst: int, max_hops: int | None
) -> tuple[int, list[int]] | None:
    """Vectorized BFS with predecessor tracking over the CSR index;
    returns (dist, path) or None — same lexicographic-smallest-path
    contract as ``_ssp_local``.

    Lex order is maintained by rank propagation: the frontier is kept in
    path-lex order, every newly reached node takes its minimum-rank
    predecessor (all frontier paths have equal length, so comparing full
    paths reduces to comparing ranks), and the next frontier is ordered
    by (predecessor rank, node id) — which IS path-lex order for the new
    level.
    """
    import numpy as np

    if src == dst:
        return (0, [src])
    pos = idx.node_pos(src)
    dpos = idx.node_pos(dst)
    if pos is None or dpos is None:
        return None
    n = len(idx.universe)
    pred = np.full(n, -1, dtype=np.int64)
    visited = np.zeros(n, dtype=bool)
    visited[pos] = True
    frontier = np.array([pos], dtype=np.int64)  # in path-lex order
    d = 0
    while len(frontier) and (max_hops is None or d < max_hops):
        d += 1
        starts = idx.indptr[frontier]
        counts = idx.indptr[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        ends = np.cumsum(counts)
        ramp = np.arange(total) - np.repeat(ends - counts, counts)
        cand_v = idx.nbr_idx[np.repeat(starts, counts) + ramp]
        cand_rank = np.repeat(np.arange(len(frontier)), counts)
        keep = ~visited[cand_v]
        cand_v, cand_rank = cand_v[keep], cand_rank[keep]
        if len(cand_v) == 0:
            break
        # cand_rank is nondecreasing by construction (candidates are
        # emitted frontier-slot by frontier-slot), so ONE stable sort
        # on v alone puts the min-rank predecessor first per v — no
        # two-key lexsort needed.
        order = np.argsort(cand_v, kind="stable")
        vs_sorted = cand_v[order]
        first = np.ones(len(vs_sorted), dtype=bool)
        first[1:] = vs_sorted[1:] != vs_sorted[:-1]
        new_v = vs_sorted[first]
        new_rank = cand_rank[order][first]
        pred[new_v] = frontier[new_rank]
        visited[new_v] = True
        # Next frontier in path-lex order: by (pred rank, node id) —
        # both nonnegative and < n, so one argsort of the combined
        # int64 key replaces the second lexsort.
        frontier = new_v[np.argsort(new_rank * np.int64(n) + new_v)]
        if visited[dpos]:
            path = [int(idx.universe[dpos])]
            p = dpos
            while pred[p] != -1:
                p = pred[p]
                path.append(int(idx.universe[p]))
            return (d, list(reversed(path)))
    return None


def _ssp_local(
    adj: dict[int, list[int]], src: int, dst: int, max_hops: int | None
) -> tuple[int, list[int]] | None:
    """BFS with predecessor tracking; returns (dist, path) or None.

    Deterministic: neighbors expand in ascending order (the adjacency
    lists come dst-sorted from the CSR build), so the returned path is
    the lexicographically-smallest shortest path.
    """
    if src == dst:
        return (0, [src])
    pred: dict[int, int] = {src: -1}
    q = deque([(src, 0)])
    while q:
        u, du = q.popleft()
        if max_hops is not None and du >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in pred:
                pred[v] = u
                if v == dst:
                    path = [v]
                    while pred[path[-1]] != -1:
                        path.append(pred[path[-1]])
                    return (du + 1, list(reversed(path)))
                q.append((v, du + 1))
    return None


# ---------------------------------------------------------------------------
# distributed kernel
# ---------------------------------------------------------------------------

class _EdgeSides:
    """Per-traversal holder for the two physical layouts of the edge set.

    ``plain`` is the as-scanned cache (no shuffle) that broadcast-frontier
    rounds join against.  ``by_src`` — built lazily, only if some round's
    frontier exceeds ``FRONTIER_BROADCAST_MAX`` — is a src-hash-clustered
    copy (SURVEY §4.3.2): its InMemoryTableScan reports
    HashPartitioning(src), so a shuffle join against it exchanges ONLY
    the frontier side each round.
    """

    def __init__(self, edges: DataFrame):
        plain = edges.select("src", "dst")
        self._max_out_deg: int | None = None
        # Size-adaptive partition count for the persisted copy (round
        # 14; see _EDGE_CACHE_PARTITION_BYTES) — UNLESS the relation is
        # already src-clustered (bucketed table / upstream
        # repartition): coalesce would erase the hashpartitioning(src)
        # the shuffle-join regime exploits, re-introducing the per-round
        # edge exchange the bucketed layout exists to avoid.
        if not hash_partitioned_on(plain, "src"):
            est = _plan_size_bytes(plain)
            if est is not None and est > 0:
                # min() keeps the arg in Java-int range when stats
                # report "unknown" as Long.MaxValue; coalesce clamps to
                # the input partition count anyway (never increases).
                plain = plain.coalesce(
                    min(
                        1_000_000,
                        max(1, est // _EDGE_CACHE_PARTITION_BYTES + 1),
                    )
                )
        self.plain = plain.persist(StorageLevel.MEMORY_AND_DISK)
        self._by_src: DataFrame | None = None

    def by_src(self) -> DataFrame:
        if self._by_src is None:
            if hash_partitioned_on(self.plain, "src"):
                # src-bucketed edge table (SURVEY §1.2): the cache is
                # already src-clustered — no one-time shuffle needed.
                self._by_src = self.plain
            else:
                spark = _spark_of(self.plain)
                n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
                self._by_src = self.plain.repartition(n, "src").persist(
                    StorageLevel.MEMORY_AND_DISK
                )
        return self._by_src

    def max_out_degree(self) -> int:
        """Max out-degree of the cached edge set (one aggregate job,
        computed lazily and memoized).  The multi-hop block loops use
        ``frontier_rows * max_deg^i`` as a PROVABLE bound on the level-i
        expansion — the broadcast gate for in-block levels (advice r14:
        the learned growth ratio is an estimate, and a hub vertex inside
        a small frontier could otherwise get an F.broadcast hint on tens
        of millions of rows) and the engage condition for the per-level
        distinct deferral."""
        if self._max_out_deg is None:
            row = (
                self.plain.groupBy("src")
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(F.max("c").alias("m"))
                .collect()[0]
            )
            self._max_out_deg = int(row["m"] or 1)
        return self._max_out_deg

    def join_frontier(self, frontier: DataFrame, frontier_rows: int) -> DataFrame:
        """frontier ⋈ edges on id=src, picking the join side by size."""
        if frontier_rows <= FRONTIER_BROADCAST_MAX:
            return self.plain.join(F.broadcast(frontier), F.col("src") == F.col("id"))
        return self.by_src().join(frontier, F.col("src") == F.col("id"))

    def release(self) -> None:
        self.plain.unpersist()
        if self._by_src is not None and self._by_src is not self.plain:
            self._by_src.unpersist()


def _bfs_distributed(
    edges: DataFrame,
    src: int,
    max_hops: int | None,
    checkpoint_every: int = CHECKPOINT_EVERY,
) -> DataFrame:
    """Frontier BFS as an iterative join loop; returns DataFrame(id, dist).

    Each round joins the frontier against the persisted edges — broadcast
    while the frontier is small (no co-partitioning, so the edge cache
    needs NO up-front shuffle), switching to a shuffle join against a
    src-clustered edge copy once the frontier outgrows
    ``FRONTIER_BROADCAST_MAX`` (see ``_EdgeSides``) — then a
    map-side-combinable distinct and an anti-join against visited.
    Small-frontier hops are composed into lazy multi-hop blocks (see
    ``_BLOCK_MAX_HOPS``) so the fixed BSP scheduling latency is paid
    once per block; lineage is truncated with one eager localCheckpoint
    per block.
    """
    spark = _spark_of(edges)
    sides = _EdgeSides(edges)
    try:
        frontier = spark.createDataFrame([(src, 0)], DIST_SCHEMA)
        visited = frontier
        visited_rows = 1
        frontier_rows = 1
        d = 0
        growth = 8.0  # conservative prior; learned per block (_next_growth)
        since_ckpt = 0
        while (max_hops is None or d < max_hops) and frontier_rows > 0:
            remaining = None if max_hops is None else max_hops - d
            k = _block_k(frontier_rows, growth, remaining)
            defer = False
            max_deg = None
            if k > 1:
                # Small-frontier regime: fetch the real degree bound
                # (lazy one-time aggregate) — it gates the in-block
                # broadcasts and, when it proves the whole block small,
                # engages the distinct-deferred fast path.
                max_deg = sides.max_out_degree()
                if _DEFER_ENABLED and visited_rows <= FRONTIER_BROADCAST_MAX:
                    # The binding constraint on a deferred (id, dist)
                    # multiset is the per-level broadcast cap itself —
                    # rows are 16 B, so FRONTIER_BROADCAST_MAX (~64 MB)
                    # is also a safe materialization bound.
                    kd = _block_k(
                        frontier_rows, float(max_deg), remaining,
                        cap=_BLOCK_MAX_HOPS_DEFER,
                        safe_rows=FRONTIER_BROADCAST_MAX,
                    )
                    if kd >= 2:
                        defer, k = True, kd
            # Compose k hops lazily; each level anti-joins the
            # pre-block `visited` only (within-block echoes are removed
            # by the min(dist) reduction below — see _BLOCK_MAX_HOPS).
            # The visited side broadcasts while its EXACT row count is
            # under the cap (one build per block, reused by every
            # level); in-block level i's frontier side broadcasts only
            # when the PROVABLE bound frontier_rows·max_deg^(i-1)
            # clears the cap (advice r14 — never an estimate).
            vis = (
                F.broadcast(visited)
                if visited_rows <= FRONTIER_BROADCAST_MAX
                else visited
            )
            f = frontier.select("id")
            block = None
            for i in range(1, k + 1):
                gate_rows = (
                    frontier_rows
                    if i == 1 or max_deg is None
                    else frontier_rows * max_deg ** (i - 1)
                )
                nf = sides.join_frontier(f, gate_rows).select(
                    F.col("dst").alias("id")
                )
                if not defer:
                    nf = nf.distinct()
                nf = nf.join(vis, "id", "left_anti").select(
                    F.col("id"), F.lit(d + i).cast("int").alias("dist")
                )
                block = nf if block is None else block.unionByName(nf)
                f = nf.select("id")
            if k > 1:
                block = block.groupBy("id").agg(F.min("dist").alias("dist"))
            # Eager checkpoint ONCE PER BLOCK: the returned `visited`
            # must not retain lineage into `edges`, which is unpersisted
            # when this function returns — lazy persistence here would
            # silently recompute the whole loop (from the raw edge plan)
            # at the caller's first action.
            block = block.localCheckpoint(eager=True)
            # One cheap probe of the fresh checkpoint: emptiness test,
            # next block's broadcast-vs-shuffle sizing, and the growth
            # re-estimate all come out of a single aggregate.
            stats = block.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("dist") == d + k, 1)).alias("nlast"),
            ).collect()[0]
            if stats["n"] == 0:
                break
            visited = visited.union(block)
            visited_rows += stats["n"]
            d += k
            since_ckpt += k
            if since_ckpt >= checkpoint_every:
                # Collapse the growing union tree so plan size stays
                # O(1) — AND coalesce first: each union appends the
                # block's partitions, so without the coalesce the
                # checkpointed partition count grows ~linearly with
                # depth and the per-round anti-join's visited scan pays
                # that many task launches every round. Measured on the
                # 500-grid at 300 hops: 2.4 s/round average (715 s
                # total) with the growth vs a flat ~0.45 s/round once
                # capped (round-10 deep-BFS audit, SCALE.md).  In the
                # broadcast regime (exact count under the cap — ~64 MB
                # of (id, dist) rows) ONE partition suffices and every
                # per-block broadcast build of `visited` then schedules
                # one task instead of shuffle_partitions of them.
                visited = visited.coalesce(
                    1
                    if visited_rows <= FRONTIER_BROADCAST_MAX
                    else _shuffle_partitions(spark)
                ).localCheckpoint(eager=True)
                since_ckpt = 0
            if k > 1:
                growth = _next_growth(
                    stats["nlast"] / max(frontier_rows, 1), k
                )
            frontier_rows = stats["nlast"]
            frontier = block.filter(F.col("dist") == d)
        return visited
    finally:
        sides.release()


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def bfs_distances(
    graph: PropertyGraph | DataFrame,
    src: int,
    max_hops: int | None = None,
    strategy: str = "auto",
    local_threshold: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """Shortest hop-count distance from ``src`` to every reachable node.

    Returns DataFrame(id BIGINT, dist INT), including ``src`` at dist 0.
    """
    plan = _edges_df(graph)  # already src/dst-projected; no re-select RPC
    spark = _spark_of(plan)
    eff_threshold = (
        min(local_threshold, max_hops * 500_000) if max_hops else local_threshold
    )
    decision = _decide_strategy(plan, strategy)
    with _materialized(plan, decision) as edges:
        chosen = (
            decision
            if decision != "probe"
            else ("local" if edges.count() <= eff_threshold else "distributed")
        )
        if chosen == "local":
            import numpy as np

            idx = _collect_index(edges)
            dist = _bfs_numpy(idx, src, max_hops)
            if dist is None:  # src absent from the edge universe
                return _local_result_df(spark, [(src, 0)], DIST_SCHEMA)
            mask = dist >= 0
            return _numpy_result_df(
                spark,
                {"id": idx.universe[mask], "dist": dist[mask]},
                DIST_SCHEMA,
            )
        return _bfs_distributed(edges, src, max_hops)


def khop(
    graph: PropertyGraph | DataFrame,
    src: int,
    hops: int,
    include_root: bool = False,
    strategy: str = "auto",
    local_threshold: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """All distinct nodes reachable from ``src`` in 1..hops directed hops.

    Reference: ``get_nodes_hops`` (``databases.py:122 / 224-227 / 287-289``).
    Canonical semantics = Neo4j/ArangoDB: root EXCLUDED unless re-reached
    via a cycle of length ≤ hops. ``include_root=True`` gives OrientDB's
    root-included variant (``databases.py:288``).

    Returns DataFrame(id BIGINT).
    """
    plan = _edges_df(graph)  # already src/dst-projected; no re-select RPC
    spark = _spark_of(plan)
    # Crossover economics: local pays one O(E) Arrow collect (~1 s per
    # million edges), distributed pays ~1-2 s of fixed job latency PER
    # ROUND regardless of size. Local therefore wins unless the edge set
    # is large relative to the round count.
    eff_threshold = min(local_threshold, hops * 500_000)
    decision = _decide_strategy(plan, strategy)
    with _materialized(plan, decision) as edges:
        chosen = (
            decision
            if decision != "probe"
            else ("local" if edges.count() <= eff_threshold else "distributed")
        )

        if chosen == "local":
            import numpy as np

            id_schema = StructType([StructField("id", LongType(), False)])
            idx = _collect_index(edges)
            dist = _bfs_numpy(idx, src, hops)
            if dist is None:  # src absent: nothing reachable, no cycle
                rows = [(src,)] if include_root else []
                return _local_result_df(spark, rows, id_schema)
            pos = idx.node_pos(src)
            mask = dist >= 0
            mask[pos] = False  # root excluded by default (quirk 2)
            root_in = include_root
            if not root_in:
                # Root re-reached via a cycle: some reached u at dist ≤
                # hops-1 has an edge u → src (vectorized over in-edges).
                pd_pos = idx.predecessor_positions(src)
                du = dist[pd_pos]
                root_in = bool(np.any((du >= 0) & (du <= hops - 1)))
            if root_in:
                mask[pos] = True
            return _numpy_result_df(spark, {"id": idx.universe[mask]}, id_schema)

        visited = _bfs_distributed(edges, src, hops)
        result = visited.filter(F.col("dist") >= 1).select("id").localCheckpoint(
            eager=True
        )
        if include_root:
            root = spark.createDataFrame([(src,)], "id long")
            return result.union(root).distinct()
        # Cycle check: any edge u → src where dist(u) ≤ hops-1.
        closers = (
            edges.filter(F.col("dst") == src)
            .join(
                visited.filter(F.col("dist") <= hops - 1),
                edges.src == visited.id,
                "left_semi",
            )
            .limit(1)
        )
        if closers.count() > 0:
            root = spark.createDataFrame([(src,)], "id long")
            return result.union(root).distinct()
        return result


def ssp(
    graph: PropertyGraph | DataFrame,
    src: int,
    dst: int,
    max_hops: int | None = None,
    strategy: str = "auto",
    local_threshold: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """Unweighted shortest path ``src → dst``; path returned.

    Reference: ``ssp`` (Neo4j ``shortestPath((a)-[*]->(b))``
    ``databases.py:125-127``; AQL ``OUTBOUND SHORTEST_PATH``
    ``databases.py:229-233``). The reference's Cypher form is depth-
    unbounded (SURVEY §7 risk 3); we cap at ``max_hops`` (default |V|
    implied by BFS termination — BFS naturally stops when the frontier
    empties, so no explicit cap is required for termination).

    Returns DataFrame(dist INT, path ARRAY<BIGINT>) with 0 or 1 row; the
    path is the lexicographically-smallest shortest path (deterministic).
    """
    plan = _edges_df(graph)  # already src/dst-projected; no re-select RPC
    spark = _spark_of(plan)
    decision = _decide_strategy(plan, strategy)
    with _materialized(plan, decision) as edges:
        chosen = (
            decision
            if decision != "probe"
            else ("local" if edges.count() <= local_threshold else "distributed")
        )

        if chosen == "local":
            hit = _ssp_numpy(_collect_index(edges), src, dst, max_hops)
            rows = [] if hit is None else [hit]
            return _local_result_df(spark, rows, PATH_SCHEMA)

        return _ssp_distributed(edges, src, dst, max_hops)


def _ssp_distributed(
    edges: DataFrame,
    src: int,
    dst: int,
    max_hops: int | None,
    checkpoint_every: int = CHECKPOINT_EVERY,
) -> DataFrame:
    """BFS carrying one lexicographically-smallest path per frontier node.

    Per round: expand frontier paths along edges, keep ``min(path)`` per
    destination (deterministic tie-break), drop already-visited nodes,
    early-exit as soon as ``dst`` enters the frontier.
    """
    spark = _spark_of(edges)
    if src == dst:
        return spark.createDataFrame([(0, [src])], PATH_SCHEMA)
    sides = _EdgeSides(edges)
    try:
        frontier = spark.createDataFrame(
            [(src, [src])],
            StructType(
                [
                    StructField("id", LongType(), False),
                    StructField("path", ArrayType(LongType()), False),
                ]
            ),
        )
        visited = frontier.select("id")
        visited_rows = 1
        frontier_rows = 1
        d = 0
        growth = 8.0  # conservative prior; learned per block (_next_growth)
        since_ckpt = 0
        while (max_hops is None or d < max_hops) and frontier_rows > 0:
            remaining = None if max_hops is None else max_hops - d
            k = _block_k(frontier_rows, growth, remaining)
            max_deg = sides.max_out_degree() if k > 1 else None
            # NOTE (round 15, measured): the bfs kernel's distinct
            # deferral is NOT applied here — without the per-level
            # min(path) reduction the candidate multiset carries one row
            # PER SHORTEST WALK (binomially many on lattice-like
            # graphs), each with a growing path array; the 300-grid
            # fixture regressed 16 s → 24-36 s.  The per-level reduction
            # stays; only the broadcast gates (worst-case max_deg bound,
            # exact visited count) changed.
            # Compose k hops lazily (see _bfs_distributed / the
            # _BLOCK_MAX_HOPS note): each level anti-joins the pre-block
            # `visited` and keeps the per-id lexicographic min path —
            # equal-length paths compare element-wise, so the per-level
            # reduction preserves the global lex-min-path invariant.
            # Within-block echoes (a node re-discovered at a strictly
            # larger level) are dropped by the min(struct(dist, path))
            # reduction below: dist leads the struct, so the true first
            # discovery always wins, and echo-generated candidates land
            # strictly above their child's true level.
            vis = (
                F.broadcast(visited)
                if visited_rows <= FRONTIER_BROADCAST_MAX
                else visited
            )
            f = frontier
            block = None
            for i in range(1, k + 1):
                bound = (
                    frontier_rows
                    if i == 1 or max_deg is None
                    else frontier_rows * max_deg ** (i - 1)
                )
                # A path-carrying frontier row is ~8·d bytes, not 16:
                # scale the broadcast cutoff down by the path length.
                eff_rows = bound * max(1, (d + i) // 2)
                nf = (
                    sides.join_frontier(f, eff_rows)
                    .select(
                        F.col("dst").alias("id"),
                        F.concat(F.col("path"), F.array(F.col("dst"))).alias(
                            "path"
                        ),
                    )
                    .join(vis, "id", "left_anti")
                    .groupBy("id")
                    .agg(F.min("path").alias("path"))
                )
                lvl = nf.select(
                    "id", F.lit(d + i).cast("int").alias("dist"), "path"
                )
                block = lvl if block is None else block.unionByName(lvl)
                f = nf
            if k > 1:
                block = (
                    block.groupBy("id")
                    .agg(F.min(F.struct("dist", "path")).alias("m"))
                    .select("id", F.col("m.dist").alias("dist"),
                            F.col("m.path").alias("path"))
                )
            block = block.localCheckpoint(eager=True)
            # ONE probe per block: emptiness test, next block's
            # broadcast sizing, AND the destination hit — dist leads the
            # struct so the min is the earliest (then lex-min) dst path.
            probe = block.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("dist") == d + k, 1)).alias("nlast"),
                F.min(
                    F.when(F.col("id") == dst, F.struct("dist", "path"))
                ).alias("hit"),
            ).collect()[0]
            if probe["hit"] is not None:
                return _local_result_df(
                    spark,
                    [(probe["hit"]["dist"], list(probe["hit"]["path"]))],
                    PATH_SCHEMA,
                )
            if probe["n"] == 0:
                break
            visited = visited.union(block.select("id"))
            visited_rows += probe["n"]
            d += k
            since_ckpt += k
            if since_ckpt >= checkpoint_every:
                # coalesce caps the checkpointed partition count (see
                # _bfs_distributed — unbounded growth with depth; one
                # partition in the broadcast regime so each per-block
                # visited broadcast build schedules one task).
                visited = visited.coalesce(
                    1
                    if visited_rows <= FRONTIER_BROADCAST_MAX
                    else _shuffle_partitions(spark)
                ).localCheckpoint(eager=True)
                since_ckpt = 0
            if k > 1:
                growth = _next_growth(
                    probe["nlast"] / max(frontier_rows, 1), k
                )
            frontier_rows = probe["nlast"]
            frontier = block.filter(F.col("dist") == d).select("id", "path")
        return _local_result_df(spark, [], PATH_SCHEMA)
    finally:
        # Results are driver-local rows (every return path), so the
        # persisted edge copies can be dropped unconditionally.
        sides.release()
