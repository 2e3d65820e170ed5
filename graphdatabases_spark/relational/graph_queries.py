"""Graph queries for the correctness catalog (SURVEY §2.2 graph analytics).

Two fixture families:

- **entity graph** over the testdata star schema (FIXTURES.md §B):
  customer —places→ order —contains→ part —supplied_by→ supplier, in
  disjoint id spaces (order+1e9, part+2e9, supplier+3e9). Exercises
  k-hop/BFS on real tables with a DuckDB ``WITH RECURSIVE`` oracle.
- **generated graphs** (grid / chains / ring with skip links) built from
  ``spark.range`` on the Spark side and ``generate_series`` on the DuckDB
  side — deterministic closed-form fixtures (FIXTURES.md §A).

The Spark implementations reuse the engine kernels (khop/bfs_distances/
ssp/connected_components/triangle_count/pagerank) — these catalog entries
are the oracle-checked façade over the same code paths the GraphEngine
API uses.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graphdatabases_spark.graph.algorithms import (
    _min_labels,
    _pagerank_units_rounds,
    _release,
    connected_components,
    pagerank,
    personalized_pagerank,
    personalized_pagerank_batch,
    triangle_count,
    weighted_sssp,
)
from graphdatabases_spark.graph.generators import grid_graph, ring_graph
from graphdatabases_spark.graph.model import local_frame
from graphdatabases_spark.graph.traversal import (
    LOCAL_EDGE_THRESHOLD,
    bfs_distances,
    broadcast_side,
    khop,
    ssp,
)
from graphdatabases_spark.relational.catalog import register, table

ORDER_BASE = 1_000_000_000
PART_BASE = 2_000_000_000
SUPP_BASE = 3_000_000_000

# Shared SQL prefix: the entity-graph edge list (distinct directed edges).
ENTITY_EDGES_SQL = f"""
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT o_custkey AS src, {ORDER_BASE} + o_orderkey AS dst FROM orders
        UNION ALL
        SELECT {ORDER_BASE} + l_orderkey, {PART_BASE} + l_partkey FROM lineitem
        UNION ALL
        SELECT {PART_BASE} + l_partkey, {SUPP_BASE} + l_suppkey FROM lineitem
      )
    )
"""


def entity_edges(spark: SparkSession, sf: str, dedup: bool = True) -> DataFrame:
    """Layered entity graph as a (src, dst) edge DataFrame.

    Both lineitem-derived edge layers come from ONE scan (explode of a
    2-struct array) instead of two passes over the fact table. Traversal
    consumers pass ``dedup=False``: BFS dedups per frontier anyway, so
    the up-front ``distinct`` would add the single most expensive shuffle
    in the whole query for nothing — only multiplicity-sensitive readers
    (the degree histogram) need the distinct edge multiset.
    """
    o = table(spark, sf, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.lit(ORDER_BASE) + F.col("o_orderkey")).alias("dst"),
    )
    l = table(spark, sf, "lineitem")
    both = l.select(
        F.explode(
            F.array(
                F.struct(
                    (F.lit(ORDER_BASE) + F.col("l_orderkey")).alias("src"),
                    (F.lit(PART_BASE) + F.col("l_partkey")).alias("dst"),
                ),
                F.struct(
                    (F.lit(PART_BASE) + F.col("l_partkey")).alias("src"),
                    (F.lit(SUPP_BASE) + F.col("l_suppkey")).alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    out = o.union(both)
    return out.distinct() if dedup else out


def _edge_positions(edges, *cols: str) -> tuple:
    """``(src, dst, ids, s, d, *cols)`` of an Arrow edge table: its
    distinct ``(src, dst)`` pairs as int64 arrays, the sorted vertex
    ids, each pair's endpoints as positions in ``ids``, and the pairs'
    values of the columns ``cols``, which must be functions of the
    pair."""
    import numpy as np

    src, dst = (
        np.asarray(edges.column(c).to_numpy(), dtype=np.int64)
        for c in ("src", "dst")
    )
    ids, pos = np.unique(np.concatenate([src, dst]), return_inverse=True)
    # One key per pair; it fits int64 up to 3e9 vertices.
    key = pos[: len(src)] * len(ids) + pos[len(src) :]
    if cols:  # one row per pair, any of its duplicates
        order = np.argsort(key)
        key = key[order]
        first = np.r_[True, key[1:] != key[:-1]]
        key, order = key[first], order[first]
    else:
        key = np.unique(key)
    s, d = np.divmod(key, len(ids))
    extra = (edges.column(c).to_numpy()[order] for c in cols)
    return (ids[s], ids[d], ids, s, d, *extra)


def _task_frame(edges: DataFrame, body, schema: StructType) -> DataFrame:
    """The frame that runs ``body`` in one executor task, which gets
    every Arrow batch of ``edges`` and yields the rows."""

    def task(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = body(pa.Table.from_batches(list(batches)))
        yield pa.RecordBatch.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema)
        )

    return edges.coalesce(1).mapInArrow(task, schema)


def _numpy_entry(
    edges: DataFrame, body, schema: StructType, max_edges: int
) -> DataFrame:
    """An entry computed whole by ``body``, a numpy function from the
    Arrow table of ``edges`` to the entry's rows. The row count of
    ``edges`` (duplicates included, as a collect carries them) is
    observed on their eager checkpoint, before anything is collected.
    Up to ``max_edges`` rows the table comes to the driver; above it
    one executor task runs ``body`` and only the rows come back: the
    bound caps driver memory, it is not a speed crossover. The rows
    return as one partition, which ``count()`` reads in one job. The
    incremental PageRank and CC entries and the MIS and (b-)matching
    repair entries all run this way."""
    obs = Observation()
    ckpt = edges.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(True)
    try:
        if obs.get["n"] <= max_edges:
            rows = body(ckpt.toArrow())
        else:
            rows = _task_frame(ckpt, body, schema).collect()
    finally:
        _release(ckpt)
    return local_frame(edges.sparkSession, rows, schema).coalesce(1)


# ---------------------------------------------------------------------------
# Entity-graph traversals (real-table fixtures)
# ---------------------------------------------------------------------------

@register(
    "graph_khop_entity",
    oracle=f"""
    WITH RECURSIVE {ENTITY_EDGES_SQL},
    walk(id, d) AS (
      SELECT CAST(1 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.id WHERE w.d < 3
    )
    SELECT DISTINCT id FROM walk WHERE d >= 1
    ORDER BY id
    """,
    doc="k-hop (hops=3) from customer 1 over the entity graph — the "
    "reference get_nodes_hops semantics (root excluded) on real tables.",
)
def graph_khop_entity(spark: SparkSession, sf: str) -> DataFrame:
    return khop(entity_edges(spark, sf, dedup=False), src=1, hops=3).orderBy("id")


@register(
    "graph_bfs_distances_entity",
    oracle=f"""
    WITH RECURSIVE {ENTITY_EDGES_SQL},
    walk(id, d) AS (
      SELECT CAST(1 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.id WHERE w.d < 3
    )
    SELECT id, CAST(min(d) AS INT) AS dist FROM walk WHERE id <> 1
    GROUP BY id
    ORDER BY id
    """,
    doc="BFS shortest hop-count distances (≤3) from customer 1 — the ssp "
    "distance semantics over every reachable node.",
)
def graph_bfs_distances_entity(spark: SparkSession, sf: str) -> DataFrame:
    return (
        bfs_distances(entity_edges(spark, sf, dedup=False), src=1, max_hops=3)
        .filter(F.col("id") != 1)
        .orderBy("id")
    )


@register(
    "graph_degree_histogram",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    deg AS (SELECT src, count(*) AS out_degree FROM edges GROUP BY src)
    SELECT out_degree, count(*) AS num_nodes
    FROM deg GROUP BY out_degree
    ORDER BY out_degree
    """,
    doc="Out-degree distribution of the entity graph (one explode-free "
    "double aggregation — scales to any edge count).",
)
def graph_degree_histogram(spark: SparkSession, sf: str) -> DataFrame:
    e = entity_edges(spark, sf)
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_degree"))
        .groupBy("out_degree")
        .agg(F.count(F.lit(1)).alias("num_nodes"))
        .orderBy("out_degree")
    )


@register(
    "graph_node_derivation",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL}
    SELECT count(DISTINCT id) AS num_nodes FROM (
      SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
    )
    """,
    doc="Node-set derivation from the edge list (reference conv.py O8): "
    "project → explode → distinct.",
)
def graph_node_derivation(spark: SparkSession, sf: str) -> DataFrame:
    # countDistinct dedups ids itself — the distinct edge shuffle is redundant.
    e = entity_edges(spark, sf, dedup=False)
    return (
        e.select(F.explode(F.array("src", "dst")).alias("id"))
        .agg(F.countDistinct("id").alias("num_nodes"))
    )


@register(
    "graph_copurchase_pairs",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, count(*) AS together
    FROM pairs
    GROUP BY part_a, part_b
    HAVING count(*) >= 2
    ORDER BY together DESC, part_a, part_b
    LIMIT 20
    """,
    doc="Co-purchase 2-hop self-join: part pairs sharing an order "
    "(triangle-count join shape on a bipartite projection).",
)
def graph_copurchase_pairs(spark: SparkSession, sf: str) -> DataFrame:
    l = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a, b = l.alias("a"), l.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 2)
        .orderBy(F.col("together").desc(), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Generated-graph fixtures (grid / chains / ring) — sf-independent
# ---------------------------------------------------------------------------

GRID_N = 20

GRID_EDGES_SQL = f"""
    edges AS (
      SELECT i AS src, i + 1 AS dst
      FROM generate_series(0, {GRID_N * GRID_N - 1}) t(i) WHERE i % {GRID_N} <> {GRID_N - 1}
      UNION ALL
      SELECT i, i + {GRID_N}
      FROM generate_series(0, {GRID_N * GRID_N - GRID_N - 1}) t(i)
    )
"""


@register(
    "graph_khop_grid",
    oracle=f"""
    WITH RECURSIVE {GRID_EDGES_SQL},
    walk(id, d) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.id WHERE w.d < 6
    )
    SELECT DISTINCT id FROM walk WHERE d >= 1
    ORDER BY id
    """,
    doc=f"k-hop (hops=6) from node 0 on the {GRID_N}x{GRID_N} grid — "
    "closed form h(h+3)/2 = 27 nodes (FIXTURES §A1).",
)
def graph_khop_grid(spark: SparkSession, sf: str) -> DataFrame:
    return khop(grid_graph(spark, GRID_N), src=0, hops=6).orderBy("id")


_PPR_SOURCES = (0, GRID_N * 10 + 10)  # corner + center of the grid
_PPR_ROUNDS = 6


def _ppr_round_sql(k: int) -> str:
    """One unrolled PPR power-iteration round (the LPA/k-means unroll
    precedent — a recursive CTE can't both aggregate messages AND keep
    message-less teleport nodes alive, since the working table may be
    referenced only once)."""
    srcs = ", ".join(str(s) for s in _PPR_SOURCES)
    return f"""
    r{k} AS (
      SELECT v.i AS id,
        CASE WHEN v.i IN ({srcs}) THEN 0.15 / {len(_PPR_SOURCES)}
             ELSE 0.0 END
          + 0.85 * coalesce(m.msg, 0.0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(p.rank / o.d) AS msg
        FROM r{k - 1} p
        JOIN edges e ON e.src = p.id
        JOIN outdeg o ON o.src = p.id
        GROUP BY e.dst
      ) m ON m.id = v.i
    )"""


@register(
    "graph_ppr_grid",
    oracle=f"""
    WITH {GRID_EDGES_SQL},
    verts AS (SELECT i FROM generate_series(0, {GRID_N * GRID_N - 1}) t(i)),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (
      SELECT i AS id,
        CASE WHEN i IN ({", ".join(str(s) for s in _PPR_SOURCES)})
             THEN 1.0 / {len(_PPR_SOURCES)} ELSE 0.0 END AS rank
      FROM verts
    ),{",".join(_ppr_round_sql(k) for k in range(1, _PPR_ROUNDS + 1))}
    SELECT CAST(id AS BIGINT) AS id, round(rank, 6) AS rank
    FROM r{_PPR_ROUNDS} ORDER BY id
    """,
    doc=f"Personalized PageRank (random walk with restart into the "
    f"2-node teleport set {{0, {GRID_N * 10 + 10}}}), {_PPR_ROUNDS} "
    "fixed rounds, d=0.85, on the 20x20 grid — the 'related entities' "
    "operator plain PageRank's uniform teleport cannot express. The "
    "oracle unrolls the power iteration as chained CTEs (each round "
    "rebuilds from the FULL vertex set so teleport sources with no "
    "in-edges keep their restart mass — a recursive CTE can only emit "
    "message receivers). Engine-exact without decimal anchoring "
    "because grid in-degree <= 2: each message aggregation sums at "
    "most two doubles, so there is no accumulation-order freedom for "
    "partitioning to exploit.",
)
def graph_ppr_grid(spark: SparkSession, sf: str) -> DataFrame:
    return (
        personalized_pagerank(
            grid_graph(spark, GRID_N),
            list(_PPR_SOURCES),
            num_iters=_PPR_ROUNDS,
            damping=0.85,
        )
        .select("id", F.round("rank", 6).alias("rank"))
        .orderBy("id")
    )


_PPR_BATCH_SEEDS = (0, GRID_N * 10 + 10, GRID_N * GRID_N - 1)
_PPR_BATCH_ROUNDS = 5
_PPR_BATCH_K = 5


def _ppr_batch_round_sql(k: int) -> str:
    """One unrolled batched-PPR round: the dense verts×seeds rebuild.
    Zero-rank rows contribute exactly 0.0 to the message sums, so the
    dense oracle's nonzero values are bit-identical to the engine's
    sparse state (x + 0.0 == x for x >= 0)."""
    return f"""
    b{k} AS (
      SELECT sv.seed, sv.id,
        CASE WHEN sv.id = sv.seed THEN 0.15 ELSE 0.0 END
          + 0.85 * coalesce(m.msg, 0.0) AS rank
      FROM sv
      LEFT JOIN (
        SELECT p.seed, e.dst AS id, sum(p.rank / o.d) AS msg
        FROM b{k - 1} p
        JOIN edges e ON e.src = p.id
        JOIN outdeg o ON o.src = p.id
        GROUP BY p.seed, e.dst
      ) m ON m.seed = sv.seed AND m.id = sv.id
    )"""


@register(
    "graph_ppr_seed_topk",
    oracle=f"""
    WITH {GRID_EDGES_SQL},
    verts AS (SELECT i FROM generate_series(0, {GRID_N * GRID_N - 1}) t(i)),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    seeds(s) AS (VALUES {", ".join(f"({s})" for s in _PPR_BATCH_SEEDS)}),
    sv AS (SELECT s.s AS seed, v.i AS id FROM seeds s, verts v),
    b0 AS (
      SELECT seed, id, CASE WHEN id = seed THEN 1.0 ELSE 0.0 END AS rank
      FROM sv
    ),{",".join(_ppr_batch_round_sql(k) for k in range(1, _PPR_BATCH_ROUNDS + 1))},
    ranked AS (
      SELECT seed, id, round(rank, 6) AS rank,
        row_number() OVER (
          PARTITION BY seed ORDER BY round(rank, 6) DESC, id
        ) AS pos
      FROM b{_PPR_BATCH_ROUNDS} WHERE rank > 0
    )
    SELECT CAST(seed AS BIGINT) AS seed, CAST(id AS BIGINT) AS id,
           rank, CAST(pos AS INT) AS pos
    FROM ranked WHERE pos <= {_PPR_BATCH_K}
    ORDER BY seed, pos
    """,
    doc=f"Top-{_PPR_BATCH_K} personalized PageRank per seed for the "
    f"batch {{{', '.join(str(s) for s in _PPR_BATCH_SEEDS)}}} (corner, "
    "center, and the DANGLING bottom-right corner — outdeg 0, so its "
    "walk keeps only the restart mass), "
    f"{_PPR_BATCH_ROUNDS} rounds, d=0.85 on the 20x20 grid — the "
    "batch 'related items per seed' serving shape. Each seed carries "
    "its OWN unit restart mass (per-seed normalization), unlike "
    "graph_ppr_grid's shared distribution. Engine state is SPARSE "
    "(seed, id, rank>0 only); the oracle unrolls the dense verts×seeds "
    "power iteration, equivalent bit-for-bit because zero-rank rows "
    "add exactly 0.0 to every message sum and grid in-degree <= 2 "
    "keeps each sum inside 2-term commutativity. Top-k ranks on the "
    "6-dp-rounded score with id tie-break.",
)
def graph_ppr_seed_topk(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ranks = personalized_pagerank_batch(
        grid_graph(spark, GRID_N),
        list(_PPR_BATCH_SEEDS),
        num_iters=_PPR_BATCH_ROUNDS,
        damping=0.85,
    )
    w = Window.partitionBy("seed").orderBy(
        F.round("rank", 6).desc(), F.col("id")
    )
    return (
        ranks.select("seed", "id", F.round("rank", 6).alias("rank"))
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _PPR_BATCH_K)
        .orderBy("seed", "pos")
    )


@register(
    "graph_ssp_grid",
    oracle=f"""
    WITH RECURSIVE {GRID_EDGES_SQL},
    walk(id, d, path) AS (
      SELECT CAST(1 AS BIGINT), 0,
             CAST(lpad(CAST(1 AS VARCHAR), 6, '0') AS VARCHAR)
      UNION ALL
      SELECT e.dst, w.d + 1, w.path || ',' || lpad(CAST(e.dst AS VARCHAR), 6, '0')
      FROM walk w JOIN edges e ON e.src = w.id
      WHERE w.d < 10 AND e.dst <= {GRID_N * 6 + 6}
    ),
    hits AS (SELECT d, path FROM walk WHERE id = {GRID_N * 5 + 5})
    SELECT CAST(min(d) AS INT) AS dist,
           min(path) FILTER (WHERE d = (SELECT min(d) FROM hits)) AS path_padded
    FROM hits
    """,
    doc=f"Shortest path node 1 → node {GRID_N * 5 + 5} (cell (5,5)) on the "
    "grid: dist 2k-1 = 9 plus the lexicographically-smallest path "
    "(zero-padded string rendering for cross-engine array ordering).",
)
def graph_ssp_grid(spark: SparkSession, sf: str) -> DataFrame:
    res = ssp(grid_graph(spark, GRID_N), 1, GRID_N * 5 + 5)
    return res.select(
        "dist",
        F.array_join(
            F.transform(F.col("path"), lambda x: F.lpad(x.cast("string"), 6, "0")), ","
        ).alias("path_padded"),
    )


CHAINS_SQL = """
    edges AS (
      SELECT i AS src, i + 1 AS dst FROM generate_series(0, 58) t(i) WHERE i % 10 <> 9
    )
"""


@register(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE {CHAINS_SQL},
    sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    reach(id, r) AS (
      SELECT i, i FROM generate_series(0, 59) t(i)
      UNION
      SELECT w.id, e.dst FROM reach w JOIN sym e ON e.src = w.r
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS comp
    FROM reach GROUP BY id
    ORDER BY id
    """,
    doc="Connected components on six 10-node chains — min-id propagation "
    "(large-star/small-star kernel shape); oracle = undirected closure.",
)
def graph_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    ids = spark.range(60).select(F.col("id"))
    pairs = (
        spark.range(59)
        .filter(F.col("id") % 10 != 9)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    from graphdatabases_spark.graph.model import PropertyGraph

    g = PropertyGraph(
        ids.select(
            "id",
            F.array().cast("array<string>").alias("labels"),
            F.create_map().cast("map<string,string>").alias("props"),
        ),
        pairs.select(
            "src",
            "dst",
            F.array().cast("array<string>").alias("labels"),
            F.create_map().cast("map<string,string>").alias("props"),
        ),
    )
    return connected_components(g).orderBy("id")


RING_N = 60

RING_EDGES_SQL = f"""
    edges AS (
      SELECT i AS src, (i + 1) % {RING_N} AS dst FROM generate_series(0, {RING_N - 1}) t(i)
      UNION ALL
      SELECT i, (i + 2) % {RING_N} FROM generate_series(0, {RING_N - 1}) t(i)
    )
"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {RING_EDGES_SQL},
    canon AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    )
    SELECT CAST(count(*) AS BIGINT) AS triangles
    FROM canon e1
    JOIN canon e2 ON e2.a = e1.b
    JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    doc=f"Triangle count on ring({RING_N}, skips 1,2) — exactly {RING_N} "
    "triangles; two self-joins on canonicalized undirected edges.",
)
def graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    n = triangle_count(ring_graph(spark, RING_N, skips=(1, 2)))
    return spark.createDataFrame(pd.DataFrame({"triangles": [n]}))


PR_N = 10
# Ring 0→1→…→9→0 plus extra edges 0→5, 2→7, 4→9: every node has an
# in-edge (no vanishing rows in the recursive term), out-degrees vary.
PR_EDGES_SQL = f"""
    edges AS (
      SELECT i AS src, (i + 1) % {PR_N} AS dst FROM generate_series(0, {PR_N - 1}) t(i)
      UNION ALL SELECT 0, 5 UNION ALL SELECT 2, 7 UNION ALL SELECT 4, 9
    )
"""


@register(
    "graph_pagerank",
    oracle=f"""
    WITH RECURSIVE {PR_EDGES_SQL},
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    pr(iter, id, rank) AS (
      SELECT 0, i, 1.0 / {PR_N} FROM generate_series(0, {PR_N - 1}) t(i)
      UNION ALL
      SELECT p.iter + 1, e.dst,
             0.15 / {PR_N} + 0.85 * sum(p.rank / o.d)
      FROM pr p
      JOIN edges e ON e.src = p.id
      JOIN outdeg o ON o.src = p.id
      WHERE p.iter < 10
      GROUP BY p.iter + 1, e.dst
    )
    SELECT CAST(id AS BIGINT) AS id, round(rank, 6) AS rank
    FROM pr WHERE iter = 10
    ORDER BY id
    """,
    doc="PageRank, 10 fixed iterations, d=0.85, on a 10-node ring with "
    "extra links — oracle is a recursive-CTE power iteration.",
)
def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    ring = spark.range(PR_N).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % PR_N).alias("dst")
    )
    extra = spark.createDataFrame(
        pd.DataFrame({"src": [0, 2, 4], "dst": [5, 7, 9]})
    ).select(F.col("src").cast("long"), F.col("dst").cast("long"))
    edges = ring.union(extra)
    return (
        pagerank(edges, num_iters=10, damping=0.85)
        .select("id", F.round("rank", 6).alias("rank"))
        .orderBy("id")
    )


# Two 5-cliques bridged by one edge — the canonical community-detection
# fixture. The oracle unrolls three synchronous LPA rounds (max-count,
# min-label tie-break) as chained CTEs; the Spark side runs the engine
# kernel with the identical update rule.
LPA_EDGES_SQL = """
    edges AS (
      SELECT a.i AS src, b.i AS dst
      FROM generate_series(0, 4) a(i) JOIN generate_series(0, 4) b(i) ON a.i < b.i
      UNION ALL
      SELECT a.i + 5, b.i + 5
      FROM generate_series(0, 4) a(i) JOIN generate_series(0, 4) b(i) ON a.i < b.i
      UNION ALL
      SELECT 4, 5
    )
"""

_LPA_ROUND = """
    r{k} AS (
      SELECT s.dst AS id, l.label, count(*) AS cnt
      FROM sym s JOIN l{prev} l ON s.src = l.id
      GROUP BY s.dst, l.label
    ),
    b{k} AS (
      SELECT id, label FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
        FROM r{k}
      ) WHERE rn = 1
    ),
    l{k} AS (
      SELECT v.id, coalesce(b.label, v.label) AS label
      FROM l{prev} v LEFT JOIN b{k} b ON v.id = b.id
    )
"""


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH {LPA_EDGES_SQL},
    sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    l0 AS (SELECT i AS id, i AS label FROM generate_series(0, 9) t(i)),
    {_LPA_ROUND.format(k=1, prev=0)},
    {_LPA_ROUND.format(k=2, prev=1)},
    {_LPA_ROUND.format(k=3, prev=2)}
    SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label
    FROM l3 ORDER BY id
    """,
    doc="Label propagation (3 synchronous rounds, max-count/min-label "
    "tie-break) on two bridged 5-cliques — oracle unrolls the rounds "
    "as chained CTEs.",
)
def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    from graphdatabases_spark.graph.algorithms import label_propagation

    ids = spark.range(5).select(F.col("id"))
    pairs = (
        ids.alias("a")
        .crossJoin(ids.alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )
    edges = (
        pairs.union(pairs.select(F.col("src") + 5, F.col("dst") + 5))
        .union(spark.range(1).select(F.lit(4).cast("long"), F.lit(5).cast("long")))
    )
    return label_propagation(edges, num_iters=3).orderBy("id")


@register(
    "graph_node_jaccard",
    oracle="""
    WITH pe AS (
      SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
      FROM lineitem WHERE l_partkey <= 200
    ),
    deg AS (SELECT part, count(*) AS d FROM pe GROUP BY part),
    inter AS (
      SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_common
      FROM pe a JOIN pe b ON a.supp = b.supp AND a.part < b.part
      GROUP BY a.part, b.part
    )
    SELECT part_a, part_b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / (da.d + db.d - n_common), 6) AS jaccard
    FROM inter
    JOIN deg da ON da.part = inter.part_a
    JOIN deg db ON db.part = inter.part_b
    WHERE n_common >= 2
    ORDER BY part_a, part_b
    """,
    doc="Neighbor-set Jaccard similarity between part nodes of the "
    "part–supplier bipartite graph — the link-prediction / node-"
    "similarity operator. Inverted-index shape: pairs are generated "
    "per shared neighbor (never all-pairs), so cost is sum of "
    "squared neighbor-degrees — the same scalable form as the "
    "token-Jaccard dedup kernel (functions/dedup.py).",
)
def graph_node_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    pe = (
        table(spark, sf, "lineitem")
        .filter(F.col("l_partkey") <= 200)
        .select(F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    deg = pe.groupBy("part").agg(F.count(F.lit(1)).alias("d"))
    a, b = pe.alias("a"), pe.alias("b")
    inter = (
        a.join(b, (F.col("a.supp") == F.col("b.supp")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    da = deg.select(F.col("part").alias("part_a"), F.col("d").alias("da"))
    db = deg.select(F.col("part").alias("part_b"), F.col("d").alias("db"))
    return (
        inter.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("part_a", "part_b")
    )


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    deg AS (
      SELECT id, CAST(count(*) AS HUGEINT) AS d FROM (
        SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
      ) GROUP BY id
    ),
    pairs AS (
      SELECT ds.d AS dx, dd.d AS dy
      FROM edges e JOIN deg ds ON ds.id = e.src JOIN deg dd ON dd.id = e.dst
    ),
    s AS (
      SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
             sum(dx * dy) AS sxy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS assortativity
    FROM s
    """,
    doc="Degree assortativity (Pearson r of endpoint total-degrees over "
    "directed edges) of the entity graph — degrees are integers, so the "
    "moment sums are EXACT (decimal/HUGEINT) and the closed-form double "
    "arithmetic is engine-identical, bit-exact on any partitioning. "
    "Two broadcast-able joins of the edge list against the degree table.",
)
def graph_degree_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    # The derived edge set feeds THREE consumers (two degree projections
    # and the pair join probe) whose downstream partition keys differ,
    # so ReuseExchange can't dedupe them and the plan re-derives the
    # orders+lineitem union-distinct 4x (16 parquet scans). Leave it:
    # materializing the edge set once via eager localCheckpoint was
    # MEASURED SLOWER at the derived sf1 (28.8 s vs 13.8 s) — the
    # checkpoint write plus the row-based RDD rescan forfeits columnar
    # parquet batches and whole-stage codegen on every consumer, which
    # costs more than re-running the pruned scans. (The iterative
    # kernels still checkpoint: they reuse the SAME frame dozens of
    # rounds, not 4x.)
    edges = entity_edges(spark, sf, dedup=True)
    deg = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("d"))
    )
    pairs = (
        edges.join(deg.select(F.col("id").alias("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dy")), "dst")
        .select("dx", "dy")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_edges"),
        (
            (n_d * sxy - sx * sy)
            / (F.sqrt(n_d * sxx - sx * sx) * F.sqrt(n_d * syy - sy * sy))
        ).alias("assortativity"),
    )


# One synchronous peel round: survivors of the previous round's degree
# table induce the next round's edge set.  Same unroll idiom as the LPA
# oracle above.  The entity graph reaches the 2-core fixpoint in 2
# rounds at every test sf (measured); 4 rounds are unrolled for margin —
# extra rounds past the fixpoint are identity, and the differential
# would catch an insufficient unroll as a hash mismatch.
# MATERIALIZED: s{prev} is referenced twice and each level chains into
# the next, so DuckDB's default CTE inlining re-evaluates the whole
# peel exponentially in the unroll depth (first measured as a
# multi-GB spill at the derived sf1 scale; harmless at the gate sfs).
_KCORE_ROUND = """
    s{prev} AS MATERIALIZED (SELECT src AS id FROM d{prev} WHERE deg >= 2),
    sym{k} AS MATERIALIZED (
      SELECT y.src, y.dst FROM sym{prev} y
      JOIN s{prev} u ON u.id = y.src
      JOIN s{prev} v ON v.id = y.dst
    ),
    d{k} AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym{k} GROUP BY src)
"""


@register(
    "graph_kcore_entity",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    sym0 AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM und
      UNION ALL
      SELECT b AS src, a AS dst FROM und
    ),
    d0 AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym0 GROUP BY src),
    {_KCORE_ROUND.format(k=1, prev=0)},
    {_KCORE_ROUND.format(k=2, prev=1)},
    {_KCORE_ROUND.format(k=3, prev=2)},
    {_KCORE_ROUND.format(k=4, prev=3)}
    SELECT CAST(src AS BIGINT) AS id, CAST(deg AS BIGINT) AS core_degree
    FROM d4 WHERE deg >= 2
    ORDER BY id
    """,
    doc="2-core of the entity graph (iterative peel, graph/algorithms.py "
    "kcore): nodes surviving repeated removal of degree-<2 nodes, with "
    "their within-core degree — the standard graph-cleaning step before "
    "community/centrality analysis. Oracle unrolls the synchronous peel "
    "rounds as chained CTEs (fixpoint reached in 2 rounds on this "
    "graph; 4 unrolled).",
)
def graph_kcore_entity(spark: SparkSession, sf: str) -> DataFrame:
    from graphdatabases_spark.graph.algorithms import kcore

    edges = entity_edges(spark, sf, dedup=True)
    return kcore(edges, k=2).orderBy("id")


@register(
    "graph_wsssp_entity",
    oracle=f"""
    WITH RECURSIVE {ENTITY_EDGES_SQL},
    we AS (
      SELECT src, dst, (src * 7 + dst * 13) % 9 + 1 AS w FROM edges
    ),
    walk(id, d, h) AS (
      SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, wk.d + e.w, wk.h + 1
      FROM walk wk JOIN we e ON e.src = wk.id WHERE wk.h < 3
    )
    SELECT id, CAST(min(d) AS BIGINT) AS dist
    FROM walk WHERE id <> 1 GROUP BY id ORDER BY id
    """,
    doc="Weighted single-source shortest paths (Dijkstra/Bellman-Ford "
    "class — the weighted sibling of ssp's hop-count BFS) from "
    "customer 1 over the entity graph with deterministic per-edge "
    "weights (src*7 + dst*13) %% 9 + 1. The entity graph is strictly "
    "layered (customer -> order -> part -> supplier), so the oracle's "
    "3-hop recursive walk enumerates every minimal path exactly; the "
    "Spark kernel is the general min-plus relaxation loop "
    "(graph/algorithms.py weighted_sssp): one dist-edges equi-join + "
    "one min-agg per round, localCheckpoint lineage truncation, "
    "full-pass early exit at the fixpoint, driver Dijkstra below the "
    "local threshold — cross-checked equal in tests.",
)
def graph_wsssp_entity(spark: SparkSession, sf: str) -> DataFrame:
    e = entity_edges(spark, sf, dedup=True)
    we = e.withColumn(
        "w", (F.col("src") * 7 + F.col("dst") * 13) % 9 + F.lit(1)
    )
    return (
        weighted_sssp(we, src=1, max_iters=8)
        .filter(F.col("id") != 1)
        .orderBy("id")
    )


_PPR_ENT_SEEDS = (1, 2, 5)
_PPR_ENT_ROUNDS = 3
_PPR_ENT_K = 10
_PPR_ENT_UNIT = 10**12


def _ppr_ent_round_sql(k: int) -> str:
    """One unrolled fixed-point batched-PPR round over the entity
    graph — ALL-INTEGER (units div outdeg, exact BIGINT sums, 85% div
    100), so accumulation order cannot matter in either engine."""
    return f"""
    u{k} AS (
      SELECT sv.seed, sv.id,
        CASE WHEN sv.id = sv.seed
             THEN {15 * _PPR_ENT_UNIT // 100} ELSE 0 END
        + (85 * coalesce(m.msg, 0)) // 100 AS units
      FROM sv
      LEFT JOIN (
        SELECT p.seed, e.dst AS id, sum(p.units // o.d) AS msg
        FROM u{k - 1} p
        JOIN edges e ON e.src = p.id
        JOIN outdeg o ON o.src = p.id
        GROUP BY p.seed, e.dst
      ) m ON m.seed = sv.seed AND m.id = sv.id
    )"""


@register(
    "graph_ppr_seeds_entity",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    verts AS (
      SELECT DISTINCT v FROM (
        SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    seeds(s) AS (VALUES {", ".join(f"({s})" for s in _PPR_ENT_SEEDS)}),
    sv AS (SELECT s.s AS seed, v.v AS id FROM seeds s, verts v),
    u0 AS (
      SELECT seed, id,
        CASE WHEN id = seed THEN {_PPR_ENT_UNIT} ELSE 0 END AS units
      FROM sv
    ),{",".join(_ppr_ent_round_sql(k) for k in range(1, _PPR_ENT_ROUNDS + 1))},
    ranked AS (
      SELECT seed, id, units,
        row_number() OVER (
          PARTITION BY seed ORDER BY units DESC, id
        ) AS pos
      FROM u{_PPR_ENT_ROUNDS} WHERE units > 0
    )
    SELECT CAST(seed AS BIGINT) AS seed, CAST(id AS BIGINT) AS id,
           CAST(units AS BIGINT) AS rank_units, CAST(pos AS INT) AS pos
    FROM ranked WHERE pos <= {_PPR_ENT_K}
    ORDER BY seed, pos
    """,
    doc=f"Top-{_PPR_ENT_K} per-seed personalized PageRank for customer "
    f"seeds {{{', '.join(str(s) for s in _PPR_ENT_SEEDS)}}} over the "
    "REAL entity graph (customer→order→part→supplier) — "
    "graph_ppr_seed_topk proves the batched kernel on the grid "
    "fixture; this entry exercises the sparse state on tables whose "
    "in-degree makes double arithmetic order-dependent (a popular "
    "part sums thousands of contributions), so it runs the "
    "FIXED-POINT integer kernel (personalized_pagerank_batch_units): "
    "BIGINT micro-unit ranks, truncating div contributions, exact "
    "integer sums — bit-identical under any partitioning, and the "
    "oracle replays the identical arithmetic as unrolled CTEs. "
    f"{_PPR_ENT_ROUNDS} rounds push each customer's unit mass "
    "through the 3-layer DAG; suppliers are dangling so their mass "
    "decays, exactly like the double kernel. The 'related "
    "parts/suppliers per customer' batch-serving shape.",
)
def graph_ppr_seeds_entity(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from graphdatabases_spark.graph.algorithms import (
        personalized_pagerank_batch_units,
    )

    ranks = personalized_pagerank_batch_units(
        entity_edges(spark, sf, dedup=True),
        list(_PPR_ENT_SEEDS),
        num_iters=_PPR_ENT_ROUNDS,
        unit_scale=_PPR_ENT_UNIT,
    )
    w = Window.partitionBy("seed").orderBy(
        F.col("rank_units").desc(), F.col("id")
    )
    return (
        ranks.filter(F.col("rank_units") > 0)
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _PPR_ENT_K)
        .orderBy("seed", "pos")
    )




# ---------------------------------------------------------------------------
# Incremental PageRank: warm-start rank maintenance after an edge-batch append
# ---------------------------------------------------------------------------

_PR_INC_UNIT = 10**12
_PR_INC_BASE_UNITS = 15 * _PR_INC_UNIT // 100
_PR_INC_MOD = 20  # (src+dst) % 20 == 0 → the ~5% "appended" edge batch
_PR_INC_ROUNDS_BASE = 6
_PR_INC_ROUNDS_WARM = 3
_PR_INC_K = 25


def _pr_inc_round_sql(tag: str, k: int, everts: str, eedges: str, eoutdeg: str) -> str:
    """One unrolled global fixed-point PageRank round: every vertex gets
    the 15% base units plus 85% of the exact integer message sum (contrib
    = units div outdeg, truncating — identical to pagerank_units)."""
    return f"""
    {tag}{k} AS MATERIALIZED (
      SELECT v.id,
        {_PR_INC_BASE_UNITS} + (85 * coalesce(m.msg, 0)) // 100 AS units
      FROM {everts} v
      LEFT JOIN (
        SELECT e.dst AS id, sum(p.units // o.d) AS msg
        FROM {tag}{k - 1} p
        JOIN {eedges} e ON e.src = p.id
        JOIN {eoutdeg} o ON o.src = p.id
        GROUP BY e.dst
      ) m ON m.id = v.id
    )"""


def _pagerank_incremental_rows(edges) -> list[tuple]:
    """graph_pagerank_incremental in numpy over an Arrow edge table:
    _PR_INC_ROUNDS_BASE rounds of ``_pagerank_units_rounds`` without
    the batch, _PR_INC_ROUNDS_WARM more on every edge from those ranks
    (_PR_INC_UNIT for a vertex with no base edge), then the top
    _PR_INC_K by warm units. The base rounds run over every vertex: one
    with no base edge sends and receives nothing there."""
    import numpy as np

    src, dst, ids, s, d = _edge_positions(edges)
    base = (src + dst) % _PR_INC_MOD != 0

    def ranks(keep, units, rounds):
        deg = np.bincount(s[keep], minlength=len(ids))
        return _pagerank_units_rounds(
            units, s[keep], d[keep], deg[s[keep]], rounds, 85, _PR_INC_UNIT
        )

    cold = np.full(len(ids), _PR_INC_UNIT)
    in_base = np.bincount(np.r_[s[base], d[base]], minlength=len(ids)) > 0
    units_base = np.where(in_base, ranks(base, cold, _PR_INC_ROUNDS_BASE), cold)
    warm = ranks(np.ones_like(base), units_base, _PR_INC_ROUNDS_WARM)
    return [
        (int(ids[v]), int(units_base[v]), int(warm[v]),
         int(warm[v] - units_base[v]), k + 1)
        for k, v in enumerate(np.lexsort((ids, -warm))[:_PR_INC_K])
    ]


@register(
    "graph_pagerank_incremental",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    base_e AS MATERIALIZED (
      SELECT src, dst FROM edges WHERE (src + dst) % {_PR_INC_MOD} <> 0
    ),
    bverts AS (
      SELECT DISTINCT v AS id FROM (
        SELECT src AS v FROM base_e UNION ALL SELECT dst FROM base_e
      )
    ),
    boutdeg AS MATERIALIZED (SELECT src, count(*) AS d FROM base_e GROUP BY src),
    b0 AS (SELECT id, CAST({_PR_INC_UNIT} AS BIGINT) AS units FROM bverts),
    {",".join(
        _pr_inc_round_sql("b", k, "bverts", "base_e", "boutdeg")
        for k in range(1, _PR_INC_ROUNDS_BASE + 1)
    )},
    fverts AS (
      SELECT DISTINCT v AS id FROM (
        SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    foutdeg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
    w0 AS (
      SELECT f.id, coalesce(b.units, {_PR_INC_UNIT}) AS units
      FROM fverts f LEFT JOIN b{_PR_INC_ROUNDS_BASE} b ON b.id = f.id
    ),
    {",".join(
        _pr_inc_round_sql("w", k, "fverts", "edges", "foutdeg")
        for k in range(1, _PR_INC_ROUNDS_WARM + 1)
    )},
    ranked AS (
      SELECT w.id,
        coalesce(b.units, {_PR_INC_UNIT}) AS units_base,
        w.units AS units_warm,
        row_number() OVER (ORDER BY w.units DESC, w.id) AS pos
      FROM w{_PR_INC_ROUNDS_WARM} w
      LEFT JOIN b{_PR_INC_ROUNDS_BASE} b ON b.id = w.id
    )
    SELECT CAST(id AS BIGINT) AS id,
           CAST(units_base AS BIGINT) AS units_base,
           CAST(units_warm AS BIGINT) AS units_warm,
           CAST(units_warm - units_base AS BIGINT) AS delta_units,
           CAST(pos AS INT) AS pos
    FROM ranked WHERE pos <= {_PR_INC_K}
    ORDER BY pos
    """,
    doc="INCREMENTAL PAGERANK (delta maintenance) — the graph "
    "representative of the repo's incremental theme (ivf_append, "
    "compact_zordered_incremental, orders_incremental_agg): split the "
    f"real entity graph into a base graph and a ~{100 // _PR_INC_MOD}% "
    f"'appended' edge batch ((src+dst) % {_PR_INC_MOD} == 0), run "
    f"{_PR_INC_ROUNDS_BASE} fixed-point integer PageRank rounds on the "
    "base graph (pagerank_units — BIGINT micro-unit ranks, truncating "
    "div contributions, exact integer sums, bit-identical under any "
    "partitioning), then RESTART from those persisted ranks on the "
    f"full graph for {_PR_INC_ROUNDS_WARM} warm rounds (batch-new "
    "vertices cold-start at the uniform unit mass). Emits the "
    f"top-{_PR_INC_K} vertices by warm rank with before/after units "
    "and the signed delta — the 'what did the append change' serving "
    "shape. The convergence claim (rounds_warm < rounds_cold to the "
    "IDENTICAL ppm fixed point) is pinned in "
    "tests/test_round11_graph.py via a pure-Python integer replay "
    "plus distributed-kernel bit-equality; the oracle replays all "
    f"{_PR_INC_ROUNDS_BASE}+{_PR_INC_ROUNDS_WARM} rounds as unrolled "
    "CTEs, each AS MATERIALIZED so DuckDB evaluates the chain "
    "round-by-round (inlined, the single fused pipeline holds every "
    "round's join hash tables at once — measured >85 GB temp spill at "
    "sf1; materialized, zero spill, 144 s). Scale shape: one int64 "
    "numpy body over the Arrow edge table (_numpy_entry), on the driver "
    "up to LOCAL_EDGE_THRESHOLD edges, else in one executor task; 3 "
    "Spark jobs with the count; one BIGINT per vertex.",
)
def graph_pagerank_incremental(spark: SparkSession, sf: str) -> DataFrame:
    schema = "id long, units_base long, units_warm long, delta_units long, pos int"
    return _numpy_entry(
        entity_edges(spark, sf, dedup=False),
        _pagerank_incremental_rows,
        StructType.fromDDL(schema),
        LOCAL_EDGE_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# Incremental connected components (quotient-graph warm restart)
# ---------------------------------------------------------------------------

_CC_INC_K = 40
# Oracle-side fixed unrolls (the engine solves to the true fixpoint;
# the oracle's converged-pin columns fail the differential loudly if a
# bigger fixture ever needs more rounds). Measured to fixpoint: base
# 3/4/5 rounds at sf0.001/0.01/0.1, quotient 2 — margins of 2+ each.
_CC_INC_BASE_ROUNDS = 7
_CC_INC_Q_ROUNDS = 4


def _cc_round_sql(tag: str, k: int, sym: str) -> str:
    """One unrolled min-label propagation round over symmetrized edges."""
    return f"""
    {tag}{k} AS MATERIALIZED (
      SELECT l.id, least(l.comp, coalesce(m.mn, l.comp)) AS comp
      FROM {tag}{k - 1} l
      LEFT JOIN (
        SELECT s.dst AS id, min(p.comp) AS mn
        FROM {sym} s JOIN {tag}{k - 1} p ON p.id = s.src
        GROUP BY s.dst
      ) m ON m.id = l.id
    )"""


def _cc_incremental_rows(edges) -> list[tuple]:
    """graph_cc_incremental in numpy over an Arrow edge table, by
    quotient contraction on vertex positions (in id order, so the
    smallest position is the smallest id): ``_min_labels`` of the base
    edges (a vertex with no base edge keeps its own id), the batch edges
    through those labels less the intra-component ones, ``_min_labels``
    of that quotient, then the top _CC_INC_K base components by size."""
    import numpy as np

    src, dst, ids, s, d = _edge_positions(edges)
    batch = (src >= ORDER_BASE) & (src < PART_BASE)
    base_lab = _min_labels(s[~batch], d[~batch], len(ids))
    qs, qd = base_lab[s[batch]], base_lab[d[batch]]
    cross = qs != qd
    warm_lab = _min_labels(qs[cross], qd[cross], len(ids))
    comps, sizes = np.unique(base_lab, return_counts=True)
    warm = warm_lab[comps]
    n_warm = len(np.unique(warm))
    return [
        (k + 1, int(ids[comps[c]]), int(ids[warm[c]]), int(sizes[c]),
         bool(comps[c] != warm[c]), len(comps), n_warm, True, True)
        for k, c in enumerate(np.lexsort((comps, -sizes))[:_CC_INC_K])
    ]


@register(
    "graph_cc_incremental",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    batch_e AS MATERIALIZED (
      SELECT src, dst FROM edges
      WHERE src >= {ORDER_BASE} AND src < {PART_BASE}
    ),
    base_e AS MATERIALIZED (
      SELECT src, dst FROM edges
      WHERE src < {ORDER_BASE} OR src >= {PART_BASE}
    ),
    bsym AS MATERIALIZED (
      SELECT src, dst FROM base_e UNION SELECT dst, src FROM base_e
    ),
    c0 AS (SELECT DISTINCT src AS id, src AS comp FROM bsym),
    {",".join(_cc_round_sql("c", k, "bsym") for k in range(1, _CC_INC_BASE_ROUNDS + 1))},
    base_conv AS (
      SELECT bool_and(a.comp = b.comp) AS ok
      FROM c{_CC_INC_BASE_ROUNDS} a
      JOIN c{_CC_INC_BASE_ROUNDS - 1} b ON b.id = a.id
    ),
    qe AS MATERIALIZED (
      SELECT DISTINCT coalesce(ls.comp, b.src) AS src,
                      coalesce(ld.comp, b.dst) AS dst
      FROM batch_e b
      LEFT JOIN c{_CC_INC_BASE_ROUNDS} ls ON ls.id = b.src
      LEFT JOIN c{_CC_INC_BASE_ROUNDS} ld ON ld.id = b.dst
      WHERE coalesce(ls.comp, b.src) <> coalesce(ld.comp, b.dst)
    ),
    qsym AS MATERIALIZED (
      SELECT src, dst FROM qe UNION SELECT dst, src FROM qe
    ),
    q0 AS (SELECT DISTINCT src AS id, src AS comp FROM qsym),
    {",".join(_cc_round_sql("q", k, "qsym") for k in range(1, _CC_INC_Q_ROUNDS + 1))},
    q_conv AS (
      SELECT coalesce(bool_and(a.comp = b.comp), true) AS ok
      FROM q{_CC_INC_Q_ROUNDS} a
      JOIN q{_CC_INC_Q_ROUNDS - 1} b ON b.id = a.id
    ),
    newv AS (
      SELECT v AS id, v AS comp FROM (
        SELECT DISTINCT src AS v FROM batch_e
        UNION SELECT DISTINCT dst FROM batch_e
      ) t
      WHERE NOT EXISTS (
        SELECT 1 FROM c{_CC_INC_BASE_ROUNDS} bl WHERE bl.id = t.v
      )
    ),
    allv AS (
      SELECT id, comp FROM c{_CC_INC_BASE_ROUNDS}
      UNION ALL SELECT id, comp FROM newv
    ),
    final AS (
      SELECT a.id, a.comp AS comp_base,
             coalesce(q.comp, a.comp) AS comp_warm
      FROM allv a LEFT JOIN q{_CC_INC_Q_ROUNDS} q ON q.id = a.comp
    ),
    stats AS (
      SELECT comp_base, min(comp_warm) AS comp_warm,
             CAST(count(*) AS BIGINT) AS n_vertices
      FROM final GROUP BY comp_base
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_base_comps,
             CAST(count(DISTINCT comp_warm) AS BIGINT) AS n_warm_comps
      FROM stats
    ),
    ranked AS (
      SELECT comp_base, comp_warm, n_vertices,
        row_number() OVER (ORDER BY n_vertices DESC, comp_base) AS pos
      FROM stats
    )
    SELECT CAST(pos AS INT) AS pos,
           CAST(comp_base AS BIGINT) AS comp_base,
           CAST(comp_warm AS BIGINT) AS comp_warm,
           n_vertices,
           comp_base <> comp_warm AS merged,
           t.n_base_comps, t.n_warm_comps,
           (SELECT ok FROM base_conv) AS base_converged,
           (SELECT ok FROM q_conv) AS q_converged
    FROM ranked, tot t
    WHERE pos <= {_CC_INC_K}
    ORDER BY pos
    """,
    doc="INCREMENTAL CONNECTED COMPONENTS — completes the incremental "
    "graph trilogy (graph_pagerank_incremental, "
    "graph_temporal_reach_delta, this): after an edge-batch append, "
    "maintain component labels WITHOUT re-solving the full graph. The "
    "fixture is the layered-ingest split of the entity graph: base = "
    "the dimension-side layers (customer→order, part→supplier), batch "
    "= the order→part FACT edges landing afterwards — chosen because "
    "it genuinely BRIDGES: every customer star is its own base "
    "component until the fact layer arrives (measured 151/1501/15001 "
    "base comps → 1 at sf0.001/0.01/0.1; the (src+dst)%MOD split of "
    "the pagerank sibling merges NOTHING here — the entity giant "
    "component survives a 5% edge deletion, probed round 12). The "
    "incremental algorithm is QUOTIENT CONTRACTION, not label "
    "re-propagation: map each batch edge through the persisted base "
    "labels (batch-new vertices cold-start at own id), drop "
    "intra-component edges, solve CC on the contracted quotient graph "
    "(|quotient| <= 2·|batch| vertices — state scales with the BATCH, "
    "never the graph), then ONE keyed relabel join "
    "comp_warm = q(comp_base). Labels are canonical min-vertex-ids, "
    "so warm output is bit-identical to a cold full-graph solve — "
    "pinned in tests/test_round12_graph.py along with "
    "rounds_warm << rounds_cold (2 quotient rounds vs 7-8 full-graph "
    "rounds: propagation cost is graph DISTANCE, and contraction "
    "collapses every solved component to distance 0). Emits the "
    f"top-{_CC_INC_K} base components by size with before/after "
    "labels, the merged flag, and global base/warm component counts "
    "(the bridging pin lives IN the output: n_base_comps >> "
    "n_warm_comps). base_converged/q_converged are the oracle's "
    "fixed-unroll guards; the engine side solves both graphs to the "
    "fixpoint (graph/algorithms.py _min_labels stops only when no edge "
    "hooks), so the literal True columns are honest. Scale shape: one "
    "numpy body over the Arrow edge table (_numpy_entry), on the driver "
    "up to LOCAL_EDGE_THRESHOLD edges, else in one executor task; 3 "
    "Spark jobs with the count.",
)
def graph_cc_incremental(spark: SparkSession, sf: str) -> DataFrame:
    schema = (
        "pos int, comp_base long, comp_warm long, n_vertices long, "
        "merged boolean, n_base_comps long, n_warm_comps long, "
        "base_converged boolean, q_converged boolean"
    )
    return _numpy_entry(
        entity_edges(spark, sf, dedup=False),
        _cc_incremental_rows,
        StructType.fromDDL(schema),
        LOCAL_EDGE_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# Maximal independent set (deterministic Luby-style symmetry breaking)
# ---------------------------------------------------------------------------

_MIS_ROUNDS = 8  # measured fixpoint: 4/4/5 rounds at sf0.001/0.01/0.1

from graphdatabases_spark.relational.graph_kernels import (
    _matching_kernel,
    _matching_priority,
    _mis_kernel,
    _sym_und_build,
)

def _mis_round_sql(k: int) -> str:
    """One symmetry-breaking round: an undecided vertex joins the MIS
    iff its (h, id) priority is the strict minimum over its undecided
    closed neighborhood; winners and their neighbors leave the
    undecided set."""
    return f"""
    w{k} AS MATERIALIZED (
      SELECT u.id, u.h FROM u{k - 1} u
      WHERE NOT EXISTS (
        SELECT 1 FROM sym s JOIN u{k - 1} n ON n.id = s.dst
        WHERE s.src = u.id
          AND (n.h < u.h OR (n.h = u.h AND n.id < u.id))
      )
    ),
    u{k} AS MATERIALIZED (
      SELECT u.id, u.h FROM u{k - 1} u
      WHERE NOT EXISTS (SELECT 1 FROM w{k} w WHERE w.id = u.id)
        AND NOT EXISTS (
          SELECT 1 FROM sym s JOIN w{k} w ON w.id = s.dst
          WHERE s.src = u.id
        )
    )"""


@register(
    "graph_mis_luby",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    u0 AS MATERIALIZED (
      SELECT DISTINCT src AS id,
        ('0x' || substr(md5('mis' || src), 1, 12))::BIGINT AS h
      FROM sym
    ),
    {",".join(_mis_round_sql(k) for k in range(1, _MIS_ROUNDS + 1))},
    mis AS MATERIALIZED (
      {" UNION ALL ".join(f"SELECT id FROM w{k}" for k in range(1, _MIS_ROUNDS + 1))}
    ),
    indep AS (
      SELECT CAST(count(*) AS BIGINT) AS viol
      FROM sym s JOIN mis a ON a.id = s.src JOIN mis b ON b.id = s.dst
    ),
    uncov AS (
      SELECT CAST(count(*) AS BIGINT) AS viol
      FROM u0 v
      WHERE NOT EXISTS (SELECT 1 FROM mis m WHERE m.id = v.id)
        AND NOT EXISTS (
          SELECT 1 FROM sym s JOIN mis m ON m.id = s.dst
          WHERE s.src = v.id
        )
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM u0) AS n_vertices,
      (SELECT CAST(count(*) AS BIGINT) FROM mis) AS mis_size,
      (SELECT CAST(sum(id) AS BIGINT) FROM mis) AS sum_ids,
      (SELECT viol FROM indep) = 0 AS independent,
      (SELECT viol FROM uncov) = 0 AS maximal,
      (SELECT count(*) FROM u{_MIS_ROUNDS}) = 0 AS converged
    """,
    doc="MAXIMAL INDEPENDENT SET — deterministic Luby-style symmetry "
    "breaking on the symmetrized entity graph, the distributed "
    "greedy-by-priority MIS: every vertex gets a fixed "
    "portable-48-bit-md5 priority, and each round every undecided "
    "vertex whose (h, id) is the strict minimum over its undecided "
    "closed neighborhood joins the set, knocking its neighbors out. "
    "Fixed priorities make the result the UNIQUE lexicographically-"
    "first-by-priority MIS — a pure function of the graph, identical "
    "on both engines and under any round schedule (unlike classic "
    "Luby's per-round re-randomization), while keeping Luby's "
    "expected O(log n) round count on hash priorities (measured "
    f"4/4/5 rounds at the three sfs; the oracle unrolls {_MIS_ROUNDS} "
    "with a converged guard that fails the differential loudly if a "
    "bigger fixture ever needs more). MIS is the symmetry-breaking "
    "primitive under distributed coloring/matching/scheduling — a "
    "different kernel class from the label-fixpoint family. The "
    "output carries its own PROOF obligations, computed independently "
    "on both engines: independent (no edge inside the set) and "
    "maximal (no uncovered vertex could still join) — serving-shape "
    "1-row summary with the membership checksum. Scale shape: each "
    "round is one dst-keyed min over undecided neighborhoods plus two "
    "anti-joins; the undecided relation shrinks geometrically "
    "(state <= |V| BIGINTs, shrinking).",
)
def graph_mis_luby(spark: SparkSession, sf: str) -> DataFrame:
    # Fully distinct-free build (round-13 audit tightening): every
    # kernel consumer (min-agg, knockout distinct, violation == 0
    # checks, the local-tail greedy) is duplicate-insensitive, so the
    # raw exploded edge multiset goes straight into the ONE repartition
    # — the entity_edges dedup distinct and a separate vertex distinct
    # were each a full |E|-class exchange per run.  The partition key
    # is regime-chosen (_sym_partition_key) from an approx vertex
    # count (one scan, no exchange); the vertex relation then falls
    # out of the partitioned sym for free in the broadcast regime.
    sym, und, n_vertices = _sym_und_build(spark, entity_edges(spark, sf, dedup=False))
    mis = _mis_kernel(spark, sym, und, n_vertices, sym.count())
    m_a = mis.select(F.col("id").alias("aid"))
    m_b = mis.select(F.col("id").alias("bid"))
    # Proof joins: mis ⊆ the vertex set, so n_vertices bounds the
    # broadcast side — the checkpointed mis carries no stats and the
    # planner otherwise sort-merge-exchanges sym per proof (round 14).
    indep_viol = (
        sym.join(broadcast_side(m_a, n_vertices), sym.src == F.col("aid"))
        .join(broadcast_side(m_b, n_vertices), sym.dst == F.col("bid"))
        .count()
    )
    covered = (
        sym.join(broadcast_side(m_b, n_vertices), sym.dst == F.col("bid"))
        .select(F.col("src").alias("id"))
        .distinct()
    )
    uncov_viol = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .join(mis, "id", "left_anti")
        .join(covered, "id", "left_anti")
        .count()
    )
    sym.unpersist()  # proofs above were the last sym-consuming actions
    summary = mis.agg(
        F.count(F.lit(1)).cast("long").alias("mis_size"),
        F.sum("id").cast("long").alias("sum_ids"),
    )
    return summary.select(
        F.lit(n_vertices).cast("long").alias("n_vertices"),
        "mis_size",
        "sum_ids",
        F.lit(indep_viol == 0).alias("independent"),
        F.lit(uncov_viol == 0).alias("maximal"),
        F.lit(True).alias("converged"),
    )


# ---------------------------------------------------------------------------
# Maximal matching (deterministic edge-priority symmetry breaking)
# ---------------------------------------------------------------------------

_MM_ROUNDS = 10


def _mm_round_sql(k: int) -> str:
    """One matching round: an undecided edge joins iff its (h, src,
    dst) priority is the strict minimum among undecided edges incident
    to EITHER endpoint; edges touching matched vertices drop out."""
    return f"""
    vm{k} AS MATERIALIZED (
      SELECT v, min(h) AS mh FROM (
        SELECT src AS v, h FROM g{k - 1}
        UNION ALL SELECT dst, h FROM g{k - 1}
      ) GROUP BY v
    ),
    m{k} AS MATERIALIZED (
      SELECT e.src, e.dst, e.h FROM g{k - 1} e
      JOIN vm{k} a ON a.v = e.src AND a.mh = e.h
      JOIN vm{k} b ON b.v = e.dst AND b.mh = e.h
    ),
    mv{k} AS MATERIALIZED (
      SELECT src AS v FROM m{k} UNION SELECT dst FROM m{k}
    ),
    g{k} AS MATERIALIZED (
      SELECT e.src, e.dst, e.h FROM g{k - 1} e
      WHERE NOT EXISTS (SELECT 1 FROM mv{k} x WHERE x.v = e.src)
        AND NOT EXISTS (SELECT 1 FROM mv{k} x WHERE x.v = e.dst)
    )"""


@register(
    "graph_matching_greedy",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    g0 AS MATERIALIZED (
      SELECT src, dst,
        ('0x' || substr(md5('mat' || src || ':' || dst), 1, 12))::BIGINT
          * 32768 + (src * 31 + dst) % 32768 AS h
      FROM edges
    ),
    {",".join(_mm_round_sql(k) for k in range(1, _MM_ROUNDS + 1))},
    mat AS MATERIALIZED (
      {" UNION ALL ".join(f"SELECT src, dst FROM m{k}" for k in range(1, _MM_ROUNDS + 1))}
    ),
    conflict AS (
      SELECT CAST(count(*) AS BIGINT) AS viol FROM (
        SELECT v FROM (
          SELECT src AS v FROM mat UNION ALL SELECT dst FROM mat
        ) GROUP BY v HAVING count(*) > 1
      )
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM mat) AS matching_size,
      (SELECT CAST(sum(src + dst) AS BIGINT) FROM mat) AS sum_ids,
      (SELECT viol FROM conflict) = 0 AS is_matching,
      (SELECT count(*) FROM g{_MM_ROUNDS}) = 0 AS maximal_and_converged
    """,
    doc="MAXIMAL MATCHING — deterministic edge-priority symmetry "
    "breaking on the entity graph, graph_mis_luby's EDGE-side sibling "
    "(together they cover both classic distributed local-ratio "
    "primitives): every edge gets a fixed priority (portable md5 "
    "extended with the endpoint ids so priorities are strictly unique "
    "— a tie could otherwise match two edges at one vertex), and each "
    "round every undecided edge that is the strict minimum at BOTH "
    "endpoints joins the matching; edges touching matched vertices "
    "drop out. Fixed priorities make the result the unique "
    "lexicographically-first maximal matching — identical on both "
    "engines, under any round schedule, and to the sequential greedy "
    "over priority-sorted edges (pinned in tests/test_round12_graph"
    ".py). The matching property (no shared vertex) is computed "
    "in-output on both engines; maximality IS convergence (the "
    "undecided edge set empties — every edge saw a matched endpoint), "
    f"emitted as one guard column over the {_MM_ROUNDS}-round unroll "
    "(measured fixpoint 5/5/6 rounds at the three sfs). The "
    "greedy-matching primitive under distributed load balancing and "
    "b-matching relaxations. Scale shape: each round is one "
    "vertex-keyed min over the SHRINKING undecided edge set (map-side "
    "combine) plus two endpoint anti-joins — total exchanged rows "
    "geometric in |E|, no static relation re-shuffles per round.",
)
def graph_matching_greedy(spark: SparkSession, sf: str) -> DataFrame:
    g = (
        entity_edges(spark, sf, dedup=True)
        .withColumn("h", _matching_priority())
        .localCheckpoint(eager=True)
    )
    n_edges = g.count()
    mat = _matching_kernel(spark, g, n_edges)
    conflict = (
        mat.select(F.col("src").alias("v"))
        .unionByName(mat.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    return mat.agg(
        F.count(F.lit(1)).cast("long").alias("matching_size"),
        F.sum(F.col("src") + F.col("dst")).cast("long").alias("sum_ids"),
    ).select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        "matching_size",
        "sum_ids",
        F.lit(conflict == 0).alias("is_matching"),
        F.lit(True).alias("maximal_and_converged"),
    )
