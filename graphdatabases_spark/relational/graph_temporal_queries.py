"""Temporal / walk-corpus graph queries (SURVEY §2.2 graph analytics).

Split out of graph_queries.py (round 12, pure line-range move; registry
unchanged) — the temporal earliest-arrival / latest-departure pair, the
append-delta temporal reachability, and the deterministic walk corpus +
skip-gram family. Shares the entity-graph fixture (FIXTURES.md §B) and
the ``_PR_INC_MOD`` edge-batch split with graph_queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdatabases_spark.graph.traversal import broadcast_side
from graphdatabases_spark.relational.catalog import register, table
from graphdatabases_spark.relational.graph_queries import (
    ENTITY_EDGES_SQL,
    ORDER_BASE,
    PART_BASE,
    SUPP_BASE,
    _PR_INC_MOD,
    entity_edges,
)

def _dated_entity_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The dated entity edge list (src, dst, t) shared by the temporal
    kernels: customer→order at o_orderdate, order→part and part→supplier
    at l_shipdate, t as integer days since 1990-01-01 (exact integer
    comparisons on both engines). Distinct + eagerly checkpointed — it
    re-enters the plan every relaxation round."""
    o = table(spark, sf, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.lit(ORDER_BASE) + F.col("o_orderkey")).alias("dst"),
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("t"),
    )
    l = table(spark, sf, "lineitem")
    ship = F.datediff(F.col("l_shipdate"), F.lit("1990-01-01")).cast("long")
    op = l.select(
        (F.lit(ORDER_BASE) + F.col("l_orderkey")).alias("src"),
        (F.lit(PART_BASE) + F.col("l_partkey")).alias("dst"),
        ship.alias("t"),
    )
    ps = l.select(
        (F.lit(PART_BASE) + F.col("l_partkey")).alias("src"),
        (F.lit(SUPP_BASE) + F.col("l_suppkey")).alias("dst"),
        ship.alias("t"),
    )
    return o.union(op).union(ps).distinct().localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Deterministic random walks (DeepWalk/node2vec corpus generation)
# ---------------------------------------------------------------------------

_RW_SEEDS = tuple(range(1, 11))  # customers 1..10 exist at every sf
_RW_STEPS = 8


def _rw_step_sql(k: int) -> str:
    """One unrolled walk step: from (seed, node) pick the i-th ranked
    out-neighbor, i = portable-hash('wk'|seed|step|node) mod degree."""
    return f"""
    s{k} AS MATERIALIZED (
      SELECT w.seed, a.dst AS node
      FROM s{k - 1} w
      JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rn = (('0x' || substr(md5(
             'wk' || w.seed || ':{k}:' || w.node), 1, 12))::BIGINT
             % d.deg) + 1
    )"""


@register(
    "graph_random_walks",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst, src FROM edges
    ),
    adj AS MATERIALIZED (
      SELECT src, dst,
        row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
      FROM sym
    ),
    deg AS MATERIALIZED (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
    ),
    s0 AS (
      SELECT s AS seed, s AS node
      FROM (VALUES {", ".join(f"({s})" for s in _RW_SEEDS)}) t(s)
    ),
    {",".join(_rw_step_sql(k) for k in range(1, _RW_STEPS + 1))}
    SELECT CAST(seed AS BIGINT) AS seed, CAST(step AS INT) AS step,
           CAST(node AS BIGINT) AS node
    FROM (
      {" UNION ALL ".join(
        f"SELECT seed, {k} AS step, node FROM s{k}"
        for k in range(0, _RW_STEPS + 1)
      )}
    )
    ORDER BY seed, step
    """,
    doc=f"DETERMINISTIC RANDOM WALKS — the DeepWalk/node2vec corpus "
    f"generator: {len(_RW_SEEDS)} walkers take {_RW_STEPS} steps on the "
    "SYMMETRIZED entity graph (walks on the directed 3-layer DAG die at "
    "the dangling suppliers; the undirected view is what embedding "
    "pipelines walk). Each step picks the i-th dst-ranked out-neighbor "
    "with i = portable-48-bit-md5('wk'|seed|step|node) mod degree — a "
    "pure function of the corpus, so the realized walk corpus is "
    "engine-exact and partitioning-invariant (rand()-driven walkers "
    "are neither), while remaining uniform over neighbors per step "
    "(the DeepWalk transition kernel). Scale shape: the dst-ranked "
    "adjacency builds ONCE (one per-src window, never global) and is "
    "reused every step; each step is a |walkers|-row frontier joined "
    "against it — walkers scale to millions as one keyed join per "
    "step, the frontier pattern the BFS kernel already proves. The "
    "oracle unrolls the steps as MATERIALIZED CTEs (the "
    "graph_pagerank_incremental finding: inlined iterative chains fuse "
    "into one pipeline that holds every step's hash tables at once).",
)
def graph_random_walks(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from graphdatabases_spark.functions import text as T

    edges = entity_edges(spark, sf, dedup=True)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    # rn AND deg in the SAME window pass (round 14): the previous shape
    # recomputed the degree aggregation lazily EVERY step (8 extra full
    # scans of the 2|E| relation at sf0.1) and joined the frontier
    # twice per step (once against deg for the pick, once against adj
    # for the landing edge).  With deg as a second column of the one
    # checkpointed adjacency, each step is a SINGLE broadcast join: the
    # equi-key (src = node) hashes, and the pick condition
    # rn = (h % deg) + 1 evaluates as the join's residual filter —
    # identical arithmetic, identical row selected, one 2|E| stream per
    # step instead of two plus an aggregation.
    w_src = Window.partitionBy("src")
    adj = sym.select(
        "src",
        "dst",
        F.row_number().over(w_src.orderBy("dst")).alias("rn"),
        F.count(F.lit(1)).over(w_src).cast("long").alias("deg"),
    ).localCheckpoint(eager=True)

    walks = spark.createDataFrame(
        [(s, s) for s in _RW_SEEDS], "seed BIGINT, node BIGINT"
    )
    out = walks.withColumn("step", F.lit(0).cast("int"))
    for k in range(1, _RW_STEPS + 1):
        h = T.portable_hash64(
            F.concat(
                F.lit("wk"),
                F.col("seed").cast("string"),
                F.lit(f":{k}:"),
                F.col("node").cast("string"),
            )
        )
        # The frontier is |walkers| rows — broadcast it EXPLICITLY: the
        # checkpointed adjacency carries no stats, so the planner
        # otherwise sort-merges (measured 22.3x shuffle at the 10x step
        # — the adjacency re-shuffled per step).
        # Truncate the chain's lineage each step: without the checkpoint
        # the step-k frame's plan embeds the whole step-1..k join
        # prefix, so the final union replays O(steps^2) joins (the loop
        # discipline of the temporal kernels and pagerank_units; ADVICE
        # r11). The frame is |walkers| rows — the checkpoint is
        # O(walkers).
        walks = (
            adj.join(
                F.broadcast(walks),
                (adj.src == walks.node) & (adj.rn == (h % adj.deg) + 1),
            )
            .select("seed", F.col("dst").alias("node"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            walks.withColumn("step", F.lit(k).cast("int"))
        )
    return out.select(
        "seed", "step", F.col("node").cast("long")
    ).orderBy("seed", "step")


# ---------------------------------------------------------------------------
# Temporal earliest-arrival reachability (time-respecting paths)
# ---------------------------------------------------------------------------

_TR_SEEDS = (1, 2, 3, 4, 5)
_TR_ROUNDS = 3  # the dated entity DAG is 3 layers deep

_TEMPORAL_EDGES_SQL = """
    tedges AS MATERIALIZED (
      SELECT DISTINCT src, dst, t FROM (
        SELECT o_custkey AS src, 1000000000 + o_orderkey AS dst,
               CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS t
        FROM orders
        UNION ALL
        SELECT 1000000000 + l_orderkey, 2000000000 + l_partkey,
               CAST(l_shipdate AS DATE) - DATE '1990-01-01'
        FROM lineitem
        UNION ALL
        SELECT 2000000000 + l_partkey, 3000000000 + l_suppkey,
               CAST(l_shipdate AS DATE) - DATE '1990-01-01'
        FROM lineitem
      )
    )
"""


def _tr_round_sql(k: int) -> str:
    """One temporal-relaxation round: arrival(dst) can improve to any
    edge time t >= the current arrival at src (waiting is allowed)."""
    return f"""
    a{k} AS MATERIALIZED (
      SELECT seed, id, min(d) AS d FROM (
        SELECT seed, id, d FROM a{k - 1}
        UNION ALL
        SELECT p.seed, e.dst AS id, e.t AS d
        FROM a{k - 1} p JOIN tedges e ON e.src = p.id AND e.t >= p.d
      ) GROUP BY seed, id
    )"""


@register(
    "graph_temporal_reach",
    oracle=f"""
    WITH {_TEMPORAL_EDGES_SQL},
    a0 AS (
      SELECT s AS seed, s AS id, CAST(-1 AS BIGINT) AS d
      FROM (VALUES {", ".join(f"({s})" for s in _TR_SEEDS)}) t(s)
    ),
    {",".join(_tr_round_sql(k) for k in range(1, _TR_ROUNDS + 1))}
    SELECT CAST(seed AS BIGINT) AS seed, CAST(id AS BIGINT) AS id,
           CAST(d AS BIGINT) AS arrival_day
    FROM a{_TR_ROUNDS} WHERE id <> seed
    ORDER BY seed, id
    """,
    doc="TEMPORAL EARLIEST-ARRIVAL REACHABILITY (time-respecting "
    "paths, the Wu et al. VLDB'14 single-source earliest-arrival "
    "semantics): an edge (u, v, t) is traversable only at t >= the "
    "path's arrival time at u (waiting allowed), so reachability "
    "depends on edge ORDER in time, not just topology — the "
    "fraud-chain / contact-tracing / information-flow operator class "
    "that static BFS cannot express (a part shipped BEFORE its order "
    "was placed on another path does not propagate). Edges carry real "
    "dates: customer→order at o_orderdate, order→part and "
    "part→supplier at l_shipdate, as integer days since 1990-01-01 — "
    "exact integer comparisons and MIN-relaxations only, so both "
    f"engines agree bit-for-bit. {_TR_ROUNDS} label-correcting "
    "relaxation rounds (= the DAG depth, so the fixpoint is exact): "
    "each round is one edges⋈frontier join with the t >= arrival "
    "filter plus one (seed, id) keyed MIN — the BFS frontier shape "
    "with a per-vertex monotone label, state ∝ touched vertices. "
    "Per-seed arrival days for customer seeds "
    f"{{{', '.join(str(s) for s in _TR_SEEDS)}}}; the oracle unrolls "
    "the rounds as MATERIALIZED CTEs (the fused-pipeline finding).",
)
def graph_temporal_reach(spark: SparkSession, sf: str) -> DataFrame:
    tedges = _dated_entity_edges(spark, sf)

    arr = spark.createDataFrame(
        [(s, s, -1) for s in _TR_SEEDS], "seed BIGINT, id BIGINT, d BIGINT"
    )
    n_arr = len(_TR_SEEDS)
    for _ in range(_TR_ROUNDS):
        # The label relation grows to the seeds' reachable cone, so the
        # broadcast is size-switched (broadcast_side); the count is free —
        # arr is an eagerly-checkpointed frame each round.
        cand = (
            tedges.join(broadcast_side(arr, n_arr), tedges.src == arr.id)
            .filter(F.col("t") >= F.col("d"))
            .select("seed", F.col("dst").alias("id"), F.col("t").alias("d"))
        )
        arr = (
            arr.unionByName(cand)
            .groupBy("seed", "id")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
        n_arr = arr.count()
    return (
        arr.filter(F.col("id") != F.col("seed"))
        .select("seed", "id", F.col("d").cast("long").alias("arrival_day"))
        .orderBy("seed", "id")
    )


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence over the walk corpus (embedding training input)
# ---------------------------------------------------------------------------

_SG_WINDOW = 2
_SG_K = 30

_RW_WALK_SQL = (
    "walk AS MATERIALIZED (\n      "
    + " UNION ALL ".join(
        f"SELECT seed, {k} AS step, node FROM s{k}"
        for k in range(0, _RW_STEPS + 1)
    )
    + "\n    )"
)


@register(
    "graph_walk_skipgrams",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst, src FROM edges
    ),
    adj AS MATERIALIZED (
      SELECT src, dst,
        row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
      FROM sym
    ),
    deg AS MATERIALIZED (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
    ),
    s0 AS (
      SELECT s AS seed, s AS node
      FROM (VALUES {", ".join(f"({s})" for s in _RW_SEEDS)}) t(s)
    ),
    {",".join(_rw_step_sql(k) for k in range(1, _RW_STEPS + 1))},
    {_RW_WALK_SQL},
    pairs AS (
      SELECT a.node AS center, b.node AS context
      FROM walk a JOIN walk b
        ON b.seed = a.seed
       AND b.step BETWEEN a.step + 1 AND a.step + {_SG_WINDOW}
    ),
    sym_pairs AS (
      SELECT center, context FROM pairs
      UNION ALL SELECT context, center FROM pairs
    )
    SELECT CAST(center AS BIGINT) AS center,
           CAST(context AS BIGINT) AS context,
           CAST(count(*) AS BIGINT) AS cnt
    FROM sym_pairs GROUP BY center, context
    ORDER BY cnt DESC, center, context
    LIMIT {_SG_K}
    """,
    doc=f"SKIP-GRAM CO-OCCURRENCE over the deterministic walk corpus — "
    "the actual training input a DeepWalk/node2vec pipeline feeds "
    f"word2vec: for every walk position, the following {_SG_WINDOW} "
    "nodes are its contexts (symmetrized, the standard skip-gram "
    f"convention), counted across all walks; top-{_SG_K} pairs by "
    "count with full deterministic tie-break (cnt desc, center, "
    "context). Composes graph_random_walks end-to-end: the oracle "
    "re-derives the identical walks (same unrolled MATERIALIZED "
    "step CTEs) and self-joins the (seed, step, node) corpus on step "
    "offsets 1..w per seed — so this entry cross-checks the whole "
    "walk chain a second way. Scale shape: the walk corpus is "
    "|walkers|·(steps+1) rows (tiny relative to the graph); the "
    "skip-gram join is per-seed step-banded, the count a combinable "
    "keyed agg; top-k via TakeOrdered.",
)
def graph_walk_skipgrams(spark: SparkSession, sf: str) -> DataFrame:
    walk = graph_random_walks(spark, sf).localCheckpoint(eager=True)
    a, b = walk.alias("a"), walk.alias("b")
    pairs = a.join(
        b,
        (F.col("b.seed") == F.col("a.seed"))
        & (F.col("b.step") > F.col("a.step"))
        & (F.col("b.step") <= F.col("a.step") + _SG_WINDOW),
    ).select(
        F.col("a.node").alias("center"), F.col("b.node").alias("context")
    )
    sym_pairs = pairs.unionByName(
        pairs.select(
            F.col("context").alias("center"), F.col("center").alias("context")
        )
    )
    return (
        sym_pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "center", "context")
        .limit(_SG_K)
    )


# ---------------------------------------------------------------------------
# Temporal latest-departure (the Wu et al. dual: reach a target in time)
# ---------------------------------------------------------------------------

_LD_TARGETS = (0, 1, 2)  # suppliers present at every sf
_LD_INF = 10**9  # "no deadline" sentinel, above any day value
_LD_K = 50  # bounded per-target serving slice


def _ld_round_sql(k: int) -> str:
    """One backward MAX-relaxation round: u can depart at edge time t
    (the latest such edge) if t <= the latest departure usable at v."""
    return f"""
    l{k} AS MATERIALIZED (
      SELECT tgt, id, max(d) AS d FROM (
        SELECT tgt, id, d FROM l{k - 1}
        UNION ALL
        SELECT p.tgt, e.src AS id, e.t AS d
        FROM l{k - 1} p JOIN tedges e ON e.dst = p.id AND e.t <= p.d
      ) GROUP BY tgt, id
    )"""


@register(
    "graph_temporal_latest_dep",
    oracle=f"""
    WITH {_TEMPORAL_EDGES_SQL},
    l0 AS (
      SELECT 3000000000 + s AS tgt, 3000000000 + s AS id,
             CAST({_LD_INF} AS BIGINT) AS d
      FROM (VALUES {", ".join(f"({s})" for s in _LD_TARGETS)}) t(s)
    ),
    {",".join(_ld_round_sql(k) for k in range(1, _TR_ROUNDS + 1))},
    ranked AS (
      SELECT tgt, id, d,
        row_number() OVER (
          PARTITION BY tgt ORDER BY d DESC, id
        ) AS pos
      FROM l{_TR_ROUNDS} WHERE id <> tgt
    )
    SELECT CAST(tgt AS BIGINT) AS tgt, CAST(id AS BIGINT) AS id,
           CAST(d AS BIGINT) AS latest_dep_day, CAST(pos AS INT) AS pos
    FROM ranked WHERE pos <= {_LD_K}
    ORDER BY tgt, pos
    """,
    doc="TEMPORAL LATEST-DEPARTURE paths — the dual of "
    "graph_temporal_reach, completing the Wu et al. VLDB'14 operator "
    "pair: for each target supplier, the LATEST day each upstream "
    "vertex can still 'depart' (take its outgoing edge) and reach the "
    "target along a time-respecting path (every subsequent edge time "
    "nondecreasing). Backward MAX-relaxation over the same dated "
    "entity edges: LD(target) = +inf, and u improves to the max edge "
    "time t of any (u, v, t) with t <= LD(v). The same "
    f"{_TR_ROUNDS}-round exact fixpoint (= DAG depth), the same exact "
    "integer-day arithmetic, the same frontier shape — but the edge "
    "traversal is dst→src and the monotone label is a MAX, so the "
    "pair pins both relaxation directions of the temporal kernel. "
    "The 'how late can the order be placed and still ship via this "
    f"supplier' serving question, emitted as the top-{_LD_K} per "
    "target by latest departure (per-target window — partitioned, "
    "bounded output; the full label relation is the target's "
    "upstream cone, ~|V| at the fixpoint, so unlike the seed-frontier "
    "dual it is joined keyed, never broadcast). Oracle unrolls the "
    "rounds as MATERIALIZED CTEs.",
)
def graph_temporal_latest_dep(spark: SparkSession, sf: str) -> DataFrame:
    tedges = _dated_entity_edges(spark, sf)

    ld = spark.createDataFrame(
        [(SUPP_BASE + s, SUPP_BASE + s, _LD_INF) for s in _LD_TARGETS],
        "tgt BIGINT, id BIGINT, d BIGINT",
    )
    # DELTA-FRONTIER relaxation: only labels that IMPROVED last round
    # re-join the edges (each edge relaxed once per target in the
    # layered DAG), and the delta frontier — NOT the full label
    # relation — is broadcast against the dst-keyed edges (without it
    # the planner sort-merged the FULL 13.4M-row edge list per round:
    # measured 37x shuffle at the 10x step, restored to linear). The
    # broadcast is size-switched via broadcast_side (FRONTIER_BROADCAST_MAX)
    # for when a cone outgrows the broadcast limit. MAX-merge is
    # confluent, so the delta schedule reaches the identical fixpoint
    # the oracle's full unrolled relaxation does.
    frontier = ld
    n_frontier = len(_LD_TARGETS)
    for _ in range(_TR_ROUNDS):
        cand = (
            tedges.join(
                broadcast_side(frontier, n_frontier),
                tedges.dst == frontier.id,
            )
            .filter(F.col("t") <= F.col("d"))
            .groupBy("tgt", F.col("src").alias("id"))
            .agg(F.max("t").alias("cd"))
        )
        frontier = (
            cand.join(
                ld.select(
                    F.col("tgt").alias("ltgt"),
                    F.col("id").alias("lid"),
                    F.col("d").alias("od"),
                ),
                (F.col("tgt") == F.col("ltgt")) & (F.col("id") == F.col("lid")),
                "left",
            )
            .filter(F.col("od").isNull() | (F.col("cd") > F.col("od")))
            .select("tgt", "id", F.col("cd").alias("d"))
            .localCheckpoint(eager=True)
        )
        n_frontier = frontier.count()
        ld = (
            ld.unionByName(frontier)
            .groupBy("tgt", "id")
            .agg(F.max("d").alias("d"))
            .localCheckpoint(eager=True)
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("tgt").orderBy(F.col("d").desc(), F.col("id"))
    return (
        ld.filter(F.col("id") != F.col("tgt"))
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _LD_K)
        .select(
            "tgt", "id", F.col("d").cast("long").alias("latest_dep_day"), "pos"
        )
        .orderBy("tgt", "pos")
    )


# ---------------------------------------------------------------------------
# Temporal reachability delta after the edge-batch append
# ---------------------------------------------------------------------------


def _trd_round_sql(tag: str, k: int, edges: str) -> str:
    return f"""
    {tag}{k} AS MATERIALIZED (
      SELECT seed, id, min(d) AS d FROM (
        SELECT seed, id, d FROM {tag}{k - 1}
        UNION ALL
        SELECT p.seed, e.dst AS id, e.t AS d
        FROM {tag}{k - 1} p JOIN {edges} e ON e.src = p.id AND e.t >= p.d
      ) GROUP BY seed, id
    )"""


@register(
    "graph_temporal_reach_delta",
    oracle=f"""
    WITH {_TEMPORAL_EDGES_SQL},
    base_e AS MATERIALIZED (
      SELECT src, dst, t FROM tedges WHERE (src + dst) % {_PR_INC_MOD} <> 0
    ),
    b0 AS (
      SELECT s AS seed, s AS id, CAST(-1 AS BIGINT) AS d
      FROM (VALUES {", ".join(f"({s})" for s in _TR_SEEDS)}) t(s)
    ),
    {",".join(_trd_round_sql("b", k, "base_e") for k in range(1, _TR_ROUNDS + 1))},
    f0 AS (SELECT seed, id, d FROM b0),
    {",".join(_trd_round_sql("f", k, "tedges") for k in range(1, _TR_ROUNDS + 1))}
    SELECT CAST(f.seed AS BIGINT) AS seed, CAST(f.id AS BIGINT) AS id,
           CAST(f.d AS BIGINT) AS arrival_full,
           CAST(b.d AS BIGINT) AS arrival_base,
           b.d IS NULL AS newly_reachable
    FROM f{_TR_ROUNDS} f
    LEFT JOIN b{_TR_ROUNDS} b ON b.seed = f.seed AND b.id = f.id
    WHERE f.id <> f.seed AND (b.d IS NULL OR f.d < b.d)
    ORDER BY f.seed, f.id
    """,
    doc="TEMPORAL REACHABILITY DELTA — the composition of the round's "
    "two themes (incremental maintenance × temporal semantics): after "
    f"appending the ~{100 // _PR_INC_MOD}% edge batch "
    f"((src+dst) % {_PR_INC_MOD} == 0, the graph_pagerank_incremental "
    "split) to the DATED entity graph, which vertices become newly "
    "time-respecting-reachable from the customer seeds, and whose "
    "earliest arrival IMPROVES? Both relaxation chains (base graph, "
    "full graph) run the exact-integer earliest-arrival kernel of "
    f"graph_temporal_reach ({_TR_ROUNDS} rounds = the DAG depth, so "
    "both fixpoints are exact); the delta is one keyed left join — "
    "emitted rows are exactly the batch's causal impact, the "
    "'what did this append change' audit a temporal serving layer "
    "publishes after ingest. NULL arrival_base marks vertices the "
    "base graph could not reach time-respectingly at all. The oracle "
    "unrolls both chains as MATERIALIZED CTEs.",
)
def graph_temporal_reach_delta(spark: SparkSession, sf: str) -> DataFrame:
    tedges = _dated_entity_edges(spark, sf)
    base_e = tedges.filter(
        ((F.col("src") + F.col("dst")) % _PR_INC_MOD) != 0
    ).localCheckpoint(eager=True)

    def relax(edges: DataFrame) -> DataFrame:
        arr = spark.createDataFrame(
            [(s, s, -1) for s in _TR_SEEDS],
            "seed BIGINT, id BIGINT, d BIGINT",
        )
        n_arr = len(_TR_SEEDS)
        for _ in range(_TR_ROUNDS):
            cand = (
                edges.join(broadcast_side(arr, n_arr), edges.src == arr.id)
                .filter(F.col("t") >= F.col("d"))
                .select(
                    "seed", F.col("dst").alias("id"), F.col("t").alias("d")
                )
            )
            arr = (
                arr.unionByName(cand)
                .groupBy("seed", "id")
                .agg(F.min("d").alias("d"))
                .localCheckpoint(eager=True)
            )
            n_arr = arr.count()
        return arr

    full = relax(tedges).withColumnRenamed("d", "arrival_full")
    base = relax(base_e).select(
        "seed", "id", F.col("d").alias("arrival_base")
    )
    return (
        full.join(base, ["seed", "id"], "left")
        .filter(
            (F.col("id") != F.col("seed"))
            & (
                F.col("arrival_base").isNull()
                | (F.col("arrival_full") < F.col("arrival_base"))
            )
        )
        .select(
            "seed",
            "id",
            F.col("arrival_full").cast("long"),
            F.col("arrival_base").cast("long"),
            F.col("arrival_base").isNull().alias("newly_reachable"),
        )
        .orderBy("seed", "id")
    )



# ---------------------------------------------------------------------------
# Node2vec biased walks (second-order (p, q) transition kernel)
# ---------------------------------------------------------------------------

# Integer class weights encoding node2vec (p=2, q=0.5) scaled by 2:
# alpha = 1/p (return) -> 1, 1 (stay at distance 1) -> 2, 1/q (explore
# outward) -> 4. Exact integers, so the cumulative-weight pick is a
# pure function of the corpus on both engines.
_N2V_W_RET = 1
_N2V_W_IN = 2
_N2V_W_OUT = 4
_N2V_STEPS = 8


def _n2v_step_sql(k: int) -> str:
    """One unrolled biased step: classify each neighbor x of the
    current node v against the PREVIOUS node t (x==t return / x~t
    in-neighborhood / else outward), cumulative-sum the integer class
    weights in dst-rank order, and pick the neighbor whose weight range
    contains portable-hash('n2v'|seed|step|v|t) mod total."""
    return f"""
    n{k} AS MATERIALIZED (
      SELECT seed, node, prev FROM (
        SELECT seed, node, prev, wt, rn, h,
          sum(wt) OVER (PARTITION BY seed ORDER BY rn) AS cum,
          sum(wt) OVER (PARTITION BY seed) AS tot
        FROM (
          SELECT w.seed, a.dst AS node, w.node AS prev, a.rn,
            CASE WHEN a.dst = w.prev THEN {_N2V_W_RET}
                 WHEN e.src IS NOT NULL THEN {_N2V_W_IN}
                 ELSE {_N2V_W_OUT} END AS wt,
            ('0x' || substr(md5('n2v' || w.seed || ':{k}:' || w.node
                 || ':' || w.prev), 1, 12))::BIGINT AS h
          FROM n{k - 1} w
          JOIN adj a ON a.src = w.node
          LEFT JOIN sym e ON e.src = w.prev AND e.dst = a.dst
        )
      ) WHERE (h % tot) + 1 > cum - wt AND (h % tot) + 1 <= cum
    )"""


_N2V_WALK_SQL = (
    "walk AS MATERIALIZED (\n      "
    + " UNION ALL ".join(
        f"SELECT seed, {k} AS step, node FROM n{k}"
        for k in range(0, _N2V_STEPS + 1)
    )
    + "\n    )"
)


@register(
    "graph_node2vec_walks",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst, src FROM edges
    ),
    adj AS MATERIALIZED (
      SELECT src, dst,
        row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
      FROM sym
    ),
    n0 AS (
      SELECT s AS seed, s AS node, CAST(-1 AS BIGINT) AS prev
      FROM (VALUES {", ".join(f"({s})" for s in _RW_SEEDS)}) t(s)
    ),
    {",".join(_n2v_step_sql(k) for k in range(1, _N2V_STEPS + 1))}
    SELECT CAST(seed AS BIGINT) AS seed, CAST(step AS INT) AS step,
           CAST(node AS BIGINT) AS node, CAST(prev AS BIGINT) AS prev
    FROM (
      {" UNION ALL ".join(
        f"SELECT seed, {k} AS step, node, prev FROM n{k}"
        for k in range(0, _N2V_STEPS + 1)
      )}
    )
    ORDER BY seed, step
    """,
    doc=f"NODE2VEC BIASED WALKS (Grover-Leskovec KDD'16) — the "
    "second-order generalization of graph_random_walks: the transition "
    "out of node v depends on the PREVIOUS node t, weighting each "
    "neighbor x by its class — return (x == t, weight "
    f"{_N2V_W_RET}), in-neighborhood (x adjacent to t, weight "
    f"{_N2V_W_IN}), outward (else, weight {_N2V_W_OUT}) — the exact "
    "integer encoding of (p=2, q=0.5), the DFS-leaning exploration "
    "setting. The pick is deterministic: cumulative class weights in "
    "dst-rank order, selected at portable-48-bit-md5("
    "'n2v'|seed|step|v|t) mod total-weight — per-neighbor probability "
    "proportional to its node2vec alpha, yet the realized corpus is a "
    "pure integer function of the graph (engine-exact, partitioning-"
    "invariant; rand()-driven biased walkers are neither). Step 0 has "
    "no predecessor (prev = -1): every neighbor classes as outward, "
    "so the first hop is uniform — the standard node2vec convention. "
    f"{len(_RW_SEEDS)} walkers × {_N2V_STEPS} steps on the symmetrized "
    "entity graph, emitting (seed, step, node, prev). Scale shape: "
    "the dst-ranked adjacency builds once and is reused every step; "
    "per step the frontier is |walkers| rows joined keyed against it, "
    "the prev-adjacency test is one inner join of the (broadcast) "
    "candidate set against the checkpointed symmetric edges, and the "
    "weight windows partition per walker — walkers scale to millions "
    "as bounded keyed joins per step. The oracle re-derives every "
    "biased pick through the same unrolled MATERIALIZED CTEs.",
)
def graph_node2vec_walks(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from graphdatabases_spark.functions import text as T

    edges = entity_edges(spark, sf, dedup=True)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # ONE checkpointed per-step relation (round 14): the window shuffle
    # reads the lazy symmetric union directly (the separate sym
    # checkpoint bought nothing — adj carries sym's rows plus rn), and
    # the in-neighborhood test below probes adj instead of a second
    # materialized copy.
    adj = sym.withColumn(
        "rn", F.row_number().over(Window.partitionBy("src").orderBy("dst"))
    ).localCheckpoint(eager=True)

    walks = spark.createDataFrame(
        [(s, s, -1) for s in _RW_SEEDS],
        "seed BIGINT, node BIGINT, prev BIGINT",
    )
    out = walks.withColumn("step", F.lit(0).cast("int"))
    for k in range(1, _N2V_STEPS + 1):
        # Candidates: all neighbors x of the walker's current node v,
        # carrying the predecessor t for the class test. |walkers| ×
        # deg(v) rows — bounded.  NOT checkpointed (round 14): the two
        # consumers below re-stream the cached adjacency instead — one
        # extra in-memory stream per step is cheaper than a second
        # eager-checkpoint job per step (the per-step action count
        # drops from 2 to 1; all three adjacency streams pipeline
        # inside the single job).
        cand = (
            adj.join(F.broadcast(walks), adj.src == walks.node)
            .select(
                "seed",
                F.col("dst").alias("x"),
                F.col("node").alias("v"),
                F.col("prev").alias("t"),
                "rn",
            )
        )
        # In-neighborhood test: does edge (t, x) exist? The big cached
        # adjacency streams once, the bounded candidate set broadcasts,
        # and the tiny match list broadcasts back — never a big-side
        # shuffle.
        matched = (
            adj.alias("m")
            .join(
                F.broadcast(cand.select("seed", "x", "t")),
                (F.col("m.src") == F.col("t")) & (F.col("m.dst") == F.col("x")),
            )
            .select("seed", "x")
            .distinct()
            .withColumn("is_in", F.lit(True))
        )
        h = T.portable_hash64(
            F.concat(
                F.lit("n2v"),
                F.col("seed").cast("string"),
                F.lit(f":{k}:"),
                F.col("v").cast("string"),
                F.lit(":"),
                F.col("t").cast("string"),
            )
        )
        wcum = Window.partitionBy("seed").orderBy("rn")
        wtot = Window.partitionBy("seed")
        scored = (
            cand.join(F.broadcast(matched), ["seed", "x"], "left")
            .withColumn(
                "wt",
                F.when(F.col("x") == F.col("t"), F.lit(_N2V_W_RET))
                .when(F.col("is_in").isNotNull(), F.lit(_N2V_W_IN))
                .otherwise(F.lit(_N2V_W_OUT))
                .cast("long"),
            )
            .withColumn("cum", F.sum("wt").over(wcum))
            .withColumn("tot", F.sum("wt").over(wtot))
            .withColumn("pick", (h % F.col("tot")) + 1)
        )
        walks = (
            scored.filter(
                (F.col("pick") > F.col("cum") - F.col("wt"))
                & (F.col("pick") <= F.col("cum"))
            )
            .select(
                "seed",
                F.col("x").alias("node"),
                F.col("v").alias("prev"),
            )
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(walks.withColumn("step", F.lit(k).cast("int")))
    return out.select(
        "seed",
        "step",
        F.col("node").cast("long"),
        F.col("prev").cast("long"),
    ).orderBy("seed", "step")


@register(
    "graph_node2vec_skipgrams",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst, src FROM edges
    ),
    adj AS MATERIALIZED (
      SELECT src, dst,
        row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
      FROM sym
    ),
    n0 AS (
      SELECT s AS seed, s AS node, CAST(-1 AS BIGINT) AS prev
      FROM (VALUES {", ".join(f"({s})" for s in _RW_SEEDS)}) t(s)
    ),
    {",".join(_n2v_step_sql(k) for k in range(1, _N2V_STEPS + 1))},
    {_N2V_WALK_SQL},
    pairs AS (
      SELECT a.node AS center, b.node AS context
      FROM walk a JOIN walk b
        ON b.seed = a.seed
       AND b.step BETWEEN a.step + 1 AND a.step + {_SG_WINDOW}
    ),
    sym_pairs AS (
      SELECT center, context FROM pairs
      UNION ALL SELECT context, center FROM pairs
    )
    SELECT CAST(center AS BIGINT) AS center,
           CAST(context AS BIGINT) AS context,
           CAST(count(*) AS BIGINT) AS cnt
    FROM sym_pairs GROUP BY center, context
    ORDER BY cnt DESC, center, context
    LIMIT {_SG_K}
    """,
    doc=f"SKIP-GRAM CO-OCCURRENCE over the BIASED node2vec corpus — "
    "graph_walk_skipgrams' sibling on graph_node2vec_walks: window-"
    f"{_SG_WINDOW} symmetrized context pairs counted across all "
    f"biased walks, top-{_SG_K} with full deterministic tie-break. "
    "The oracle re-derives the entire second-order walk chain "
    "independently (unrolled MATERIALIZED step CTEs with the class-"
    "weight cumulative pick), so this entry end-to-end cross-checks "
    "the biased kernel a second way — the same double-derivation "
    "discipline the uniform-walk pair established. Scale shape "
    "identical: bounded walk corpus, per-seed step-banded self-join, "
    "combinable keyed count, TakeOrdered top-k.",
)
def graph_node2vec_skipgrams(spark: SparkSession, sf: str) -> DataFrame:
    walk = graph_node2vec_walks(spark, sf).localCheckpoint(eager=True)
    a, b = walk.alias("a"), walk.alias("b")
    pairs = a.join(
        b,
        (F.col("b.seed") == F.col("a.seed"))
        & (F.col("b.step") > F.col("a.step"))
        & (F.col("b.step") <= F.col("a.step") + _SG_WINDOW),
    ).select(
        F.col("a.node").alias("center"), F.col("b.node").alias("context")
    )
    sym_pairs = pairs.unionByName(
        pairs.select(
            F.col("context").alias("center"), F.col("center").alias("context")
        )
    )
    return (
        sym_pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "center", "context")
        .limit(_SG_K)
    )
