"""Graph analytics: the north-star "GraphX/Pregel for analytics" surface.

PageRank, connected components, triangle counting, and label propagation
as driver-looped DataFrame programs (SURVEY §2.2 "Graph analytics",
§4.3.1). GraphX/Pregel proper is JVM-only; the DataFrame formulation is
the same message-passing dataflow — ``aggregateMessages`` ≡
``edges ⋈ ranks on src → groupBy(dst).agg(...)`` — and inherits AQE,
broadcast selection, and whole-stage codegen.

Scale discipline shared by all loops: each kernel builds its static edge
relation once (``links``, ``sym`` or ``wedges``), repartitioned by the
join key unless it is already clustered or the state side broadcasts
(``traversal.broadcast_side``), and supplies only its superstep. One
driver, ``_supersteps``, owns the rest: the eager ``localCheckpoint``
every ``CHECKPOINT_EVERY`` rounds and at the end (iterative plan blowup
is the classic failure mode); for the fixpoint kernels, one job per round
that both materialises the state and counts changed rows, the early exit
on zero, and the ``max_iters`` warning (or raise under ``strict``); and
the release of every cache in ``finally``, so a returned frame never
reads a released cache.

Every whole-graph kernel (``pagerank``, ``pagerank_units``,
``personalized_pagerank*``, ``connected_components``,
``label_propagation``, ``kcore``, ``triangle_count``, ``weighted_sssp``)
takes ``strategy="auto"``: at most ``LOCAL_EDGE_THRESHOLD`` edges
(``traversal._pick_strategy``) it collects the edge set once and runs the
identical recurrence on the driver, since a round of a distributed loop
costs a few Spark jobs whatever the data size. Only the fixed-point
``personalized_pagerank_batch_units`` has no local path.
"""

from __future__ import annotations

import warnings
from collections import Counter
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from graphdatabases_spark.graph.model import PropertyGraph, local_frame
from graphdatabases_spark.graph.traversal import (
    CHECKPOINT_EVERY,
    LOCAL_EDGE_THRESHOLD,
    _collect_adjacency,
    _collect_index,
    _local_result_df,
    _numpy_result_df,
    _pick_strategy,
    broadcast_side,
    hash_partitioned_on,
)

RANK_SCHEMA = StructType(
    [StructField("id", LongType(), False), StructField("rank", DoubleType(), False)]
)
COMP_SCHEMA = StructType(
    [StructField("id", LongType(), False), StructField("comp", LongType(), False)]
)
LABEL_SCHEMA = StructType(
    [StructField("id", LongType(), False), StructField("label", LongType(), False)]
)
UNITS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("rank_units", LongType(), False),
    ]
)
CORE_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("core_degree", LongType(), False),
    ]
)
SSSP_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("dist", LongType())]
)


def _edges(graph: PropertyGraph | DataFrame) -> DataFrame:
    df = graph.edges if isinstance(graph, PropertyGraph) else graph
    return df.select("src", "dst")


def _vertices_from(graph: PropertyGraph | DataFrame, edges: DataFrame) -> DataFrame:
    if isinstance(graph, PropertyGraph):
        return graph.vertices.select("id")
    return edges.select(F.explode(F.array("src", "dst")).alias("id")).distinct()


def _spark_of(df: DataFrame) -> SparkSession:
    return df.sparkSession


def _release(df: DataFrame) -> None:
    """Drop ``df``'s blocks: its RDD when ``df`` is what ``localCheckpoint``
    returned, its cache otherwise. Nothing may read ``df`` afterwards."""
    plan = df._jdf.queryExecution().analyzed()
    rdd = plan.rdd() if plan.getClass().getSimpleName() == "LogicalRDD" else None
    if rdd is not None and rdd.isLocallyCheckpointed():
        rdd.unpersist(False)
    else:
        df.unpersist()


def _supersteps(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    changed: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    strict: bool = False,
    name: str = "",
    stale: str = "",
    release: tuple[DataFrame, ...] = (),
) -> DataFrame:
    """Run ``state = step(state, i)`` for rounds ``i = 0 .. rounds-1``
    and return the last state, detached from every cache released here.

    Every ``CHECKPOINT_EVERY``-th round is an eager ``localCheckpoint``;
    a fixed-round kernel (no ``changed``) leaves the other rounds lazy.
    A fixpoint kernel passes ``changed(new, old)``, the rows of ``new``
    that moved: each other round is persisted, ONE job counts
    ``changed`` (materialising the round), the previous round's cache is
    released, and a zero count ends the loop. Rows still moving after
    ``rounds`` rounds warn with a RuntimeWarning, or raise RuntimeError
    under ``strict``; the message names ``name`` and ``stale`` (a format
    string given the count). A last round that is not a checkpoint is
    checkpointed before return; each checkpoint is released once the
    next is materialised. ``release`` (the static edge relations and
    setup checkpoints), a persisted round and a checkpoint not returned
    are released in ``finally``, also when a round or ``strict`` raises.
    """
    cached: DataFrame | None = None
    ckpt: DataFrame | None = None
    result: DataFrame | None = None
    detached = False
    moved = 0
    try:
        for i in range(rounds):
            new = step(state, i)
            detached = (i + 1) % CHECKPOINT_EVERY == 0
            if detached:
                new = new.localCheckpoint(eager=True)
            elif changed is not None:
                new = new.persist(StorageLevel.MEMORY_AND_DISK)
            old, state = state, new
            if changed is not None:
                moved = changed(new, old).count()
                if cached is not None:
                    cached.unpersist()
                cached = None if detached else new
            if detached:
                if ckpt is not None:
                    _release(ckpt)
                ckpt = new
            if changed is not None and moved == 0:
                break
        if moved:
            msg = (
                f"{name}: max_iters={rounds} exhausted before the fixpoint, "
                f"{stale.format(moved)} — raise max_iters"
            )
            if strict:
                raise RuntimeError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=3)
        if not detached:
            state = state.localCheckpoint(eager=True)
        result = state
        return state
    finally:
        if cached is not None:
            cached.unpersist()
        for df in (*release, ckpt):
            if df is not None and df is not result:
                _release(df)


def _out_links(edges: DataFrame, by_src: bool = True) -> DataFrame:
    """The static (src, dst, outdeg) relation of the PageRank-family
    kernels, persisted. With ``by_src`` it is repartitioned by src unless
    the plan already reports hashpartitioning(src) — a src-bucketed edge
    table, or the SMJ path of the outdeg join having exchanged on src."""
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    links = edges.join(out_deg, edges.src == out_deg.id).select(
        "src", "dst", "outdeg"
    )
    if by_src and not hash_partitioned_on(links, "src"):
        links = links.repartition("src")
    return links.persist(StorageLevel.MEMORY_AND_DISK)


def _sym_edges(edges: DataFrame, n_vertices: int) -> DataFrame:
    """Both directions of every edge (duplicates kept), persisted. Above
    the broadcast cap the state side shuffles each round, so the copy is
    clustered by src once; below it the state broadcasts and the edges
    stream as scanned."""
    from graphdatabases_spark.graph.traversal import FRONTIER_BROADCAST_MAX

    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if n_vertices > FRONTIER_BROADCAST_MAX:
        sym = sym.repartition("src")
    return sym.persist(StorageLevel.MEMORY_AND_DISK)


def _power_iteration_local(
    graph,
    edges: DataFrame,
    num_iters: int,
    damping: float,
    sources: list[int] | None = None,
) -> DataFrame:
    """Driver-side ``_power_iteration``, the identical recurrence: the
    restart mass is spread over ``sources``, or over every vertex (plain
    PageRank, r0 = 1/N) when ``sources`` is None; dangling mass decays."""
    spark = _spark_of(edges)
    idx = _collect_index(edges)
    adj, vertices = idx.adj, _vertex_edges(graph, idx)[0].tolist()
    if not vertices:
        return _local_result_df(spark, [], RANK_SCHEMA)
    if sources is None:
        restart, k = set(vertices), len(vertices)
    else:
        restart, k = set(sources), len(sources)
    base = (1.0 - damping) / k
    rank = {v: (1.0 / k if v in restart else 0.0) for v in vertices}
    for _ in range(num_iters):
        msg: dict[int, float] = {}
        for u, vs in adj.items():
            share = rank[u] / len(vs)
            for v in vs:
                msg[v] = msg.get(v, 0.0) + share
        rank = {
            v: (base if v in restart else 0.0) + damping * msg.get(v, 0.0)
            for v in vertices
        }
    return _local_result_df(
        spark, [(v, rank[v]) for v in sorted(rank)], RANK_SCHEMA
    )


def pagerank(
    graph: PropertyGraph | DataFrame,
    num_iters: int = 10,
    damping: float = 0.85,
    strategy: str = "auto",
) -> DataFrame:
    """PageRank with fixed iteration count.

    Semantics (documented so the DuckDB recursive-CTE oracle can mirror
    them exactly): r0 = 1/N; r_{t+1}(v) = (1-d)/N + d * Σ_{u→v} r_t(u) /
    outdeg(u). Dangling-node mass is NOT redistributed (it decays), the
    same simplification GraphX's default makes.

    Returns DataFrame(id BIGINT, rank DOUBLE). One shuffle per iteration
    (the groupBy(dst)); the edges⋈ranks join reuses the edge partitioning.
    Small edge sets (≤ ``LOCAL_EDGE_THRESHOLD``) run the identical
    recurrence driver-side — an N-round distributed loop on a toy graph
    pays N job latencies for nothing (same adaptive policy as the
    traversal kernel).
    """
    edges = _edges(graph)
    if _pick_strategy(edges, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _power_iteration_local(graph, edges, num_iters, damping)
    vertices = _vertices_from(graph, edges)
    n = vertices.count()
    if n == 0:
        return vertices.withColumn("rank", F.lit(0.0))
    return _power_iteration(
        edges, vertices, F.lit(1.0 / n), F.lit((1.0 - damping) / n), num_iters, damping
    )


def _power_iteration(
    edges: DataFrame,
    vertices: DataFrame,
    r0: Column,
    base: Column,
    num_iters: int,
    damping: float,
) -> DataFrame:
    """The dense round shared by ``pagerank`` and
    ``personalized_pagerank``, which differ only in their restart
    weights: rank starts at ``r0`` and each round rebuilds the FULL
    vertex set as ``base + d·Σ_{u→v} rank(u)/outdeg(u)``. Neither join
    carries a broadcast hint: the double message sums keep the
    accumulation order, and so the bits, of the shuffle plan."""
    links = _out_links(edges)

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contribs = (
            links.join(ranks, links.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("outdeg")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("msg"))
        )
        return vertices.join(contribs, "id", "left").select(
            "id",
            (base + F.lit(damping) * F.coalesce("msg", F.lit(0.0))).alias("rank"),
        )

    return _supersteps(
        vertices.withColumn("rank", r0), step, num_iters, release=(links,)
    )


def personalized_pagerank(
    graph: PropertyGraph | DataFrame,
    sources: list[int],
    num_iters: int = 10,
    damping: float = 0.85,
    strategy: str = "auto",
) -> DataFrame:
    """Personalized PageRank: random walk with restart into ``sources``
    — the "related entities" operator (recommendations, seed-set
    expansion) that plain PageRank's uniform teleport cannot express.

    Semantics (mirrored by the unrolled-CTE oracle): r0(v) = 1/|S| for
    v ∈ S else 0; r_{t+1}(v) = (1-d)/|S|·[v ∈ S] + d·Σ_{u→v}
    r_t(u)/outdeg(u). Dangling mass decays, exactly like ``pagerank``.
    Teleport-source nodes therefore keep probability mass even with no
    in-edges — the loop rebuilds each round from the FULL vertex set,
    not just message receivers.

    Same rounds as ``pagerank`` (``_power_iteration``): the (src, dst,
    outdeg) relation shuffles once (skipped when the edge scan is already
    hash-partitioned on src — the bucketed 100-TB layout) and each round
    is one join + one keyed aggregation.

    Returns DataFrame(id BIGINT, rank DOUBLE).
    """
    if not sources:
        raise ValueError("personalized_pagerank needs at least one source")
    src_set = sorted(set(int(s) for s in sources))
    edges = _edges(graph)
    if _pick_strategy(edges, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _power_iteration_local(graph, edges, num_iters, damping, src_set)
    is_src = F.col("id").isin(src_set)
    return _power_iteration(
        edges,
        _vertices_from(graph, edges),
        F.when(is_src, F.lit(1.0 / len(src_set))).otherwise(0.0),
        F.when(is_src, F.lit((1.0 - damping) / len(src_set))).otherwise(0.0),
        num_iters,
        damping,
    )


SEED_RANK_SCHEMA = StructType(
    [
        StructField("seed", LongType(), False),
        StructField("id", LongType(), False),
        StructField("rank", DoubleType(), False),
    ]
)


def _ppr_batch_local(
    graph, edges: DataFrame, seeds: list[int], num_iters: int, damping: float
) -> DataFrame:
    """Driver-side per-seed PPR — identical sparse recurrence to the
    distributed loop (only touched vertices carry state)."""
    spark = _spark_of(edges)
    adj = _collect_adjacency(edges)
    rows: list[tuple[int, int, float]] = []
    for s in seeds:
        rank = {s: 1.0}
        for _ in range(num_iters):
            msg: dict[int, float] = {}
            for u, r in rank.items():
                vs = adj.get(u)
                if not vs:
                    continue
                share = r / len(vs)
                for v in vs:
                    msg[v] = msg.get(v, 0.0) + share
            rank = {v: damping * m for v, m in msg.items()}
            rank[s] = rank.get(s, 0.0) + (1.0 - damping)
        rows.extend((s, v, rank[v]) for v in sorted(rank))
    return _local_result_df(spark, rows, SEED_RANK_SCHEMA)


def personalized_pagerank_batch(
    graph: PropertyGraph | DataFrame,
    seeds: list[int],
    num_iters: int = 10,
    damping: float = 0.85,
    strategy: str = "auto",
) -> DataFrame:
    """Per-seed personalized PageRank for a seed BATCH — the "related
    items for every seed in one pass" shape (batch recommendations,
    seed-set expansion serving). Unlike ``personalized_pagerank``,
    which spreads one normalized restart distribution over the whole
    seed set, each seed here gets its OWN unit restart mass, so rank
    vectors are per-seed normalized and directly comparable across
    seeds: r0(s, v) = [v = s]; r_{t+1}(s, v) = (1-d)·[v = s] +
    d·Σ_{u→v} r_t(s, u)/outdeg(u).

    Scale shape: the state is SPARSE — DataFrame(seed, id, rank) holds
    only vertices the walk has touched (per-seed PPR mass is confined
    to the k-hop neighborhood after k rounds), never |V|×|S| rows. The
    (src, dst, outdeg) relation shuffles once (skipped when the edge
    scan is already hash-partitioned on src — the bucketed 100-TB
    layout); each round is one join plus one (seed, dst) keyed
    aggregation whose width tracks the frontier, not the graph.

    Returns DataFrame(seed BIGINT, id BIGINT, rank DOUBLE) with only
    rank > 0 rows (exactly the vertices whose dense rank is nonzero).
    """
    if not seeds:
        raise ValueError("personalized_pagerank_batch needs at least one seed")
    seed_list = sorted(set(int(s) for s in seeds))
    edges = _edges(graph)
    if _pick_strategy(edges, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _ppr_batch_local(graph, edges, seed_list, num_iters, damping)
    base = F.when(
        F.col("id") == F.col("seed"), F.lit(1.0 - damping)
    ).otherwise(F.lit(0.0))
    return _seed_walks(
        edges,
        seed_list,
        local_frame(
            _spark_of(edges), [(s, s, 1.0) for s in seed_list], SEED_RANK_SCHEMA
        ),
        F.col("rank") / F.col("outdeg"),
        (base + F.lit(damping) * F.coalesce("msg", F.lit(0.0))).alias("rank"),
        num_iters,
    )


def _seed_walks(
    edges: DataFrame,
    seed_list: list[int],
    ranks: DataFrame,
    contrib: Column,
    value: Column,
    num_iters: int,
) -> DataFrame:
    """The sparse per-seed round shared by ``personalized_pagerank_batch``
    and its fixed-point twin: ``contrib`` per (seed, edge) is summed per
    (seed, dst) into ``msg``, and the next state is ``value`` over the
    message receivers ∪ the |S| teleport keys (full outer join with the
    tiny key frame) — vertices with neither stay implicit zeros instead
    of materializing |V|×|S| state. ``value`` mirrors the dense
    recurrence term for term (base + d·Σ, the Σ aggregated FIRST), so
    the unrolled-CTE oracles replay it bit for bit."""
    seed_keys = local_frame(
        _spark_of(edges),
        [(s, s) for s in seed_list],
        StructType.fromDDL("seed BIGINT, id BIGINT"),
    )
    links = _out_links(edges)

    def step(ranks: DataFrame, _: int) -> DataFrame:
        msgs = (
            links.join(ranks, links.src == ranks.id)
            .select("seed", F.col("dst").alias("id"), contrib.alias("contrib"))
            .groupBy("seed", "id")
            .agg(F.sum("contrib").alias("msg"))
        )
        return msgs.join(seed_keys, ["seed", "id"], "full_outer").select(
            "seed", "id", value
        )

    return _supersteps(ranks, step, num_iters, release=(links,))


def personalized_pagerank_batch_units(
    graph: PropertyGraph | DataFrame,
    seeds: list[int],
    num_iters: int = 3,
    damping_pct: int = 85,
    unit_scale: int = 10**12,
) -> DataFrame:
    """FIXED-POINT per-seed personalized PageRank: the integer variant
    of ``personalized_pagerank_batch`` for graphs whose in-degree makes
    double message sums accumulation-order-dependent (any real entity
    graph — a popular item sums thousands of contributions, and float
    addition order varies with partitioning).

    Ranks are BIGINT micro-units (seed starts at ``unit_scale``); each
    round is contrib = units div outdeg (truncating integer division),
    msg = Σ contrib (exact integer sum — associative and commutative,
    so ANY partitioning, shuffle order, or aggregation tree yields the
    same bits), new = (100-damping_pct)%·unit_scale at the seed +
    damping_pct·msg div 100. The deliberate truncation bias (< 1 unit
    per division, i.e. < 1e-12 of the walk) buys ENGINE-EXACT
    reproducibility — the same discipline as the catalog's DECIMAL
    money sums and integer log2 surprise scores. Same sparse state and
    scale shape as the double kernel (``_seed_walks``); no local fast
    path is needed because integer ops remove the only cross-strategy
    divergence.

    Returns DataFrame(seed BIGINT, id BIGINT, rank_units BIGINT) with
    the walk's touched vertices (rank_units may be 0 where truncation
    consumed the mass — filter > 0 for the support set).
    """
    if not seeds:
        raise ValueError("personalized_pagerank_batch_units needs at least one seed")
    seed_list = sorted(set(int(s) for s in seeds))
    edges = _edges(graph)
    base = F.when(
        F.col("id") == F.col("seed"), F.lit(((100 - damping_pct) * unit_scale) // 100)
    ).otherwise(F.lit(0))
    return _seed_walks(
        edges,
        seed_list,
        local_frame(
            _spark_of(edges),
            [(s, s, unit_scale) for s in seed_list],
            StructType.fromDDL("seed BIGINT, id BIGINT, rank_units BIGINT"),
        ),
        F.expr("rank_units div outdeg"),
        (base + F.expr(f"({damping_pct} * coalesce(msg, 0)) div 100"))
        .cast("long")
        .alias("rank_units"),
        num_iters,
    )


def _div_trunc(a, b):
    """Spark's ``div`` on int64 arrays: truncates toward zero, where
    numpy's ``//`` floors (they differ only for negative operands)."""
    import numpy as np

    return (a - np.fmod(a, b)) // b


def _vertex_edges(graph, idx):
    """The sorted vertex ids (the vertex frame, else the endpoints) and
    each CSR edge's src and dst positions in them, -1 for a non-vertex."""
    import numpy as np

    if isinstance(graph, PropertyGraph):
        tbl = graph.vertices.select(F.col("id").cast("long")).toArrow()
        vids = np.unique(np.asarray(tbl.column("id").to_numpy(), dtype=np.int64))
    else:
        vids = idx.universe
    u = idx.universe
    upos = np.where(np.isin(u, vids), np.searchsorted(vids, u), -1)
    src_u = np.repeat(np.arange(len(idx.universe)), np.diff(idx.indptr))
    return vids, upos[src_u], upos[idx.nbr_idx]


def _pagerank_units_rounds(
    units, e_src, e_dst, e_deg, num_iters: int, damping_pct: int, unit_scale: int
):
    """The integer recurrence of ``pagerank_units`` in exact int64
    numpy: ``units`` (one value per vertex position) after ``num_iters``
    rounds over the edges ``e_src -> e_dst`` (vertex positions), each
    carrying its source's outdeg ``e_deg``. Per round, contrib = units
    div outdeg per edge, a dst-sorted ``np.add.reduceat`` for the
    message sums, then base + damping_pct·msg div 100. No float ever
    carries a rank (sums can pass 2^53); int64 overflow raises, as ANSI
    Spark does, instead of wrapping."""
    import numpy as np

    i64 = np.iinfo(np.int64)

    def overflow(what: str):
        raise OverflowError(f"pagerank_units: long overflow in {what}")

    order = np.argsort(e_dst)
    e_src, e_dst, e_deg = e_src[order], e_dst[order], e_deg[order]
    seg = np.flatnonzero(np.r_[True, e_dst[1:] != e_dst[:-1]])
    seg_end = np.r_[seg[1:], len(e_dst)]
    base = np.int64(((100 - damping_pct) * unit_scale) // 100)
    mul_lim = i64.max // abs(damping_pct) if damping_pct else i64.max
    for _ in range(num_iters):
        contrib = _div_trunc(units[e_src], e_deg)
        msg = np.zeros(len(units), dtype=np.int64)
        if len(contrib):
            # |float sum of |contrib|| < 2^62 proves the exact segment
            # sum (and every partial sum) fits; recheck the rest exactly.
            bound = np.add.reduceat(np.abs(contrib.astype(np.float64)), seg)
            for k in np.flatnonzero(bound >= 2.0**62):
                exact = sum(int(c) for c in contrib[seg[k] : seg_end[k]])
                if not i64.min <= exact <= i64.max:
                    overflow("the message sum")
            msg[e_dst[seg]] = np.add.reduceat(contrib, seg)
        if ((msg > mul_lim) | (msg < -mul_lim)).any():
            overflow("damping_pct * msg")
        step = _div_trunc(damping_pct * msg, 100)
        if ((step > i64.max - base) if base >= 0 else (step < i64.min - base)).any():
            overflow("base + damping")
        units = base + step
    return units


def _pagerank_units_local(
    graph,
    edges: DataFrame,
    num_iters: int,
    damping_pct: int,
    unit_scale: int,
    init_ranks: DataFrame | None,
) -> DataFrame:
    """Driver-side ``pagerank_units``: ``_pagerank_units_rounds`` over
    the cached CSR edge index."""
    import numpy as np

    spark = _spark_of(edges)
    idx = _collect_index(edges)
    vids, e_src, e_dst = _vertex_edges(graph, idx)
    nv = len(vids)
    if nv == 0:
        return _local_result_df(spark, [], UNITS_SCHEMA)
    # outdeg counts every edge of src, also those to non-vertices, whose
    # messages are dropped (the distributed left join from the vertex set).
    deg_u = np.diff(idx.indptr)
    e_deg = np.repeat(deg_u, deg_u)
    keep = (e_src >= 0) & (e_dst >= 0)

    units = np.full(nv, np.int64(unit_scale))
    if init_ranks is not None:
        prev = init_ranks.select(
            *(F.col(c).cast("long").alias(c) for c in ("id", "rank_units"))
        ).dropna().toArrow()
        ids, vals = (
            np.asarray(prev.column(c).to_numpy(), dtype=np.int64)
            for c in ("id", "rank_units")
        )
        hit = np.isin(ids, vids)
        units[np.searchsorted(vids, ids[hit])] = vals[hit]
    units = _pagerank_units_rounds(
        units, e_src[keep], e_dst[keep], e_deg[keep], num_iters, damping_pct, unit_scale
    )
    return _numpy_result_df(spark, {"id": vids, "rank_units": units}, UNITS_SCHEMA)


def pagerank_units(
    graph: PropertyGraph | DataFrame,
    num_iters: int = 10,
    damping_pct: int = 85,
    unit_scale: int = 10**12,
    init_ranks: DataFrame | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """GLOBAL fixed-point PageRank with an optional WARM START — the
    whole-graph sibling of ``personalized_pagerank_batch_units`` and
    the kernel behind incremental rank maintenance: after appending an
    edge batch, restart power iteration from the previous fixed point
    (``init_ranks``) instead of from uniform, and the walk re-contracts
    from the perturbation size rather than from scratch.

    Arithmetic (mirrors the per-seed units kernel so unrolled-CTE
    oracles replay it bit-for-bit): every vertex starts at
    ``unit_scale`` units (or its ``init_ranks`` value; vertices the
    batch introduced that have no prior rank fall back to
    ``unit_scale``, the cold-start value); each round is
    contrib = units div outdeg (truncating), msg = Σ contrib (exact
    integer sum — associative/commutative, so ANY partitioning yields
    the same bits), new = (100-damping_pct)%·unit_scale +
    damping_pct·msg div 100 at EVERY vertex. Dangling mass decays.
    The truncated integer map is deterministic, so cold and warm
    trajectories that meet once stay equal — the basis of the
    rounds_warm < rounds_cold / identical-fixed-point pin in
    ``tests/test_round11_graph.py``.

    Scale shape: the (src, dst, outdeg) relation shuffles once and is
    reused every round; each round is one join (reusing the edge
    partitioning) plus one dst-keyed aggregation; state is one BIGINT
    per vertex.
    Small edge sets (``strategy="auto"``: at most
    ``LOCAL_EDGE_THRESHOLD`` edges, the policy of ``pagerank``) run the
    same recurrence driver-side in int64 numpy
    (``_pagerank_units_local``): integer arithmetic makes the two
    strategies bit-identical, and on a toy graph the distributed loop
    pays a broadcast join and a checkpoint job per round for nothing.

    Returns DataFrame(id BIGINT, rank_units BIGINT) over the graph's
    full vertex set.
    """
    from graphdatabases_spark.graph.traversal import FRONTIER_BROADCAST_MAX

    edges = _edges(graph)
    if _pick_strategy(edges, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _pagerank_units_local(
            graph, edges, num_iters, damping_pct, unit_scale, init_ranks
        )
    # The vertex frame re-enters the plan EVERY round (the left join
    # that hands each vertex its base units) — materialize it once;
    # without this each round re-runs the edge scan + explode-distinct
    # (measured 3.6× the whole entry's wall at sf0.1).
    vertices = (
        _vertices_from(graph, edges)
        .select(F.col("id").cast("long"))
        .localCheckpoint(eager=True)
    )
    # Size-switched per-round broadcasts (round 14): a rank/msg row is
    # 16 B, so below the frontier cap the per-vertex state broadcasts
    # (~4 MB at 186k vertices) and BOTH per-round joins become
    # broadcast-hash — the cached links relation streams with ZERO
    # exchange, and only the dst-keyed partial-agg output shuffles.
    # Above the cap the pre-r14 shuffle-join shape is unchanged.
    n_vertices = vertices.count()
    if init_ranks is None:
        ranks = vertices.select(
            "id", F.lit(unit_scale).cast("long").alias("rank_units")
        )
    else:
        prev = init_ranks.select(
            F.col("id").cast("long").alias("id"),
            F.col("rank_units").cast("long").alias("prev_units"),
        )
        ranks = vertices.join(prev, "id", "left").select(
            "id",
            F.coalesce("prev_units", F.lit(unit_scale))
            .cast("long")
            .alias("rank_units"),
        )
    ranks = ranks.localCheckpoint(eager=True)
    links = _out_links(edges, by_src=n_vertices > FRONTIER_BROADCAST_MAX)
    base_units = ((100 - damping_pct) * unit_scale) // 100

    def step(ranks: DataFrame, _: int) -> DataFrame:
        msgs = (
            links.join(broadcast_side(ranks, n_vertices), links.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                F.expr("rank_units div outdeg").alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("msg"))
        )
        return vertices.join(broadcast_side(msgs, n_vertices), "id", "left").select(
            "id",
            (
                F.lit(base_units)
                + F.expr(f"({damping_pct} * coalesce(msg, 0)) div 100")
            )
            .cast("long")
            .alias("rank_units"),
        )

    return _supersteps(ranks, step, num_iters, release=(links, vertices, ranks))


def _min_labels(src, dst, n: int):
    """The smallest position in each position's component of the
    undirected edges ``src - dst`` over positions ``0..n-1``, by
    vectorised hook-and-shortcut: each round hooks every edge's larger
    root under the smaller, then jumps pointers until every tree is a
    star, until a round hooks nothing. Pointers only go to smaller
    positions, so a component's minimum stays its root."""
    import numpy as np

    lab = np.arange(n)
    while True:
        lo = np.minimum(lab[src], lab[dst])
        new = lab.copy()
        np.minimum.at(new, lab[src], lo)
        np.minimum.at(new, lab[dst], lo)
        while (new[new] != new).any():
            new = new[new]
        if (new == lab).all():
            return lab
        lab = new


def _connected_components_local(graph, edges: DataFrame) -> DataFrame:
    """``_min_labels`` over the cached CSR edge index; an edge to a
    non-vertex carries no label, as in the distributed loop."""
    vids, e_src, e_dst = _vertex_edges(graph, _collect_index(edges))
    keep = (e_src >= 0) & (e_dst >= 0)
    lab = _min_labels(e_src[keep], e_dst[keep], len(vids))
    return _numpy_result_df(
        _spark_of(edges), {"id": vids, "comp": vids[lab]}, COMP_SCHEMA
    )


def connected_components(
    graph: PropertyGraph | DataFrame,
    max_iters: int = 50,
    strategy: str = "auto",
    strict: bool = False,
) -> DataFrame:
    """Undirected connected components by iterative min-id propagation.

    comp(v) starts at v; each round takes the min of comp over v and its
    neighbors; converges in O(component diameter) rounds (the large-star/
    small-star optimization halves that but needs the same kernel).
    A caller-supplied ``max_iters`` can cut a long-path component short,
    leaving split component ids: that warns, or raises under ``strict``.
    Small edge sets run ``_min_labels`` on the driver — the same
    converged answer without O(diameter) job rounds.
    Returns DataFrame(id BIGINT, comp BIGINT).
    """
    if max_iters < 1:
        # Zero propagation rounds would silently return every vertex as
        # its own component (same hazard class as the kcore guard).
        raise ValueError(f"connected_components needs max_iters >= 1, got {max_iters}")
    e = _edges(graph)
    if _pick_strategy(e, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _connected_components_local(graph, e)
    vertices = _vertices_from(graph, e)
    # Below the frontier cap the per-vertex label state broadcasts and
    # the cached sym streams with no setup repartition and no per-round
    # exchange of the label side; only the keyed min aggregate shuffles.
    n_vertices = vertices.count()
    sym = _sym_edges(e, n_vertices)

    def step(comp: DataFrame, _: int) -> DataFrame:
        nbr_min = (
            sym.join(broadcast_side(comp, n_vertices), sym.src == comp.id)
            .select(F.col("dst").alias("id"), F.col("comp"))
            .groupBy("id")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return comp.join(broadcast_side(nbr_min, n_vertices), "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias(
                "comp"
            ),
        )

    def changed(new: DataFrame, old: DataFrame) -> DataFrame:
        return (
            new.alias("n")
            .join(broadcast_side(old.alias("o"), n_vertices), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
        )

    return _supersteps(
        vertices.select("id", F.col("id").alias("comp")),
        step,
        max_iters,
        changed=changed,
        strict=strict,
        name="connected_components",
        stale="{} labels still changing, so components may be split",
        release=(sym,),
    )


def _triangle_count_local(edges: DataFrame) -> int:
    adj = _collect_adjacency(edges)
    canon: set[tuple[int, int]] = set()
    for u, vs in adj.items():
        for v in vs:
            if u != v:
                canon.add((u, v) if u < v else (v, u))
    fwd: dict[int, set[int]] = {}
    for a, b in canon:
        fwd.setdefault(a, set()).add(b)
    # Each triangle a<b<c counted once, at its lowest edge (a,b).
    return sum(
        len(fwd.get(a, set()) & fwd.get(b, set())) for a, b in canon
    )


def triangle_count(
    graph: PropertyGraph | DataFrame,
    strategy: str = "auto",
) -> int:
    """Global triangle count on the undirected simple graph.

    Canonicalize edges to a<b, then count paths a<b<c closed by (a,c):
    two self-joins — the standard distributed formulation. At scale the
    first join shuffles on b; degree-skew is mitigated by AQE skew
    splitting (and classically by degree-ordering, which a<b<c gives).
    """
    e = _edges(graph)
    if _pick_strategy(e, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _triangle_count_local(e)
    canon = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        e1 = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = canon.select(F.col("a").alias("y2"), F.col("b").alias("z"))
        wedges = e1.join(e2, e1.y == e2.y2).select("x", "y", "z")
        closed = wedges.join(
            canon,
            (wedges.x == canon.a) & (wedges.z == canon.b),
            "left_semi",
        )
        return closed.count()
    finally:
        canon.unpersist()


def _label_propagation_local(graph, edges: DataFrame, num_iters: int) -> DataFrame:
    """Synchronous LPA on the driver — mirrors the distributed rounds
    exactly, including per-edge multiplicity in the neighbor counts."""
    spark = _spark_of(edges)
    idx = _collect_index(edges)
    adj, vertices = idx.adj, _vertex_edges(graph, idx)[0].tolist()
    # Symmetric neighbor multiset, duplicates preserved (matches the
    # distributed union of forward + reversed edges without distinct).
    nbrs: dict[int, list[int]] = {v: [] for v in vertices}
    for u, vs in adj.items():
        for v in vs:
            nbrs.setdefault(v, []).append(u)
            nbrs.setdefault(u, []).append(v)
    labels = {v: v for v in vertices}
    for _ in range(num_iters):
        new_labels = {}
        for v in vertices:
            counts = Counter(labels[u] for u in nbrs.get(v, ()))
            if counts:
                # Max count, ties → smallest label (deterministic mode).
                new_labels[v] = min((-c, l) for l, c in counts.items())[1]
            else:
                new_labels[v] = labels[v]
        labels = new_labels
    return _local_result_df(
        spark, [(v, labels[v]) for v in sorted(labels)], LABEL_SCHEMA
    )


def label_propagation(
    graph: PropertyGraph | DataFrame,
    num_iters: int = 5,
    strategy: str = "auto",
) -> DataFrame:
    """Synchronous label propagation for community detection.

    label(v) starts at v; each round v adopts the most frequent label
    among in+out neighbors (ties → smallest label — deterministic).
    Returns DataFrame(id BIGINT, label BIGINT).
    """
    e = _edges(graph)
    if _pick_strategy(e, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _label_propagation_local(graph, e, num_iters)
    # Materialize the vertex set once: the per-round label rebuild
    # left-joins `vertices`, and without this the endpoint-distinct
    # (an O(edges) shuffle) re-executes every round.
    vertices = _vertices_from(graph, e).localCheckpoint(eager=True)
    # Below the frontier cap the per-vertex label state broadcasts and
    # both per-round joins are broadcast-hash — sym streams with no
    # setup repartition and no per-round exchange of the label side;
    # only the keyed count aggregate shuffles.
    n_vertices = vertices.count()
    sym = _sym_edges(e, n_vertices)

    def step(labels: DataFrame, _: int) -> DataFrame:
        counts = (
            sym.join(broadcast_side(labels, n_vertices), sym.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # Deterministic mode: max count, then min label.
        best = counts.groupBy("id").agg(
            F.min(
                F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("label"))
            ).alias("top")
        ).select("id", F.col("top.label").alias("new_label"))
        # Rebuild WITHOUT re-joining the previous labels: a vertex
        # missing from `best` has no neighbor (isolated), and an
        # isolated vertex's label never moves off its initial id —
        # so coalesce(new_label, id) is exact. This keeps each
        # round's lineage a SINGLE-reference chain; the old
        # two-reference rebuild (best ⋈ labels_old both derived
        # from labels_prev) doubled the un-checkpointed plan per
        # round — measured 131→272→551 MB shuffle for 1→2→3
        # rounds on the 3M-edge sf1 co-purchase graph before the
        # round-9 fix, ~linear after.
        return vertices.join(broadcast_side(best, n_vertices), "id", "left").select(
            "id", F.coalesce("new_label", F.col("id")).alias("label")
        )

    return _supersteps(
        vertices.select("id", F.col("id").alias("label")),
        step,
        num_iters,
        release=(sym, vertices),
    )


def _kcore_local(graph, edges: DataFrame, k: int) -> DataFrame:
    """Driver-side peel: repeatedly delete nodes of degree < k."""
    spark = _spark_of(edges)
    adj = _collect_adjacency(edges)
    # Undirected neighbor sets (dedup parallel edges; drop self-loops).
    nbrs: dict[int, set[int]] = {}
    for u, vs in adj.items():
        for v in vs:
            if u == v:
                continue
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    alive = set(nbrs)
    queue = [v for v in alive if len(nbrs[v]) < k]
    while queue:
        v = queue.pop()
        if v not in alive:
            continue
        alive.discard(v)
        for u in nbrs[v]:
            if u in alive:
                nbrs[u].discard(v)
                if len(nbrs[u]) < k:
                    queue.append(u)
    return _local_result_df(
        spark,
        [(v, len(nbrs[v])) for v in sorted(alive)],
        CORE_SCHEMA,
    )


def kcore(
    graph: PropertyGraph | DataFrame,
    k: int = 2,
    max_iters: int = 50,
    strategy: str = "auto",
    strict: bool = False,
) -> DataFrame:
    """Nodes of the k-core (maximal subgraph with min degree ≥ k) and
    their within-core degrees. Returns DataFrame(id, core_degree).

    Distributed form is synchronous peeling: each round computes degrees
    over the surviving subgraph and drops nodes under k; converges in
    O(peel depth) rounds (typically ≪ |V|). Each round is one shuffle
    keyed on node id; the edge set is filtered by two semi-joins against
    the shrinking survivor set, so work decreases monotonically — the
    100-TB shape. Peel depth is bounded by |V|, but a caller-supplied
    ``max_iters`` can cut a deep peel (long path appendages) short: that
    warns, or raises under ``strict``. Small graphs peel on the driver
    (same fixpoint, no per-round job overhead).
    """
    if max_iters < 1:
        # A zero-round "peel" would silently return unpeeled degrees.
        raise ValueError(f"kcore needs max_iters >= 1, got {max_iters}")
    e = _edges(graph)
    if _pick_strategy(e, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _kcore_local(graph, e, k)
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )
    sym = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)

    def semi(edges: DataFrame, nodes: DataFrame) -> DataFrame:
        return edges.join(nodes, "src", "semi").join(
            nodes.select(F.col("src").alias("dst")), "dst", "semi"
        )

    def step(deg: DataFrame, i: int) -> DataFrame:
        # After round 1 the edge filter is re-anchored on the
        # materialized degree frame rather than the growing semi-join
        # lineage.
        cur = sym if i == 0 else semi(sym, deg.select("src"))
        cur = semi(cur, deg.filter(F.col("deg") >= k).select("src"))
        return cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    deg = _supersteps(
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
        step,
        max_iters,
        changed=lambda new, _: new.filter(F.col("deg") < k),
        strict=strict,
        name="kcore",
        stale=f"{{}} nodes still under k={k}, so the result is the "
        "partially-peeled subgraph",
        release=(sym,),
    )
    return deg.select(F.col("src").alias("id"), F.col("deg").alias("core_degree"))


def _weighted_sssp_local(
    wedges: DataFrame, src: int
) -> DataFrame:
    """Driver-side Dijkstra over a collected (src, dst, w) edge list —
    the bounded fast path (same threshold contract as the other
    kernels: only below LOCAL_EDGE_THRESHOLD edges)."""
    import heapq

    spark = _spark_of(wedges)
    adj: dict[int, list[tuple[int, int]]] = {}
    for r in wedges.collect():
        if r["w"] < 0:
            raise ValueError("weighted_sssp requires non-negative weights")
        adj.setdefault(int(r["src"]), []).append((int(r["dst"]), int(r["w"])))
    dist: dict[int, int] = {src: 0}
    heap = [(0, src)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, 1 << 62):
            continue
        for v, w in adj.get(u, ()):
            nd = d + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    rows = [(int(i), int(d)) for i, d in sorted(dist.items())]
    return _local_result_df(spark, rows, SSSP_SCHEMA)


def weighted_sssp(
    edges: DataFrame,
    src: int,
    weight_col: str = "w",
    max_iters: int = 30,
    strategy: str = "auto",
    strict: bool = False,
) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford / min-plus
    relaxation) — the weighted sibling of ``traversal.ssp``'s
    hop-count BFS.

    Each round relaxes every edge once: dist' = min(dist, min over
    in-edges of dist(src) + w). Converges in O(longest minimal-weight
    path hop count) rounds; early-exits on the first round with zero
    improvements (full-pass check, no LIMIT sampling), warns — or
    raises under ``strict`` — if ``max_iters`` cuts the fixpoint
    short. Negative weights are rejected (min-plus with negatives
    cannot certify convergence without |V| rounds and cycle checks).

    Scale shape: dist is hash-partitioned by id; each round is one
    equi-join dist⋈edges on the edge source + one min-aggregation on
    the destination — the same two-exchange round as PageRank/CC.
    Small edge sets run driver-side Dijkstra instead (same converged
    answer, no per-round job overhead).

    Returns DataFrame(id BIGINT, dist BIGINT) over reachable nodes,
    including the source at distance 0.
    """
    if max_iters < 1:
        raise ValueError(f"weighted_sssp needs max_iters >= 1, got {max_iters}")
    wedges = edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col(weight_col).cast("long").alias("w"),
    )
    # Negative weights are validated INSIDE each path (local: during
    # the adjacency collect; distributed: on the persisted, already-
    # repartitioned copy) — a separate up-front action would re-execute
    # the caller's whole edge-derivation plan one extra time (measured:
    # the entity-graph distinct exchange ran twice at sf1).
    if _pick_strategy(edges, strategy, LOCAL_EDGE_THRESHOLD) == "local":
        return _weighted_sssp_local(wedges, src)
    if not hash_partitioned_on(wedges, "src"):
        wedges = wedges.repartition("src")
    # else: src-bucketed edge table (SURVEY §1.2) — already clustered
    # on the relaxation join key, the one-time shuffle is free.
    wedges = wedges.persist(StorageLevel.MEMORY_AND_DISK)

    def step(dist: DataFrame, i: int) -> DataFrame:
        # Raised from inside the driver so its finally releases wedges.
        if i == 0 and wedges.filter(F.col("w") < 0).limit(1).count():
            raise ValueError("weighted_sssp requires non-negative weights")
        relaxed = (
            wedges.join(dist, wedges.src == dist.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        return dist.join(relaxed, "id", "full").select(
            "id",
            F.least(
                F.coalesce("dist", F.lit(1 << 62)),
                F.coalesce("cand", F.lit(1 << 62)),
            ).alias("dist"),
        )

    def changed(new: DataFrame, old: DataFrame) -> DataFrame:
        return (
            new.alias("n")
            .join(old.alias("o"), "id", "left")
            .filter(F.col("o.dist").isNull() | (F.col("n.dist") != F.col("o.dist")))
        )

    return _supersteps(
        local_frame(_spark_of(edges), [(int(src), 0)], SSSP_SCHEMA),
        step,
        max_iters,
        changed=changed,
        strict=strict,
        name="weighted_sssp",
        stale="{} distances still improving, so results may be over-estimates",
        release=(wedges,),
    )
