"""Shared symmetry-breaking kernels (MIS / maximal matching).

Pure move out of graph_queries.py (round 14, verdict item #4): the
fixed-priority parallel kernels with their sub-threshold driver-local
tails, the once-partitioned symmetric-relation builder, and the
driver-local greedy replays.  Consumed by graph_queries (Luby MIS,
greedy matching), graph_symmetry_queries (coloring, b-matching) and
graph_incremental_queries (the greedies inside the repair bodies).

Reference parity: the reference (eragon2404/GraphDatabases) has no MIS
or matching operator — these are engine-widening entries; the kernels
cite their scale discipline in SCALE.md (rounds 12-13 audits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graphdatabases_spark.graph.model import local_frame
from graphdatabases_spark.graph.traversal import broadcast_side

# Sub-threshold driver-local tail for the symmetry-breaking kernels
# (round 13 — the multilevel-Louvain / local-Dijkstra pattern applied
# to MIS/matching/coloring): the undecided set shrinks geometrically,
# so the last rounds exchange almost nothing yet each still pays ~0.5 s
# of synchronous-BSP stage scheduling.  Once the undecided-induced
# subgraph fits the driver (edge bound below), ONE Arrow collect plus
# an in-process greedy pass finishes the kernel exactly — the fixed
# priorities make the distributed fixpoint THE lexicographically-first
# greedy result, so the tail is bit-identical, just unscheduled.  The
# edge bound sits deliberately BELOW the smallest swept bench graph
# (sf0.1 entity sym = 2.7M edges): every swept sf still drives at
# least one distributed round before the tail, keeping the distributed
# path value-checked by the sweep; at 100 TB the threshold is never
# met until the genuine tail.
_SYM_LOCAL_V_MAX = 4_000_000     # probe induced edges only when the
                                 # undecided set is driver-bounded
                                 # (FRONTIER_BROADCAST_MAX — an id+h
                                 # row is 16 B, so 4M rows ~ 64 MB)
_SYM_LOCAL_EDGE_MAX = 1_000_000  # Arrow-collect bound on induced edges


def _induced_local(
    spark,
    sym: DataFrame,
    und: DataFrame,
    n_und: int,
    known_edge_count: int | None = None,
):
    """Collect the undecided-induced subgraph if it fits the driver.

    Returns ``(verts_pdf, edges_pdf)`` (pandas, Arrow transfer) when
    ``und`` has <= _SYM_LOCAL_V_MAX vertices AND its induced symmetric
    edge set has <= _SYM_LOCAL_EDGE_MAX rows, else ``None``.  Both
    semi-joins broadcast the (bounded) undecided id list, so the probe
    itself exchanges nothing beyond the count.  When ``und`` is still
    the FULL vertex set the induced set is ``sym`` itself — callers
    pass ``known_edge_count`` (the once-counted checkpointed relation)
    and the probe join is skipped entirely."""
    if n_und > _SYM_LOCAL_V_MAX:
        return None
    if known_edge_count is not None:
        if known_edge_count > _SYM_LOCAL_EDGE_MAX:
            return None
        ind = sym
    else:
        srcs = und.select(F.col("id").alias("src"))
        dsts = und.select(F.col("id").alias("dst"))
        ind = sym.join(F.broadcast(srcs), "src", "left_semi").join(
            F.broadcast(dsts), "dst", "left_semi"
        )
        # Count first, collect only on acceptance: a rejected probe
        # costs one broadcast-semi scan of the checkpointed sym (no
        # exchange, no materialization); an accepted one recomputes
        # the same bounded join straight into Arrow.
        if ind.count() > _SYM_LOCAL_EDGE_MAX:
            return None
    return und.toPandas(), ind.select("src", "dst").toPandas()


def _mis_greedy(rank, src, dst):
    """Driver-local lexicographically-first MIS: the membership mask
    over vertex positions ``0..n-1`` ordered by ``rank`` (a permutation,
    lowest first) for the symmetric edges ``(src, dst)`` given as
    positions.  Runs the kernel's own rounds in numpy — a live vertex
    wins when it ranks below every live neighbour, then winners and
    their neighbours leave — so it equals both the parallel
    fixed-priority fixpoint and the sequential greedy pass.  Self-loops
    never block a vertex."""
    import numpy as np

    n = len(rank)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    mis = np.zeros(n, dtype=bool)
    live = np.ones(n, dtype=bool)
    while live.any():
        e = live[src] & live[dst]
        src, dst = src[e], dst[e]
        lowest = np.full(n, n, dtype=rank.dtype)
        np.minimum.at(lowest, src, rank[dst])
        win = live & (rank < lowest)
        mis |= win
        live &= ~win
        live[dst[win[src]]] = False
    return mis


def _pair_hash(tag: str) -> Column:
    """md5-48 of ``tag || src || ':' || dst``: the hash part of the
    (b-)matching entries' edge priorities."""
    from graphdatabases_spark.functions import text as T

    src, dst = F.col("src").cast("string"), F.col("dst").cast("string")
    return T.portable_hash64(F.concat(F.lit(tag), src, F.lit(":"), dst))


def _matching_priority() -> Column:
    """The maximal-matching entries' edge priority ``h`` (lowest
    first; ties go to ``(src, dst)``)."""
    return _pair_hash("mat") * F.lit(32768) + (F.col("src") * 31 + F.col("dst")) % 32768


def _capacity_greedy(rank, s, d, cap):
    """The sequential capacity greedy as an edge mask: edges in ``rank``
    order (distinct values, lowest first), each taken iff both endpoint
    positions ``s``/``d`` have capacity left in ``cap`` (per vertex; a
    taken edge uses one unit at each end, so a self-loop uses two).
    Runs in rounds over the incidences sorted once by (vertex, rank):
    an undecided edge is taken when at both endpoints the taken and
    undecided incidences ranked below it leave capacity, and dropped
    when at an endpoint the taken ones alone use it up. The lowest
    undecided edge is always decided, and the result equals the
    sequential pass."""
    import numpy as np

    m = len(rank)
    take = np.zeros(m, dtype=bool)
    undecided = np.ones(m, dtype=bool)
    # int32 edge ids and per-incidence counts halve the peak memory.
    v, e = np.concatenate([s, d]), np.tile(np.arange(m, dtype=np.int32), 2)
    order = np.argsort(v * (rank.max(initial=0) + 1) + rank[e])
    v, e = v[order], e[order]
    while undecided.any():
        i = np.arange(len(e), dtype=np.int32)
        group = np.r_[True, v[1:] != v[:-1]]
        run = group | np.r_[True, e[1:] != e[:-1]]  # a self-loop's pair ties
        g = np.maximum.accumulate(np.where(group, i, 0))
        r = np.maximum.accumulate(np.where(run, i, 0))

        def below(flag):  # flagged incidences ranked below, per incidence
            ex = np.cumsum(flag, dtype=np.int32) - flag
            return ex[r] - ex[g]

        taken = below(take[e])
        full, short = np.zeros(m, dtype=bool), np.zeros(m, dtype=bool)
        full[e[taken >= cap[v]]] = True
        short[e[taken + below(undecided[e]) >= cap[v]]] = True
        take |= undecided & ~short
        undecided &= short & ~full
        v, e = v[~full[e]], e[~full[e]]
    return take


def _greedy_tail(
    spark, g: DataFrame, prio: str, schema: StructType, caps: DataFrame | None = None
) -> DataFrame:
    """The rest of a (b-)matching kernel on the driver: one Arrow
    collect of the undecided edges ``g``, ``_capacity_greedy`` in
    ``(prio, src, dst)`` order with the capacity left per vertex
    (``caps[v, c]`` for g's vertices, else 1 everywhere), and the taken
    edges' ``schema`` columns as a ``local_frame``."""
    import numpy as np

    t = g.select(prio, *schema.names).toArrow()
    src, dst, p = (t.column(c).to_numpy() for c in ("src", "dst", prio))
    ids, pos = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = pos[: len(src)], pos[len(src) :]
    if caps is None:
        cap = np.ones(len(ids), dtype=np.int64)
    else:
        gverts = g.select(F.col("src").alias("v")).unionByName(
            g.select(F.col("dst").alias("v"))
        ).distinct()
        c = caps.join(F.broadcast(gverts), "v", "left_semi").toArrow()
        cap = np.zeros(len(ids), dtype=np.int64)
        cap[np.searchsorted(ids, c.column("v").to_numpy())] = c.column("c").to_numpy()
    take = _capacity_greedy(np.lexsort((d, s, p)).argsort(), s, d, cap)
    cols = [t.column(c).to_numpy()[take].tolist() for c in schema.names]
    return local_frame(spark, list(zip(*cols)), schema)


def _ids_df(spark, ids: list[int]) -> DataFrame:
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"id": pd.Series(ids, dtype="int64")}))


def _sym_partition_key(n_vertices: int) -> str:
    """Partition key for the once-checkpointed symmetric edge relation.

    Broadcast regime (V <= FRONTIER_BROADCAST_MAX — every swept sf,
    and the shrunk tail regime at any scale): partition by SRC.  The
    per-round neighborhood join broadcasts the undecided side, so the
    join preserves sym's partitioning and the groupBy(src) min — the
    kernel's one big aggregation — reuses it with ZERO exchange; the
    knockout distinct on src is likewise exchange-free.  Huge regime
    (V above the broadcast cap): partition by DST, the sort-merge join
    key, so the static relation shuffles once and only the per-round
    groupBy pays an exchange — the cost that regime inherently carries.
    """
    from graphdatabases_spark.graph.traversal import FRONTIER_BROADCAST_MAX

    return "src" if n_vertices <= FRONTIER_BROADCAST_MAX else "dst"


def _sym_und_build(spark, edges: DataFrame):
    """Build the once-partitioned symmetric edge multiset and the
    undecided vertex relation for the symmetry kernels, distinct-free
    on the edge axis.  Returns ``(sym, und, n_vertices)``.

    The regime key needs a vertex-count estimate BEFORE the
    repartition; approx_count_distinct is one scan with a 1-row
    aggregate (no meaningful exchange).  Its ~2% error could make the
    regime key disagree with the EXACT per-round broadcast decisions
    (broadcast_side) near the FRONTIER_BROADCAST_MAX boundary — sym
    partitioned by dst while every per-round groupBy(src) assumes src,
    each round then paying an unplanned exchange (advice r13).  So
    inside a 5% ambiguity band around the boundary the count is
    re-done EXACTLY (one extra distinct-count job, paid only in the
    rare boundary case); outside the band the estimate cannot straddle
    and is used as-is.  In the broadcast (src) regime the vertex
    distinct then reuses sym's partitioning — zero exchange."""
    from graphdatabases_spark.functions import text as T
    from graphdatabases_spark.graph.traversal import FRONTIER_BROADCAST_MAX

    vset = edges.select(F.explode(F.array("src", "dst")).alias("v"))
    v_est = vset.agg(F.approx_count_distinct("v").alias("n")).collect()[0]["n"]
    if abs(v_est - FRONTIER_BROADCAST_MAX) <= FRONTIER_BROADCAST_MAX // 20:
        v_est = vset.distinct().count()
    # persist, NOT localCheckpoint: a checkpointed frame reports
    # UnknownPartitioning, so every per-round groupBy(src)/distinct
    # would plan a fresh exchange; the cached InMemoryRelation keeps
    # hashpartitioning(src) visible and those exchanges vanish.  The
    # caller unpersists after its last sym-consuming action.
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(_sym_partition_key(v_est))
        .persist()
    )
    sym.count()
    und = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn(
            "h", T.portable_hash64(F.concat(F.lit("mis"), F.col("id").cast("string")))
        )
        .localCheckpoint(eager=True)
    )
    return sym, und, und.count()


def _mis_kernel(
    spark,
    sym: DataFrame,
    und: DataFrame,
    n_und: int,
    n_sym: int | None,
    first_probe_rejected: bool = False,
) -> DataFrame:
    """Fixed-priority parallel MIS rounds with the sub-threshold
    driver-local tail: returns the MIS id relation for the symmetric
    edge set ``sym`` (checkpointed, partitioned per _sym_partition_key)
    and undecided vertex relation ``und[id, h]`` (checkpointed).
    Shared by graph_mis_luby, the coloring extractions, and the
    incremental repair's base phase — one kernel, one discipline.
    ``n_sym``: the induced-edge count of the FIRST iteration when the
    caller knows it (und == sym's full vertex set), else None.
    ``first_probe_rejected``: the caller already probed THIS exact
    (und, n_und) induced subgraph and the tail rejected it (coloring's
    outer full-finish probe) — skip the duplicate first-iteration
    probe, which would pay a second broadcast-semi scan of sym per
    color for a guaranteed-identical rejection (advice r13)."""
    from graphdatabases_spark.graph.traversal import FRONTIER_BROADCAST_MAX

    mis = None
    full_set = n_sym is not None
    skip_probe = first_probe_rejected and not full_set
    while n_und > 0:
        # Sub-threshold tail: finish the fixpoint in one driver-local
        # greedy pass once the undecided-induced subgraph fits (see
        # _SYM_LOCAL_EDGE_MAX) — identical result, no per-round
        # scheduling floor on the geometric tail.
        if skip_probe:
            tail = None
            skip_probe = False
        else:
            tail = _induced_local(
                spark, sym, und, n_und,
                known_edge_count=n_sym if full_set else None,
            )
        full_set = False
        if tail is not None:
            import numpy as np

            verts, ind = tail
            order = np.argsort(verts["id"].to_numpy())
            ids = verts["id"].to_numpy()[order]
            rank = np.lexsort((ids, verts["h"].to_numpy()[order])).argsort()
            mis_mask = _mis_greedy(
                rank,
                np.searchsorted(ids, ind["src"].to_numpy()),
                np.searchsorted(ids, ind["dst"].to_numpy()),
            )
            win = _ids_df(spark, ids[mis_mask].tolist()).localCheckpoint(
                eager=True
            )
            mis = win if mis is None else mis.unionByName(win)
            break
        nbr_min = (
            sym.join(
                broadcast_side(
                    und.select(F.col("id").alias("nid"), F.col("h").alias("nh")),
                    n_und,
                ),
                sym.dst == F.col("nid"),
            )
            .groupBy("src")
            .agg(F.min(F.struct(F.col("nh"), F.col("nid"))).alias("mn"))
        )
        win = (
            und.join(
                broadcast_side(nbr_min, n_und), und.id == nbr_min.src, "left"
            )
            .filter(
                F.col("mn").isNull()
                | (F.struct(F.col("h"), F.col("id")) < F.col("mn"))
            )
            .select("id")
            .localCheckpoint(eager=True)
        )
        mis = win if mis is None else mis.unionByName(win)
        # Winners' neighbors drop out too: neighbors-of-winners read
        # off the dst side (sym is symmetric, so {src : dst in win} is
        # the full neighbor set), distinct on src — partitioning-
        # aligned, zero exchange in the broadcast regime — then a
        # size-switched broadcast anti-join against und.  The previous
        # shape exchanged the raw |edges incident to winners| multiset.
        knocked = (
            sym.join(broadcast_side(win, win.count()), sym.dst == win.id)
            .select("src")
            .distinct()
            .unionByName(win.select(F.col("id").alias("src")))
            .withColumnRenamed("src", "id")
        )
        if n_und <= FRONTIER_BROADCAST_MAX:
            # knocked may contain already-decided neighbors (sym is the
            # full static relation) — bound it to the undecided set via
            # a broadcast semi so the anti-join's broadcast side is
            # provably <= n_und rows.
            knocked = knocked.join(
                broadcast_side(und.select("id"), n_und), "id", "left_semi"
            )
        und = und.join(
            broadcast_side(knocked, n_und), "id", "left_anti"
        ).localCheckpoint(eager=True)
        n_und = und.count()
    if mis is None:  # empty undecided set in — empty MIS out
        return local_frame(spark, [], StructType.fromDDL("id long"))
    return mis.localCheckpoint(eager=True)


def _matching_kernel(spark, g: DataFrame, n_g: int) -> DataFrame:
    """Fixed-priority parallel maximal-matching rounds with the
    sub-threshold driver-local tail: returns the matched (src, dst)
    relation for the undecided edge set ``g[src, dst, h]``
    (checkpointed).  Shared by graph_matching_greedy and the
    incremental repair's base phase."""
    mat = None
    while n_g > 0:
        # Sub-threshold tail (the MIS kernel's edge-side twin): the
        # undecided edge relation IS the collectable state — one Arrow
        # pull + the sequential greedy over (h, src, dst) order equals
        # the remaining fixpoint exactly.
        if n_g <= _SYM_LOCAL_EDGE_MAX:
            m = _greedy_tail(spark, g, "h", StructType.fromDDL("src long, dst long"))
            mat = m if mat is None else mat.unionByName(m)
            break
        # Winners WITHOUT a join back against the edge set: each
        # vertex's argmin incident edge (min over (h, src, dst) — a
        # total order), then an edge wins iff it is the argmin of BOTH
        # endpoints, i.e. appears twice in the per-vertex argmin
        # relation. One 2|g|-row keyed min (map-side combined) + one
        # |V|-row count — the first audit's 22.6x shuffle came from
        # re-exchanging g four times per round (two eligibility joins
        # + two anti-joins); this shape exchanges g once.
        vmw = (
            g.select(
                F.col("src").alias("v"), F.struct("h", "src", "dst").alias("e")
            )
            .unionByName(
                g.select(
                    F.col("dst").alias("v"),
                    F.struct("h", "src", "dst").alias("e"),
                )
            )
            .groupBy("v")
            .agg(F.min("e").alias("e"))
        )
        m = (
            vmw.groupBy("e")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") == 2)
            .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
            .localCheckpoint(eager=True)
        )
        mat = m if mat is None else mat.unionByName(m)
        # mv stays lazy over the checkpointed m (round 14): a round's
        # matching pairs two disjoint endpoints per edge, so |mv| is
        # exactly 2|m| — the separate eager checkpoint + count were two
        # extra jobs per round for a relation both consumers rebuild
        # from cache in one cheap union.
        mv = m.select(F.col("src").alias("v")).unionByName(
            m.select(F.col("dst").alias("v"))
        )
        n_mv = 2 * m.count()
        # Matched vertices are <= 2x this round's matching — broadcast
        # anti-joins (size-switched), so the surviving edge set never
        # re-exchanges.
        g = (
            g.join(
                broadcast_side(mv, n_mv).withColumnRenamed("v", "xsrc"),
                g.src == F.col("xsrc"),
                "left_anti",
            )
            .join(
                broadcast_side(mv, n_mv).withColumnRenamed("v", "xdst"),
                F.col("dst") == F.col("xdst"),
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
        n_g = g.count()
    if mat is None:  # empty edge set in — empty matching out
        return local_frame(spark, [], StructType.fromDDL("src long, dst long"))
    return mat.localCheckpoint(eager=True)


def _bmatching_kernel(
    spark, g: DataFrame, n_g: int, caps: DataFrame, n_vertices: int
) -> DataFrame:
    """Capacity-b weight-greedy rounds with the sub-threshold
    driver-local tail (extracted from graph_bmatching_greedy for the
    round-14 incremental repair's cold phase): returns the accepted
    (src, dst, w) relation for the undecided edge set
    ``g[src, dst, p, w]`` (checkpointed; p = the weight-majored
    priority) and per-vertex capacity relation ``caps[v, c]``
    (checkpointed).  Round rule: an undecided edge wins iff its
    per-endpoint rank among undecided incident edges is within the
    REMAINING capacity at BOTH endpoints — the b-suitor
    generalization of the locally-dominant rule; the fixpoint equals
    the sequential weight-greedy exactly."""
    from pyspark.sql.window import Window

    bmat = None
    while n_g > 0:
        if n_g <= _SYM_LOCAL_EDGE_MAX:
            # Driver-local tail: the undecided edges plus their
            # vertices' remaining capacities are the whole state.
            m = _greedy_tail(
                spark, g, "p", StructType.fromDDL("src long, dst long, w long"), caps
            )
            bmat = m if bmat is None else bmat.unionByName(m)
            break
        ex = g.select(
            F.col("src").alias("v"), "src", "dst", "p", "w"
        ).unionByName(g.select(F.col("dst").alias("v"), "src", "dst", "p", "w"))
        rk = F.row_number().over(
            Window.partitionBy("v").orderBy("p", "src", "dst")
        )
        exc = (
            ex.withColumn("rk", rk)
            .join(broadcast_side(caps, n_vertices), "v")
            .withColumn("ok", (F.col("rk") <= F.col("c")).cast("int"))
        )
        win = (
            exc.groupBy("src", "dst", "p", "w")
            .agg(F.sum("ok").alias("nok"))
            .filter(F.col("nok") == 2)
            .select("src", "dst", "p", "w")
            .localCheckpoint(eager=True)
        )
        bmat = (
            win.select("src", "dst", "w")
            if bmat is None
            else bmat.unionByName(win.select("src", "dst", "w"))
        )
        wv = (
            win.select(F.col("src").alias("v"))
            .unionByName(win.select(F.col("dst").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        caps = (
            caps.join(broadcast_side(wv, 2 * win.count()), "v", "left")
            .select(
                "v", (F.col("c") - F.coalesce(F.col("n"), F.lit(0))).alias("c")
            )
            .localCheckpoint(eager=True)
        )
        full = caps.filter(F.col("c") <= 0).select("v")
        g = (
            g.join(win.select("src", "dst"), ["src", "dst"], "left_anti")
            .join(
                broadcast_side(full, n_vertices).withColumnRenamed("v", "xsrc"),
                g.src == F.col("xsrc"),
                "left_anti",
            )
            .join(
                broadcast_side(full, n_vertices).withColumnRenamed("v", "xdst"),
                F.col("dst") == F.col("xdst"),
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
        n_g = g.count()
    if bmat is None:  # empty edge set in — empty b-matching out
        return local_frame(
            spark, [], StructType.fromDDL("src long, dst long, w long")
        )
    return bmat.localCheckpoint(eager=True)
