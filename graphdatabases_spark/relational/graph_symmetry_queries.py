"""Symmetry-breaking graph kernels, continued (SURVEY §2.2 graph
analytics).

New module (round 12): graph_queries.py sits near the 2k bar after the
MIS/matching additions; this is the growth home for the
symmetry-breaking family: iterated-MIS coloring (round 12), and the
round-13 additions — incremental MIS/matching repair via priority-DAG
cascade relaxation, and weighted b-matching (the capacity relaxation
of the argmin-edge kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdatabases_spark.graph.traversal import broadcast_side
from graphdatabases_spark.relational.catalog import register
from graphdatabases_spark.relational.graph_kernels import (
    _induced_local,
    _mis_kernel,
    _sym_partition_key,
    _sym_und_build,
)
from graphdatabases_spark.relational.graph_queries import (
    ENTITY_EDGES_SQL,
    entity_edges,
)


def _coloring_greedy_py(verts_pdf, edges_pdf) -> list[tuple[int, int]]:
    """Driver-local iterated-MIS coloring of a collected residual:
    repeatedly extract the lexicographically-first MIS (same (h, id)
    priorities as the distributed kernel) from the remaining vertices
    and assign it the next color.  Total work is O(colors*|V| + |E|):
    each vertex wins exactly once, so adjacency marking is paid once
    per vertex across ALL extractions."""
    adj: dict[int, list[int]] = {}
    for s, d in zip(edges_pdf["src"].to_numpy(), edges_pdf["dst"].to_numpy()):
        adj.setdefault(int(s), []).append(int(d))
    order = sorted(
        zip(verts_pdf["h"].to_numpy().tolist(), verts_pdf["id"].to_numpy().tolist())
    )
    remaining = {int(i) for i in verts_pdf["id"].to_numpy()}
    out: list[tuple[int, int]] = []
    color = 0
    while remaining:
        color += 1
        killed: set[int] = set()
        won: list[int] = []
        for _h, vid in order:
            if vid not in remaining or vid in killed:
                continue
            won.append(vid)
            killed.add(vid)
            for nb in adj.get(vid, ()):
                killed.add(nb)
        out.extend((vid, color) for vid in won)
        remaining.difference_update(won)
    return out

_GC_COLORS = 20  # oracle unroll: measured 5/6/16 colors at the 3 sfs
_GC_ROUNDS = 8   # per-extraction MIS rounds (measured max 6 at sf0.1)


def _gc_mis_sql(c: int) -> str:
    """One full MIS extraction (unrolled parallel rounds) over the
    color-c residual vertex set r{c-1}, emitting mis{c} and the next
    residual r{c}."""
    rounds = []
    for k in range(1, _GC_ROUNDS + 1):
        rounds.append(f"""
    cw{c}_{k} AS MATERIALIZED (
      SELECT u.id, u.h FROM cu{c}_{k - 1} u
      WHERE NOT EXISTS (
        SELECT 1 FROM sym s JOIN cu{c}_{k - 1} n ON n.id = s.dst
        WHERE s.src = u.id
          AND (n.h < u.h OR (n.h = u.h AND n.id < u.id))
      )
    ),
    cu{c}_{k} AS MATERIALIZED (
      SELECT u.id, u.h FROM cu{c}_{k - 1} u
      WHERE NOT EXISTS (SELECT 1 FROM cw{c}_{k} w WHERE w.id = u.id)
        AND NOT EXISTS (
          SELECT 1 FROM sym s JOIN cw{c}_{k} w ON w.id = s.dst
          WHERE s.src = u.id
        )
    )""")
    mis_union = " UNION ALL ".join(
        f"SELECT id FROM cw{c}_{k}" for k in range(1, _GC_ROUNDS + 1)
    )
    return f"""
    cu{c}_0 AS MATERIALIZED (SELECT id, h FROM r{c - 1}),
    {",".join(rounds)},
    mis{c} AS MATERIALIZED ({mis_union}),
    r{c} AS MATERIALIZED (
      SELECT v.id, v.h FROM r{c - 1} v
      WHERE NOT EXISTS (SELECT 1 FROM mis{c} m WHERE m.id = v.id)
    )"""


@register(
    "graph_coloring_mis",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    symfull AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    verts AS MATERIALIZED (
      SELECT DISTINCT src AS id,
        ('0x' || substr(md5('mis' || src), 1, 12))::BIGINT AS h
      FROM symfull
    ),
    -- residual-restricted adjacency is expressed per extraction by
    -- joining against the residual vertex set; the shared sym is the
    -- full relation (the per-round NOT EXISTS already intersects with
    -- the round's undecided set, which is residual-bounded)
    sym AS MATERIALIZED (SELECT src, dst FROM symfull),
    r0 AS MATERIALIZED (SELECT id, h FROM verts),
    {",".join(_gc_mis_sql(c) for c in range(1, _GC_COLORS + 1))},
    colored AS MATERIALIZED (
      {" UNION ALL ".join(
        f"SELECT id, {c} AS color FROM mis{c}"
        for c in range(1, _GC_COLORS + 1)
      )}
    ),
    improper AS (
      SELECT CAST(count(*) AS BIGINT) AS viol
      FROM symfull s
      JOIN colored a ON a.id = s.src
      JOIN colored b ON b.id = s.dst AND b.color = a.color
    )
    SELECT CAST(color AS INT) AS color,
      CAST(count(*) AS BIGINT) AS n_vertices,
      CAST(sum(id) AS BIGINT) AS sum_ids,
      (SELECT CAST(max(color) AS BIGINT) FROM colored) AS n_colors,
      (SELECT viol FROM improper) = 0 AS proper,
      (SELECT count(*) FROM r{_GC_COLORS}) = 0 AS converged
    FROM colored GROUP BY color
    ORDER BY color
    """,
    doc="GREEDY GRAPH COLORING VIA ITERATED MIS — the classic "
    "distributed coloring construction (Luby): extract the "
    "deterministic fixed-priority MIS of the residual graph, assign "
    "it color c, remove it, repeat until no vertex remains. Reuses "
    "graph_mis_luby's kernel verbatim per extraction (same md5 "
    "priorities, same strict-local-min rounds), so every color class "
    "is the unique lexicographically-first MIS of its residual and "
    "the whole coloring is a pure function of the graph — "
    "engine-exact under any schedule. Color count is NOT minimized "
    "(proper coloring, greedy bound): measured 5/6/16 colors at "
    f"sf0.001/0.01/0.1 — hub neighborhoods force a long tail of tiny "
    f"classes on the entity graph; the {_GC_COLORS}-"
    f"extraction x {_GC_ROUNDS}-round oracle unroll carries a "
    "converged guard (empty final residual) that fails the "
    "differential loudly if a bigger fixture needs more. The output "
    "carries the PROPERNESS proof computed independently on both "
    "engines (no edge joins two same-colored vertices) plus per-class "
    "sizes and membership checksums — the serving shape of a "
    "conflict-free scheduling layer (color = wave number in which a "
    "vertex's job may run). Scale shape: per extraction the MIS "
    "rounds exchange only the geometrically-shrinking undecided set "
    "against the once-partitioned symmetric edges; residuals shrink "
    "per color, so total exchanged rows are a small multiple of |E|.",
)
def graph_coloring_mis(spark: SparkSession, sf: str) -> DataFrame:
    # Distinct-free build shared with graph_mis_luby — every consumer
    # of the symmetric multiset here is duplicate-insensitive too.
    sym, rem, n_rem = _sym_und_build(
        spark, entity_edges(spark, sf, dedup=False)
    )
    colored = None
    color = 0
    n_sym = sym.count()
    n_vertices = n_rem  # every vertex ends up colored exactly once
    full_set = True
    while n_rem > 0:
        # Full driver-local finish: once the residual-induced subgraph
        # fits (graph_kernels._SYM_LOCAL_EDGE_MAX), every remaining
        # color class is one in-process MIS extraction — this is where
        # the 30-round BSP scheduling floor lived (the long tail of
        # tiny hub-forced classes), and the fixed priorities make the
        # local result bit-identical to the distributed fixpoint.
        tail = _induced_local(
            spark, sym, rem, n_rem, known_edge_count=n_sym if full_set else None
        )
        full_set = False
        if tail is not None:
            import pandas as pd

            rows = _coloring_greedy_py(*tail)
            part = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "id": pd.Series([r[0] for r in rows], dtype="int64"),
                        "color": pd.Series(
                            [r[1] + color for r in rows], dtype="int32"
                        ),
                    }
                )
            ).localCheckpoint(eager=True)
            colored = part if colored is None else colored.unionByName(part)
            color += max(r[1] for r in rows)
            break
        color += 1
        # One full extraction via the shared kernel (strict (h, id)
        # local min over UNDECIDED neighbors — neighbors outside the
        # residual never constrain because und only ever contains
        # residual vertices); includes graph_mis_luby's inner
        # sub-threshold tail.  Color 1's residual is the full vertex
        # set, so the kernel's first probe reuses n_sym.
        # The outer full-finish probe just rejected this exact
        # (rem, n_rem) induced subgraph — tell the kernel so its first
        # iteration skips the duplicate probe (color 1 passes n_sym,
        # where the probe is a free comparison anyway).
        mis = _mis_kernel(
            spark, sym, rem, n_rem, n_sym if color == 1 else None,
            first_probe_rejected=True,
        )
        part = mis.withColumn("color", F.lit(color))
        colored = part if colored is None else colored.unionByName(part)
        # mis ⊆ rem, so n_rem bounds the anti-join's broadcast side —
        # the checkpointed mis otherwise carries no stats and the
        # planner sort-merge-exchanged rem every color (round 14).
        rem = rem.join(broadcast_side(mis, n_rem), "id", "left_anti").localCheckpoint(
            eager=True
        )
        n_rem = rem.count()
    colored = colored.localCheckpoint(eager=True)
    ca = colored.select(F.col("id").alias("aid"), F.col("color").alias("acol"))
    cb = colored.select(F.col("id").alias("bid"), F.col("color").alias("bcol"))
    # Properness proof: colored is exactly n_vertices rows — size-
    # switched broadcasts keep the two proof joins as single streams of
    # the persisted sym (measured ~2-3 s of sort-merge exchange at
    # sf0.1 without the hints, round 14).
    improper = (
        sym.join(broadcast_side(ca, n_vertices), sym.src == F.col("aid"))
        .join(
            broadcast_side(cb, n_vertices),
            (sym.dst == F.col("bid")) & (F.col("acol") == F.col("bcol")),
        )
        .count()
    )
    sym.unpersist()  # the properness proof was the last sym consumer
    return (
        colored.groupBy("color")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.sum("id").cast("long").alias("sum_ids"),
        )
        .select(
            F.col("color").cast("int"),
            "n_vertices",
            "sum_ids",
            F.lit(color).cast("long").alias("n_colors"),
            F.lit(improper == 0).alias("proper"),
            F.lit(True).alias("converged"),
        )
        .orderBy("color")
    )


# ---------------------------------------------------------------------------
# Weighted b-matching (greedy, capacity b per vertex)
# ---------------------------------------------------------------------------

_BM_B = 3        # per-vertex capacity
_BM_ROUNDS = 8   # oracle unroll (measured fixpoint 3/4/5 at the 3 sfs)
_BM_P48 = 1 << 48


def _bm_round_sql(k: int) -> str:
    """One b-matching round: an undecided edge wins iff its per-vertex
    rank (by ascending priority) is within the REMAINING capacity at
    BOTH endpoints; winners consume capacity, edges at full vertices
    drop out."""
    return f"""
    bex{k} AS MATERIALIZED (
      SELECT v, src, dst, p,
        row_number() OVER (PARTITION BY v ORDER BY p, src, dst) AS rk
      FROM (
        SELECT src AS v, src, dst, p FROM bg{k - 1}
        UNION ALL SELECT dst, src, dst, p FROM bg{k - 1}
      )
    ),
    bw{k} AS MATERIALIZED (
      SELECT e.src, e.dst, e.p, e.w FROM bg{k - 1} e
      JOIN bex{k} a ON a.v = e.src AND a.src = e.src AND a.dst = e.dst
      JOIN bcap{k - 1} ca ON ca.v = e.src AND a.rk <= ca.c
      JOIN bex{k} b ON b.v = e.dst AND b.src = e.src AND b.dst = e.dst
      JOIN bcap{k - 1} cb ON cb.v = e.dst AND b.rk <= cb.c
    ),
    bcap{k} AS MATERIALIZED (
      SELECT c.v, c.c - coalesce(wn.n, 0) AS c FROM bcap{k - 1} c
      LEFT JOIN (
        SELECT v, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT src AS v FROM bw{k} UNION ALL SELECT dst FROM bw{k}
        ) GROUP BY v
      ) wn ON wn.v = c.v
    ),
    bg{k} AS MATERIALIZED (
      SELECT e.src, e.dst, e.p, e.w FROM bg{k - 1} e
      JOIN bcap{k} cs ON cs.v = e.src AND cs.c > 0
      JOIN bcap{k} cd ON cd.v = e.dst AND cd.c > 0
      WHERE NOT EXISTS (
        SELECT 1 FROM bw{k} x WHERE x.src = e.src AND x.dst = e.dst
      )
    )"""


@register(
    "graph_bmatching_greedy",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    bg0 AS MATERIALIZED (
      SELECT src, dst,
        (100 - ((src * 7 + dst * 13) % 100 + 1)) * {_BM_P48}
          + ('0x' || substr(md5('bmat' || src || ':' || dst), 1, 12))::BIGINT
          AS p,
        (src * 7 + dst * 13) % 100 + 1 AS w
      FROM edges
    ),
    bcap0 AS MATERIALIZED (
      SELECT DISTINCT v, CAST({_BM_B} AS BIGINT) AS c FROM (
        SELECT src AS v FROM bg0 UNION ALL SELECT dst FROM bg0
      )
    ),
    {",".join(_bm_round_sql(k) for k in range(1, _BM_ROUNDS + 1))},
    bmat AS MATERIALIZED (
      {" UNION ALL ".join(f"SELECT src, dst, w FROM bw{k}" for k in range(1, _BM_ROUNDS + 1))}
    ),
    bdeg AS MATERIALIZED (
      SELECT v, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT src AS v FROM bmat UNION ALL SELECT dst FROM bmat
      ) GROUP BY v
    ),
    overcap AS (
      SELECT CAST(count(*) AS BIGINT) AS viol FROM bdeg WHERE n > {_BM_B}
    ),
    maxviol AS (
      SELECT CAST(count(*) AS BIGINT) AS viol FROM bg0 e
      WHERE NOT EXISTS (
          SELECT 1 FROM bmat x WHERE x.src = e.src AND x.dst = e.dst
        )
        AND coalesce((SELECT n FROM bdeg WHERE v = e.src), 0) < {_BM_B}
        AND coalesce((SELECT n FROM bdeg WHERE v = e.dst), 0) < {_BM_B}
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM bg0) AS n_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM bcap0) AS n_vertices,
      CAST({_BM_B} AS INT) AS b,
      (SELECT CAST(count(*) AS BIGINT) FROM bmat) AS bmatch_size,
      (SELECT CAST(sum(w) AS BIGINT) FROM bmat) AS total_weight,
      (SELECT CAST(sum(src + dst) AS BIGINT) FROM bmat) AS sum_ids,
      (SELECT viol FROM overcap) = 0 AS feasible,
      (SELECT viol FROM maxviol) = 0 AS maximal,
      (SELECT count(*) FROM bg{_BM_ROUNDS}) = 0 AS converged
    """,
    doc=f"WEIGHTED b-MATCHING (b = {_BM_B}) — the capacity relaxation "
    "of graph_matching_greedy over the same argmin-edge round shape "
    "(round-13 queue #2): each vertex may take up to b partners, "
    "edges carry a deterministic integer weight ((src*7 + dst*13) % "
    "100 + 1) and the greedy maximizes weight by processing edges in "
    "ascending (100 - w)-majored priority (weight desc, portable-md5 "
    "tiebreak — the 1/2-approximation greedy for maximum-weight "
    "b-matching). Round kernel (the b-suitor generalization of the "
    "locally-dominant rule): an undecided edge wins iff its "
    "per-endpoint rank among undecided incident edges is within the "
    "REMAINING capacity at BOTH endpoints — 'rank <= cap' is "
    "invariant under any resolution of the still-undecided "
    "higher-priority edges (an accept removes the edge AND decrements "
    "cap; a reject just removes), so every round's winners are "
    "exactly edges the sequential greedy is already committed to, and "
    "the fixpoint EQUALS the sequential weight-greedy (pinned "
    "round==sequential at all three sfs in tests/test_round13_graph"
    f".py; measured 3/4/5 rounds, {_BM_ROUNDS}-round oracle unroll "
    "with a loud converged guard). Output carries the b-FEASIBILITY "
    "proof (no vertex over capacity) and the MAXIMALITY proof (no "
    "rejected edge has spare capacity at both ends), both computed "
    "independently on each engine, plus size/weight/id checksums. "
    "Scale shape: per round one 2|g|-row rank window over the "
    "shrinking undecided set (map-side combinable expansion), "
    "capacity state one BIGINT per vertex; the sub-threshold "
    "driver-local tail finishes the geometric remainder in one "
    "Arrow collect.",
)
def graph_bmatching_greedy(spark: SparkSession, sf: str) -> DataFrame:
    from graphdatabases_spark.relational.graph_kernels import (
        _bmatching_kernel,
        _pair_hash,
    )

    w_expr = (F.col("src") * 7 + F.col("dst") * 13) % 100 + 1
    g = (
        entity_edges(spark, sf, dedup=True)
        .withColumn("w", w_expr.cast("long"))
        .withColumn("p", (100 - F.col("w")) * F.lit(_BM_P48) + _pair_hash("bmat"))
        .localCheckpoint(eager=True)
    )
    n_edges = g.count()
    caps = (
        g.select(F.col("src").alias("v"))
        .unionByName(g.select(F.col("dst").alias("v")))
        .distinct()
        .withColumn("c", F.lit(_BM_B).cast("long"))
        .localCheckpoint(eager=True)
    )
    n_vertices = caps.count()
    # Round loop extracted to graph_kernels._bmatching_kernel (round
    # 14) so the incremental repair's cold phase shares it.
    bmat = _bmatching_kernel(spark, g, n_edges, caps, n_vertices)
    bmat = bmat.localCheckpoint(eager=True)
    res = bmat.agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.sum("w").cast("long").alias("tw"),
        F.sum(F.col("src") + F.col("dst")).cast("long").alias("cks"),
    ).collect()[0]
    bdeg = (
        bmat.select(F.col("src").alias("v"))
        .unionByName(bmat.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    overcap = bdeg.filter(F.col("n") > _BM_B).count()
    # Maximality is defined over RESULT degrees (caps may be mid-loop
    # state after a tail break): a violation is an unmatched edge both
    # of whose endpoints sit below b in the result.
    # Reuse the checkpointed edge relation (round 14 — re-running
    # entity_edges paid the 3-way-union + distinct scan a second time)
    # and size-switch the anti-join side (result size is in hand).
    g0 = g.select("src", "dst").join(
        broadcast_side(bmat.select("src", "dst"), res["sz"]),
        ["src", "dst"],
        "left_anti",
    )
    deg_s = bdeg.select(F.col("v").alias("src"), F.col("n").alias("ns"))
    deg_d = bdeg.select(F.col("v").alias("dst"), F.col("n").alias("nd"))
    maxviol = (
        g0.join(broadcast_side(deg_s, n_vertices), "src", "left")
        .join(broadcast_side(deg_d, n_vertices), "dst", "left")
        .filter(
            (F.coalesce(F.col("ns"), F.lit(0)) < _BM_B)
            & (F.coalesce(F.col("nd"), F.lit(0)) < _BM_B)
        )
        .count()
    )
    return spark.range(1).select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(n_vertices).cast("long").alias("n_vertices"),
        F.lit(_BM_B).cast("int").alias("b"),
        F.lit(res["sz"]).cast("long").alias("bmatch_size"),
        F.lit(res["tw"]).cast("long").alias("total_weight"),
        F.lit(res["cks"]).cast("long").alias("sum_ids"),
        F.lit(overcap == 0).alias("feasible"),
        F.lit(maxviol == 0).alias("maximal"),
        F.lit(True).alias("converged"),
    )
