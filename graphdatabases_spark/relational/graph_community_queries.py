"""Community-detection catalog queries, round 11: multilevel Louvain
(coarsening completion of round 10's ``graph_louvain_onepass``) and
incremental PageRank delta maintenance.

Reference parity note: the reference repo (eragon2404/GraphDatabases)
exposes only client-side traversal/insert workloads (Results/traverse/,
`main.py`); community detection and rank maintenance are this engine's
own analytical surface over the same property-graph model, so every
entry here is oracle-checked against DuckDB rather than a reference
output file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from graphdatabases_spark.graph.model import local_frame
from graphdatabases_spark.graph.traversal import broadcast_side
from graphdatabases_spark.relational.catalog import register, table
from graphdatabases_spark.relational.graph_centrality_queries import (
    _MOD_EDGES_SQL,
)
from graphdatabases_spark.relational.graph_queries import _LPA_ROUND

# ---------------------------------------------------------------------------
# Multilevel Louvain: weighted local-move passes over contracted graphs
# ---------------------------------------------------------------------------
#
# Round 10 proved ONE exact-integer local-move pass (community-disjoint
# simultaneous moves, gains scaled by 2m²).  Real Louvain coarsens:
# after a pass, each community contracts to a super-node of a WEIGHTED
# graph — w(C1,C2) = Σ inter-community edges, and each super-node keeps
# a self-loop carrying its intra-community weight — and the same pass
# runs on the contracted graph.  The key algebra (why "the 2m²-scaled
# integers carry over unchanged"): total weight W = Σ self + Σ w(u,v)
# is CONSERVED by contraction (= m, the original edge count), strengths
# k_u = 2·self(u) + Σ_v≠u w(u,v) aggregate original degrees exactly,
# and the weighted gain for moving super-node v from community s to c,
#
#   gain_2m2 = 2m·(k_vc − k_vs) − k_v·(Σ_c − Σ_s + k_v)
#
# is the round-10 formula with edge COUNTS replaced by edge-weight
# SUMS (self-loops cancel out of ΔQ: they move with v, contributing
# only through k_v).  Modularity of the contracted graph under the
# identity partition equals modularity of the flat partition on the
# original graph with the SAME floor-div ppm identity, so
# q_before_ppm(level L) == q_after_ppm(level L−1) exactly — the
# cross-level monotonicity chain the tests pin.

_WLM_LEVELS = 3  # local-move passes = 2 contractions


def _wlm_pass_sql(L: int) -> str:
    """DuckDB CTE chain for one weighted local-move pass at level L.

    Consumes ``wg{L}(u, v, w)`` (u <= v; u == v rows are self-loops)
    and ``lab{L}(id, label)``; produces ``po{L}`` (post-move labels)
    and ``row{L}`` (the level's stats row).  Mirrors the Spark helper
    :func:`_weighted_local_move` exactly — identical integer gain and
    selection-cascade tie-breaks (gain DESC, then label/id ASC).
    """
    return f"""
    sadj{L} AS MATERIALIZED (
      SELECT u AS a, v AS b, w FROM wg{L} WHERE u <> v
      UNION ALL
      SELECT v AS a, u AS b, w FROM wg{L} WHERE u <> v
    ),
    str{L} AS MATERIALIZED (
      SELECT id, CAST(sum(w) AS BIGINT) AS k FROM (
        SELECT a AS id, w FROM sadj{L}
        UNION ALL
        SELECT u AS id, 2 * w AS w FROM wg{L} WHERE u = v
      ) GROUP BY id
    ),
    sig{L} AS MATERIALIZED (
      SELECT l.label, CAST(sum(s.k) AS BIGINT) AS sig
      FROM lab{L} l JOIN str{L} s ON s.id = l.id GROUP BY l.label
    ),
    kvc{L} AS MATERIALIZED (
      SELECT s.a AS id, l.label AS c, CAST(sum(s.w) AS BIGINT) AS kk
      FROM sadj{L} s JOIN lab{L} l ON l.id = s.b GROUP BY 1, 2
    ),
    kvs{L} AS (
      SELECT o.id, o.label AS s, coalesce(k.kk, 0) AS k_own
      FROM lab{L} o LEFT JOIN kvc{L} k ON k.id = o.id AND k.c = o.label
    ),
    gains{L} AS (
      SELECT kvc{L}.id, kvs{L}.s, kvc{L}.c,
             2 * mm.m * (kvc{L}.kk - kvs{L}.k_own)
               - st.k * (tc.sig - ts.sig + st.k) AS gain
      FROM kvc{L}
      JOIN kvs{L} ON kvs{L}.id = kvc{L}.id
      JOIN str{L} st ON st.id = kvc{L}.id
      JOIN sig{L} tc ON tc.label = kvc{L}.c
      JOIN sig{L} ts ON ts.label = kvs{L}.s
      CROSS JOIN mm
      WHERE kvc{L}.c <> kvs{L}.s
    ),
    best{L} AS (
      SELECT id, s, c, gain FROM (
        SELECT *, row_number() OVER (
          PARTITION BY id ORDER BY gain DESC, c
        ) AS rn FROM gains{L} WHERE gain > 0
      ) WHERE rn = 1
    ),
    bysrc{L} AS (
      SELECT id, s, c, gain FROM (
        SELECT *, row_number() OVER (
          PARTITION BY s ORDER BY gain DESC, id
        ) AS rn FROM best{L}
      ) WHERE rn = 1
    ),
    bytgt{L} AS MATERIALIZED (
      SELECT id, s, c, gain FROM (
        SELECT *, row_number() OVER (
          PARTITION BY c ORDER BY gain DESC, id
        ) AS rn FROM bysrc{L}
      ) WHERE rn = 1
    ),
    mv{L} AS MATERIALIZED (
      SELECT t.id, t.s, t.c, t.gain FROM bytgt{L} t
      WHERE NOT EXISTS (SELECT 1 FROM bytgt{L} x WHERE x.c = t.s)
        AND NOT EXISTS (SELECT 1 FROM bytgt{L} x WHERE x.s = t.c)
    ),
    po{L} AS MATERIALIZED (
      SELECT l.id, coalesce(m.c, l.label) AS label
      FROM lab{L} l LEFT JOIN mv{L} m ON m.id = l.id
    ),
    iwb{L} AS (
      SELECT CAST(coalesce(sum(g.w), 0) AS BIGINT) AS iw
      FROM wg{L} g JOIN lab{L} a ON a.id = g.u
      JOIN lab{L} b ON b.id = g.v
      WHERE a.label = b.label
    ),
    iwa{L} AS (
      SELECT CAST(coalesce(sum(g.w), 0) AS BIGINT) AS iw
      FROM wg{L} g JOIN po{L} a ON a.id = g.u
      JOIN po{L} b ON b.id = g.v
      WHERE a.label = b.label
    ),
    siga{L} AS (
      SELECT l.label, CAST(sum(s.k) AS BIGINT) AS sig
      FROM po{L} l JOIN str{L} s ON s.id = l.id GROUP BY l.label
    ),
    row{L} AS (
      SELECT CAST({L} AS BIGINT) AS level,
        (SELECT CAST(count(*) AS BIGINT) FROM lab{L}) AS n_nodes,
        (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM lab{L})
          AS n_comm_before,
        (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM po{L})
          AS n_comm_after,
        (SELECT CAST(count(*) AS BIGINT) FROM mv{L}) AS n_moves,
        (SELECT CAST(coalesce(sum(gain), 0) AS BIGINT) FROM mv{L})
          AS gain_2m2,
        CAST((1000000::HUGEINT
              * (4::HUGEINT * mm.m * mm.m
                 + 4::HUGEINT * mm.m * (SELECT iw FROM iwb{L})
                 - (SELECT sum(sig * sig) FROM sig{L})))
             // (4::HUGEINT * mm.m * mm.m) AS BIGINT) - 1000000
          AS q_before_ppm,
        CAST((1000000::HUGEINT
              * (4::HUGEINT * mm.m * mm.m
                 + 4::HUGEINT * mm.m * (SELECT iw FROM iwa{L})
                 - (SELECT sum(sig * sig) FROM siga{L})))
             // (4::HUGEINT * mm.m * mm.m) AS BIGINT) - 1000000
          AS q_after_ppm
      FROM mm
    )"""


def _wlm_contract_sql(L: int) -> str:
    """DuckDB CTEs contracting level L's post-move partition into
    level L+1's weighted graph + identity labels."""
    n = L + 1
    return f"""
    wg{n} AS MATERIALIZED (
      SELECT least(a.label, b.label) AS u,
             greatest(a.label, b.label) AS v,
             CAST(sum(g.w) AS BIGINT) AS w
      FROM wg{L} g JOIN po{L} a ON a.id = g.u
      JOIN po{L} b ON b.id = g.v
      GROUP BY 1, 2
    ),
    lab{n} AS MATERIALIZED (
      SELECT DISTINCT label AS id, label FROM po{L}
    )"""


def _louvain_multilevel_oracle() -> str:
    parts = [
        _MOD_EDGES_SQL,
        _LPA_ROUND.format(k=1, prev=0),
        _LPA_ROUND.format(k=2, prev=1),
        _LPA_ROUND.format(k=3, prev=2),
        """
    wg0 AS MATERIALIZED (
      SELECT src AS u, dst AS v, CAST(1 AS BIGINT) AS w FROM e0
    ),
    lab0 AS MATERIALIZED (SELECT id, label FROM l3),
    mm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM wg0)""",
    ]
    for lvl in range(_WLM_LEVELS):
        parts.append(_wlm_pass_sql(lvl))
        if lvl < _WLM_LEVELS - 1:
            parts.append(_wlm_contract_sql(lvl))
    union = " UNION ALL ".join(
        f"SELECT * FROM row{lvl}" for lvl in range(_WLM_LEVELS)
    )
    return f"WITH {','.join(parts)}\n    SELECT * FROM ({union}) ORDER BY level"


def _weighted_local_move(
    wg: DataFrame, labels: DataFrame, mm: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One exact-integer weighted Louvain local-move pass (Spark side).

    ``wg`` is ``[u, v, w]`` with ``u <= v`` (``u == v`` rows carry
    intra/self-loop weight), ``labels`` is ``[id, label]`` covering
    every vertex of ``wg``, ``mm`` is the 1-row ``[m]`` total-weight
    frame (conserved across contractions).  Returns
    ``(post_labels, stats)`` where ``stats`` is the 1-row frame
    ``[n_nodes, n_comm_before, n_comm_after, n_moves, gain_2m2,
    q_before_ppm, q_after_ppm]``.  Selection cascade and tie-breaks
    identical to graph_louvain_onepass (gain DESC, then label/id ASC;
    one mover per source community, one per target, crossing moves
    dropped), so the surviving moves touch pairwise-disjoint
    communities and apply simultaneously with exactly-additive gains.
    """
    _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    # Size-switched broadcasts of every per-vertex / per-community side
    # (round 14, the pagerank_units pattern): labels, strength, sig,
    # kvs and post are all <= |V| rows, so below the frontier cap each
    # join against the edge-sized streams (sadj, wg, kvc) is broadcast-
    # hash and only the keyed aggregates shuffle; above the cap the
    # shuffle-join shape is unchanged.
    n_v = labels.count()
    inter = wg.filter(F.col("u") != F.col("v"))
    sadj = inter.select(
        F.col("u").alias("a"), F.col("v").alias("b"), "w"
    ).unionAll(inter.select(F.col("v").alias("a"), F.col("u").alias("b"), "w"))
    strength = (
        sadj.select(F.col("a").alias("id"), "w")
        .unionAll(
            wg.filter(F.col("u") == F.col("v")).select(
                F.col("u").alias("id"), (2 * F.col("w")).alias("w")
            )
        )
        .groupBy("id")
        .agg(F.sum("w").cast("long").alias("k"))
    )
    strength = _ckpt(strength)
    sig = _ckpt(
        labels.join(broadcast_side(strength, n_v), "id")
        .groupBy("label")
        .agg(F.sum("k").cast("long").alias("sig"))
    )
    kvc = (
        sadj.join(
            broadcast_side(
                labels.select(
                    F.col("id").alias("b"), F.col("label").alias("c")
                ),
                n_v,
            ),
            "b",
        )
        .groupBy(F.col("a").alias("id"), "c")
        .agg(F.sum("w").cast("long").alias("kk"))
    )
    kvs = (
        labels.select("id", F.col("label").alias("s"))
        .join(
            kvc.select("id", F.col("c").alias("s"), F.col("kk").alias("k_own")),
            ["id", "s"],
            "left",
        )
        .select("id", "s", F.coalesce("k_own", F.lit(0)).alias("k_own"))
    )
    gains = (
        kvc.join(broadcast_side(kvs, n_v), "id")
        .filter(F.col("c") != F.col("s"))
        .join(broadcast_side(strength, n_v), "id")
        .join(
            broadcast_side(
                sig.select(
                    F.col("label").alias("c"), F.col("sig").alias("sig_c")
                ),
                n_v,
            ),
            "c",
        )
        .join(
            broadcast_side(
                sig.select(
                    F.col("label").alias("s"), F.col("sig").alias("sig_s")
                ),
                n_v,
            ),
            "s",
        )
        .crossJoin(F.broadcast(mm))
        .select(
            "id",
            "s",
            "c",
            (
                2 * F.col("m") * (F.col("kk") - F.col("k_own"))
                - F.col("k") * (F.col("sig_c") - F.col("sig_s") + F.col("k"))
            ).alias("gain"),
        )
        .filter(F.col("gain") > 0)
    )
    w1 = Window.partitionBy("id").orderBy(F.col("gain").desc(), F.col("c"))
    w2 = Window.partitionBy("s").orderBy(F.col("gain").desc(), F.col("id"))
    w3 = Window.partitionBy("c").orderBy(F.col("gain").desc(), F.col("id"))
    best = (
        gains.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bysrc = (
        best.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bytgt = _ckpt(
        bysrc.withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    movers = _ckpt(
        bytgt.join(
            bytgt.select(F.col("c").alias("s")).distinct(), "s", "left_anti"
        )
        .join(
            bytgt.select(F.col("s").alias("c")).distinct(), "c", "left_anti"
        )
    )
    post = (
        labels.join(
            broadcast_side(movers.select("id", F.col("c").alias("new_label")), n_v),
            "id",
            "left",
        )
        .select("id", F.coalesce("new_label", "label").alias("label"))
        .localCheckpoint(eager=True)
    )

    def _intra(lbl: DataFrame, alias: str) -> DataFrame:
        la = lbl.select(F.col("id").alias("u"), F.col("label").alias("la"))
        lb = lbl.select(F.col("id").alias("v"), F.col("label").alias("lb"))
        return (
            wg.join(broadcast_side(la, n_v), "u")
            .join(broadcast_side(lb, n_v), "v")
            .filter(F.col("la") == F.col("lb"))
            .agg(
                F.coalesce(F.sum("w"), F.lit(0))
                .cast("long")
                .alias(f"intra_{alias}")
            )
        )

    def _sum_d2(sig_df: DataFrame, alias: str) -> DataFrame:
        return sig_df.agg(
            F.sum(F.col("sig") * F.col("sig"))
            .cast("long")
            .alias(f"sum_d2_{alias}")
        )

    sig_after = post.join(broadcast_side(strength, n_v), "id").groupBy("label").agg(
        F.sum("k").cast("long").alias("sig")
    )
    stats = (
        mm.crossJoin(
            labels.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        )
        .crossJoin(
            labels.select("label")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_comm_before"))
        )
        .crossJoin(
            post.select("label")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_comm_after"))
        )
        .crossJoin(
            movers.agg(
                F.count(F.lit(1)).cast("long").alias("n_moves"),
                F.coalesce(F.sum("gain"), F.lit(0))
                .cast("long")
                .alias("gain_2m2"),
            )
        )
        .crossJoin(_intra(labels, "b"))
        .crossJoin(_sum_d2(sig, "b"))
        .crossJoin(_intra(post, "a"))
        .crossJoin(_sum_d2(sig_after, "a"))
    )

    def _q_ppm(intra_col: str, sumd2_col: str):
        return (
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * (4 * CAST(m AS DECIMAL(38,0)) * m"
                f"    + 4 * CAST(m AS DECIMAL(38,0)) * {intra_col}"
                f"    - {sumd2_col}))"
                " div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"
            )
            - F.lit(1000000)
        )

    stats = stats.select(
        "n_nodes",
        "n_comm_before",
        "n_comm_after",
        "n_moves",
        "gain_2m2",
        _q_ppm("intra_b", "sum_d2_b").alias("q_before_ppm"),
        _q_ppm("intra_a", "sum_d2_a").alias("q_after_ppm"),
    )
    return post, stats


def _contract(wg: DataFrame, post: DataFrame) -> DataFrame:
    """Contract a partition: one keyed agg building the weighted
    community graph — w(C1,C2) = Σ inter-community edge weight,
    self-loops accumulate intra weight (total weight conserved)."""
    a = post.select(F.col("id").alias("u"), F.col("label").alias("cu"))
    b = post.select(F.col("id").alias("v"), F.col("label").alias("cv"))
    return (
        wg.join(a, "u")
        .join(b, "v")
        .select(
            F.least("cu", "cv").alias("u"),
            F.greatest("cu", "cv").alias("v"),
            "w",
        )
        .groupBy("u", "v")
        .agg(F.sum("w").cast("long").alias("w"))
    )


# Contracted graphs at or below this many weighted-edge rows run the
# remaining levels on the driver-local exact-integer path — the same
# adaptive strategy as graph/traversal.py's CSR fast path (its
# LOCAL_EDGE_THRESHOLD, reused here): a |communities|-sized graph is a
# few MB of (u, v, w) BIGINT triples, and one in-process pass beats
# ~30 BSP stage launches by two orders of magnitude.  Above the
# threshold (a 100 TB corpus whose level-0 partition still has tens of
# millions of communities) the distributed pass keeps running.
from graphdatabases_spark.graph.traversal import (  # noqa: E402
    LOCAL_EDGE_THRESHOLD as _WLM_LOCAL_THRESHOLD,
)


def _wlm_pass_local(
    wg: dict, lab: dict, m: int
) -> tuple[dict, dict]:
    """Driver-local exact-integer weighted local-move pass — identical
    semantics (gain formula, tie-breaks, community-disjoint cascade,
    ppm identity) to :func:`_weighted_local_move`, on a sub-threshold
    contracted graph.  ``wg`` maps ``(u, v) u <= v -> w``; ``lab`` maps
    ``node -> community``.  Returns ``(post_labels, stats_dict)``."""
    from collections import Counter, defaultdict

    k: Counter = Counter()
    adj: defaultdict = defaultdict(Counter)
    for (u, v), w in wg.items():
        if u == v:
            k[u] += 2 * w
        else:
            k[u] += w
            k[v] += w
            adj[u][v] += w
            adj[v][u] += w
    nodes = set(lab)
    sig: Counter = Counter()
    for vtx in nodes:
        sig[lab[vtx]] += k[vtx]
    best_per_vertex = {}
    for vtx in nodes:
        kvc: Counter = Counter()
        for u, w in adj[vtx].items():
            kvc[lab[u]] += w
        s_ = lab[vtx]
        k_own = kvc.get(s_, 0)
        best = None
        for c, kk in kvc.items():
            if c == s_:
                continue
            gain = 2 * m * (kk - k_own) - k[vtx] * (
                sig[c] - sig[s_] + k[vtx]
            )
            if gain <= 0:
                continue
            key = (-gain, c)
            if best is None or key < best[0]:
                best = (key, (vtx, s_, c, gain))
        if best is not None:
            best_per_vertex[vtx] = best[1]
    by_s: dict = {}
    for vtx, s_, c, gain in best_per_vertex.values():
        key = (-gain, vtx)
        if s_ not in by_s or key < by_s[s_][0]:
            by_s[s_] = (key, (vtx, s_, c, gain))
    by_c: dict = {}
    for _key, (vtx, s_, c, gain) in by_s.values():
        key = (-gain, vtx)
        if c not in by_c or key < by_c[c][0]:
            by_c[c] = (key, (vtx, s_, c, gain))
    cand = [mv for _, mv in by_c.values()]
    srcs = {s_ for _, s_, _, _ in cand}
    dsts = {c for _, _, c, _ in cand}
    movers = [
        (vtx, s_, c, gain)
        for vtx, s_, c, gain in cand
        if s_ not in dsts and c not in srcs
    ]
    post = dict(lab)
    for vtx, _, c, _ in movers:
        post[vtx] = c

    def _q_ppm(labels: dict) -> int:
        intra = sum(w for (u, v), w in wg.items() if labels[u] == labels[v])
        sg: Counter = Counter()
        for vtx in nodes:
            sg[labels[vtx]] += k[vtx]
        sum_d2 = sum(x * x for x in sg.values())
        return (
            1_000_000 * (4 * m * m + 4 * m * intra - sum_d2) // (4 * m * m)
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


def _contract_local(wg: dict, post: dict) -> dict:
    from collections import Counter

    out: Counter = Counter()
    for (u, v), w in wg.items():
        cu, cv = post[u], post[v]
        out[(min(cu, cv), max(cu, cv))] += w
    return dict(out)


@register(
    "graph_louvain_multilevel",
    oracle=_louvain_multilevel_oracle(),
    doc="MULTILEVEL Louvain over the co-purchase graph — the coarsening "
    "completion of graph_louvain_onepass (round-10 verdict item 1). "
    "Level 0 runs the proven exact-integer community-disjoint "
    "local-move pass on the 3-round-LPA partition; each subsequent "
    "level CONTRACTS the partition to a weighted super-graph (one "
    "keyed agg: w(C1,C2) = Σ inter-edges, self-loops carry intra "
    "weight; total weight conserved = m) and reruns the SAME pass "
    "with the weighted gain generalization gain_2m2 = 2m·(k_vc − "
    "k_vs) − k_v·(Σ_c − Σ_s + k_v), where k_* are edge-WEIGHT sums "
    "and k_v the strength 2·self + Σw — self-loops cancel out of ΔQ, "
    "so every level's gains stay in the one 2m² integer scale and no "
    "float ΔQ exists anywhere. Emits one row per level (n_nodes "
    "shrinks as communities contract): n_comm before/after, n_moves, "
    "total gain, and exact ppm modularity before/after via the "
    "+4m²-shifted floor-div identity. Invariants (pinned in "
    "tests/test_round11_graph.py with a pure-Python integer replay): "
    "q_after >= q_before within every level, and q_before(level L) "
    "== q_after(level L−1) EXACTLY — contraction preserves "
    "modularity, so the chain is monotone end-to-end. Scale shape: "
    "level 0 is the onepass shape (keyed aggs + per-vertex/per-"
    "community windows + two anti-joins vs a <=|communities| "
    "relation) on the FULL graph; contraction is one join + one "
    "keyed agg; and the contracted levels use the traversal engine's "
    "adaptive strategy — a sub-threshold community graph (bounded "
    "collect, <= LOCAL_EDGE_THRESHOLD weighted rows) runs each "
    "remaining level as one in-process exact-integer pass instead of "
    "~30 BSP stage launches, while an above-threshold one stays on "
    "the distributed pass. All distributed anchors localCheckpoint "
    "once (lineage stays flat across levels).",
)
def graph_louvain_multilevel(spark: SparkSession, sf: str) -> DataFrame:
    from graphdatabases_spark.graph.algorithms import label_propagation

    l = (
        table(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
    )
    e0 = (
        l.alias("a")
        .join(
            l.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    wg = e0.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.lit(1).cast("long").alias("w"),
    )
    labels = label_propagation(e0, num_iters=3).localCheckpoint(eager=True)
    mm = e0.agg(F.count(F.lit(1)).cast("long").alias("m")).localCheckpoint(
        eager=True
    )
    stats_schema = StructType.fromDDL(
        "level long, n_nodes long, n_comm_before long, n_comm_after long, "
        "n_moves long, gain_2m2 long, q_before_ppm long, q_after_ppm long"
    )
    level_rows = []
    local_wg = None  # switches the tail levels to the driver-local path
    local_lab: dict = {}
    m_int = 0
    for lvl in range(_WLM_LEVELS):
        if local_wg is None:
            post, stats = _weighted_local_move(wg, labels, mm)
            level_rows.append(
                stats.select(F.lit(lvl).cast("long").alias("level"), "*")
            )
            if lvl < _WLM_LEVELS - 1:
                wg = _contract(wg, post).localCheckpoint(eager=True)
                # Adaptive strategy (the traversal engine's sub-threshold
                # CSR pattern): the contracted graph is |communities|-
                # sized; at or below the shared threshold its remaining
                # levels run as ONE in-process integer pass each instead
                # of ~30 BSP stage launches (measured ~4 s/level of pure
                # scheduling at sf0.1's 1k-node level-1 graph).  The
                # collect is bounded by the threshold check itself.
                if wg.count() <= _WLM_LOCAL_THRESHOLD:
                    local_wg = {
                        (r["u"], r["v"]): r["w"] for r in wg.collect()
                    }
                    local_lab = {
                        c: c
                        for c in {r["label"] for r in post.select(
                            "label").distinct().collect()}
                    }
                    m_int = mm.collect()[0]["m"]
                else:  # pragma: no cover - needs >threshold communities
                    labels = (
                        post.select("label")
                        .distinct()
                        .select(F.col("label").alias("id"), "label")
                        .localCheckpoint(eager=True)
                    )
        else:
            post_l, st = _wlm_pass_local(local_wg, local_lab, m_int)
            level_rows.append(
                local_frame(
                    spark,
                    [(
                        lvl,
                        st["n_nodes"],
                        st["n_comm_before"],
                        st["n_comm_after"],
                        st["n_moves"],
                        st["gain_2m2"],
                        st["q_before_ppm"],
                        st["q_after_ppm"],
                    )],
                    stats_schema,
                )
            )
            if lvl < _WLM_LEVELS - 1:
                local_wg = _contract_local(local_wg, post_l)
                local_lab = {c: c for c in set(post_l.values())}
    out = level_rows[0]
    for r in level_rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("level")
