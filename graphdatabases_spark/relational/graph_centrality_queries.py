"""Graph structure/centrality catalog queries: approximate
neighborhood function (HyperBall/ANF), effective diameter, harmonic
centrality, k-truss, sampled Brandes betweenness, local clustering
coefficient, and LPA-partition modularity.  Split out of
graph_queries.py (round 9, pure move; registry unchanged) — the
traversal/PPR/component entries and the shared entity/grid edge
fixtures stay there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graphdatabases_spark.graph.model import local_frame
from graphdatabases_spark.graph.traversal import broadcast_side
from graphdatabases_spark.relational.catalog import register, table
from graphdatabases_spark.relational.graph_queries import (
    ENTITY_EDGES_SQL,
    ORDER_BASE,
    PART_BASE,
    SUPP_BASE,
    _LPA_ROUND,
    entity_edges,
)

# ---------------------------------------------------------------------------
# Approximate neighborhood function (HyperBall / ANF)
# ---------------------------------------------------------------------------

_ANF_ROUNDS = 3
_ANF_M = 32  # registers per sketch (alpha_32 = 0.697)
_ANF_H = "(('0x' || substr(md5(CAST({v} AS VARCHAR)), 1, 12))::BIGINT)"
_P50 = 1125899906842624  # 2^50, the exact-BIGINT harmonic scale

# Half-sampled entity graph for this entry (even order keys): ANF costs
# one |E|-linear join per round in BOTH engines, and the full sf1 graph
# puts the DuckDB oracle at ~5 min — the fixture discipline of
# dedup_jaccard_pairs (bounded doc_id) applied to the edge multiset.
_ANF_EDGES_SQL = f"""
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT o_custkey AS src, {ORDER_BASE} + o_orderkey AS dst
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT {ORDER_BASE} + l_orderkey, {PART_BASE} + l_partkey
        FROM lineitem WHERE l_orderkey % 2 = 0
        UNION ALL
        SELECT {PART_BASE} + l_partkey, {SUPP_BASE} + l_suppkey
        FROM lineitem WHERE l_orderkey % 2 = 0
      )
    )
"""


def _anf_round_sql(r: int) -> str:
    return f"""r{r} AS (
      SELECT node, j, max(m) AS m FROM (
        SELECT node, j, m FROM r{r - 1}
        UNION ALL
        SELECT e.src AS node, x.j, x.m
        FROM edges e JOIN r{r - 1} x ON x.node = e.dst
      ) GROUP BY node, j
    )"""


def _anf_est_sql() -> str:
    """The per-node HLL ball estimate over (raw, np) columns — shared
    by the per-round summaries and the harmonic-centrality CTEs."""
    m = _ANF_M
    return (
        f"round(CASE WHEN raw <= {2.5 * m} AND np < {m} "
        f"THEN {m}.0 * round(ln({m}.0 / ({m} - np)), 9) "
        f"ELSE raw END, 6)"
    )


def _anf_summary_sql(r: int) -> str:
    m = _ANF_M
    return f"""e{r} AS (
      SELECT node, CAST(count(*) AS BIGINT) AS np,
        CAST(sum(CAST(pow(2.0, 50 - m) AS BIGINT)) AS BIGINT) AS sp
      FROM r{r} GROUP BY node
    ),
    v{r} AS (
      SELECT node, np,
        0.697 * {m * m}.0 * ({_P50}.0 /
          CAST(sp + ({m} - np) * {_P50} AS DOUBLE)) AS raw
      FROM e{r}
    ),
    s{r} AS (
      SELECT CAST({r} AS BIGINT) AS r,
        CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(np) AS BIGINT) AS n_regs,
        sum(CAST({_anf_est_sql()} AS DECIMAL(28,6))) AS anf_dec
      FROM v{r}
    )"""


# The full sketch chain (edges -> nodes -> register init -> merge
# rounds -> per-round summaries s0..s{_ANF_ROUNDS}), shared by the
# ANF curve entry and the effective-diameter entry below.
_ANF_CHAIN_SQL = f"""{_ANF_EDGES_SQL},
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst FROM edges
      )
    ),
    h AS (
      SELECT node, {_ANF_H.format(v="node")} % {_ANF_M} AS j,
             {_ANF_H.format(v="node")} // {_ANF_M} AS w
      FROM nodes
    ),
    r0 AS (
      SELECT node, j,
        CASE WHEN w = 0 THEN 44 ELSE 44 - length(bin(w)) END AS m
      FROM h
    ),
    {",".join(_anf_round_sql(r) for r in range(1, _ANF_ROUNDS + 1))},
    {",".join(_anf_summary_sql(r) for r in range(_ANF_ROUNDS + 1))}"""


def _anf_per_node(spark: SparkSession, sf: str) -> list:
    """Per-round per-node HyperBall ball estimates ``[p0 .. p{ROUNDS}]``
    — each (node, np, est DECIMAL(28,6)) over the half-sampled entity
    graph.  Shared by the ANF curve / effective-diameter summaries and
    graph_harmonic_centrality (which needs the per-node curve)."""
    from graphdatabases_spark.functions import text as T

    m = _ANF_M
    o = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(ORDER_BASE) + F.col("o_orderkey")).alias("dst"),
        )
    )
    l = table(spark, sf, "lineitem").filter(F.col("l_orderkey") % 2 == 0)
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
    edges = o.union(both).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    hh = T.portable_hash64(F.col("node").cast("string"))
    w = F.shiftright(hh, 5)
    regs = nodes.select(
        "node",
        (hh % m).alias("j"),
        F.when(w == 0, F.lit(44))
        .otherwise(F.lit(44) - F.length(F.bin(w)))
        .cast("int")
        .alias("m"),
    )

    def per_node(regs_df):
        per = regs_df.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias("np"),
            F.sum(F.pow(F.lit(2.0), 50 - F.col("m")).cast("long"))
            .cast("long")
            .alias("sp"),
        )
        raw = (
            F.lit(0.697)
            * F.lit(float(m * m))
            * (
                F.lit(float(_P50))
                / (
                    F.col("sp") + (F.lit(m) - F.col("np")) * F.lit(_P50)
                ).cast("double")
            )
        )
        est = F.when(
            (raw <= 2.5 * m) & (F.col("np") < m),
            F.lit(float(m))
            * F.round(F.log(F.lit(float(m)) / (F.lit(m) - F.col("np"))), 9),
        ).otherwise(raw)
        return per.select(
            "node", "np", F.round(est, 6).cast("decimal(28,6)").alias("est")
        )

    frames = [per_node(regs)]
    for _ in range(1, _ANF_ROUNDS + 1):
        prop = edges.join(
            regs.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "j", "m")
        regs = (
            regs.unionByName(prop)
            .groupBy("node", "j")
            .agg(F.max("m").cast("int").alias("m"))
            .localCheckpoint(eager=True)
        )
        frames.append(per_node(regs))
    return frames


def _anf_summaries(spark: SparkSession, sf: str) -> list:
    """Per-round HyperBall summaries ``[s0 .. s{_ANF_ROUNDS}]`` — each a
    1-row DataFrame (r, n_nodes, n_regs, anf_dec) over the half-sampled
    entity graph.  Shared by graph_anf_hyperball (the full curve) and
    graph_effective_diameter (the interpolated 90% cut)."""
    return [
        p.agg(
            F.lit(r).cast("long").alias("r"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("np").cast("long").alias("n_regs"),
            F.sum("est").alias("anf_dec"),
        )
        for r, p in enumerate(_anf_per_node(spark, sf))
    ]


@register(
    "graph_anf_hyperball",
    oracle=f"""
    WITH {_ANF_CHAIN_SQL}
    SELECT r, n_nodes, n_regs,
      round(CAST(anf_dec AS DOUBLE), 3) AS anf_estimate,
      round(CAST(anf_dec AS DOUBLE) / n_nodes, 6) AS avg_ball,
      round(CAST(anf_dec AS DOUBLE) / CAST(fin_dec AS DOUBLE), 6)
        AS frac_of_final,
      CAST(CASE WHEN round(CAST(anf_dec AS DOUBLE)
                           / CAST(fin_dec AS DOUBLE), 6) >= 0.9
           THEN 1 ELSE 0 END AS BIGINT) AS reached_90
    FROM ({" UNION ALL ".join(f"SELECT * FROM s{r}" for r in range(_ANF_ROUNDS + 1))})
    CROSS JOIN (SELECT anf_dec AS fin_dec FROM s{_ANF_ROUNDS})
    ORDER BY r
    """,
    doc="Approximate neighborhood function via HyperBall (Boldi et "
    "al.; Palmer et al.'s ANF with HLL counters): every node of the "
    "half-sampled entity graph (even order keys — fixture-cost "
    "bounding, the mechanism is unchanged) carries a portable "
    "32-register HLL sketch of its OUT-ball, and round r merges each "
    "node's sketch with its successors' round-(r-1) sketches — a "
    "register-wise MAX, which is why the whole algorithm is three "
    "unrolled join+combinable-agg rounds rather than |V| BFS "
    "traversals (the reason ANF is THE way to measure reachability "
    "growth / effective diameter at 100 TB: state is <= 32 small "
    "ints per node, every round is one dst-keyed equi-join plus one "
    "(node, register) hash-agg, both linear in |E|; rounds are "
    "eagerly localCheckpoint'd so the lineage stays bounded exactly "
    "like the BFS kernel). Per round the entry reports the summed "
    "per-node ball estimates (dedup_hll_cardinality's exact-BIGINT "
    "harmonic denominator and pre-rounded linear-counting branch, "
    "alpha_32 = 0.697; per-node estimates round to 6 dp and sum as "
    "DECIMAL(28,6) — order-invariant) and the occupied-register "
    "count as an integer fingerprint of the sketch state, plus the "
    "cumulative-growth fraction of the final-round ANF (frac_of_final; "
    "reached_90 marks the classic 90%%-effective-diameter cut — the "
    "first flagged round IS the effective diameter estimate, the "
    "curve HyperBall exists to measure). Realized "
    "accuracy vs the exact per-round ANF is pinned in pytest at "
    "sf0.001 (tests/test_algorithms.py).",
)
def graph_anf_hyperball(spark: SparkSession, sf: str) -> DataFrame:
    summaries = _anf_summaries(spark, sf)
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    fin = summaries[_ANF_ROUNDS].select(F.col("anf_dec").alias("fin_dec"))
    frac = F.round(
        F.col("anf_dec").cast("double") / F.col("fin_dec").cast("double"), 6
    )
    return (
        out.crossJoin(F.broadcast(fin))
        .select(
            "r",
            "n_nodes",
            "n_regs",
            F.round(F.col("anf_dec").cast("double"), 3).alias("anf_estimate"),
            F.round(
                F.col("anf_dec").cast("double") / F.col("n_nodes"), 6
            ).alias("avg_ball"),
            frac.alias("frac_of_final"),
            F.when(frac >= 0.9, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("reached_90"),
        )
        .orderBy("r")
    )


@register(
    "graph_effective_diameter",
    oracle=f"""
    WITH {_ANF_CHAIN_SQL},
    a AS (
      SELECT {", ".join(
        f"(SELECT CAST(anf_dec AS DOUBLE) FROM s{r}) AS a{r}"
        for r in range(_ANF_ROUNDS + 1)
      )},
        (SELECT n_nodes FROM s0) AS n_nodes
    ),
    t AS (SELECT a.*, 0.9 * a{_ANF_ROUNDS} AS tgt FROM a)
    SELECT n_nodes,
      round(a{_ANF_ROUNDS}, 3) AS anf_final,
      round(tgt, 3) AS target_anf,
      CAST(CASE {" ".join(
        f"WHEN a{r} >= tgt THEN {r}" for r in range(_ANF_ROUNDS)
      )} ELSE {_ANF_ROUNDS} END AS BIGINT) AS d_eff_round,
      round(CASE WHEN a0 >= tgt THEN 0.0 {" ".join(
        f"WHEN a{r} >= tgt THEN {r - 1} + (tgt - a{r - 1}) / (a{r} - a{r - 1})"
        for r in range(1, _ANF_ROUNDS + 1)
      )} END, 6) AS d_eff_interp
    FROM t
    """,
    doc="Effective diameter by linear interpolation over the HyperBall "
    "ANF curve (the single number graph_anf_hyperball's curve exists "
    "to produce; Palmer et al.'s eff-diameter definition as used by "
    "SNAP/WebGraph): the target is 90%% of the final-round ANF, the "
    "cut round r is the first whose ball sum reaches it, and the "
    "fractional estimate interpolates between rounds r-1 and r — "
    "d_eff = (r-1) + (target - anf[r-1]) / (anf[r] - anf[r-1]). "
    "Every selected branch's denominator is strictly positive by "
    "construction (anf[r] >= target > anf[r-1]). The curve is "
    f"{_ANF_ROUNDS + 1} one-row summaries, so the interpolation is "
    "pure 1-row scalar algebra on top of the shared _anf_summaries "
    "chain — identical doubles in both engines, rounded once at 6 dp. "
    "Scale shape is the ANF entry's: per round one dst-keyed "
    "equi-join + one (node, register) hash-agg, state <= 32 small "
    "ints per node, rounds localCheckpoint'd.",
)
def graph_effective_diameter(spark: SparkSession, sf: str) -> DataFrame:
    summaries = _anf_summaries(spark, sf)
    row = summaries[0].select(
        "n_nodes", F.col("anf_dec").cast("double").alias("a0")
    )
    for r in range(1, _ANF_ROUNDS + 1):
        row = row.crossJoin(
            F.broadcast(
                summaries[r].select(
                    F.col("anf_dec").cast("double").alias(f"a{r}")
                )
            )
        )
    row = row.withColumn("tgt", F.lit(0.9) * F.col(f"a{_ANF_ROUNDS}"))

    cut = F.lit(_ANF_ROUNDS)
    interp = (
        F.lit(_ANF_ROUNDS - 1)
        + (F.col("tgt") - F.col(f"a{_ANF_ROUNDS - 1}"))
        / (F.col(f"a{_ANF_ROUNDS}") - F.col(f"a{_ANF_ROUNDS - 1}"))
    )
    for r in range(_ANF_ROUNDS - 1, -1, -1):
        hit = F.col(f"a{r}") >= F.col("tgt")
        cut = F.when(hit, F.lit(r)).otherwise(cut)
        interp = F.when(
            hit,
            F.lit(0.0)
            if r == 0
            else F.lit(r - 1)
            + (F.col("tgt") - F.col(f"a{r - 1}"))
            / (F.col(f"a{r}") - F.col(f"a{r - 1}")),
        ).otherwise(interp)

    return row.select(
        "n_nodes",
        F.round(F.col(f"a{_ANF_ROUNDS}"), 3).alias("anf_final"),
        F.round(F.col("tgt"), 3).alias("target_anf"),
        cut.cast("long").alias("d_eff_round"),
        F.round(interp, 6).alias("d_eff_interp"),
    )


_HC_K = 10  # harmonic-centrality top-k


@register(
    "graph_harmonic_centrality",
    oracle=f"""
    WITH {_ANF_CHAIN_SQL},
    {",".join(
        f"p{r} AS (SELECT node, CAST(CAST({_anf_est_sql()} AS DECIMAL(28,6))"
        f" * 1000000 AS BIGINT) AS m{r} FROM v{r})"
        for r in range(_ANF_ROUNDS + 1)
    )},
    j AS (
      SELECT p0.node, {", ".join(f"m{r}" for r in range(_ANF_ROUNDS + 1))},
        {" + ".join(
          f"{6 // r} * greatest(m{r} - m{r - 1}, 0)"
          for r in range(1, _ANF_ROUNDS + 1)
        )} AS h6
      FROM p0 {" ".join(f"JOIN p{r} USING (node)" for r in range(1, _ANF_ROUNDS + 1))}
    )
    SELECT CAST(node AS BIGINT) AS node,
      CAST(m{_ANF_ROUNDS} AS DOUBLE) / 1000000.0 AS ball_final,
      CAST(h6 AS DOUBLE) / 6000000.0 AS harmonic
    FROM j
    ORDER BY h6 DESC, node
    LIMIT {_HC_K}
    """,
    doc=f"Approximate HARMONIC CENTRALITY top-{_HC_K} — the application "
    "HyperBall was built for (Boldi & Vigna, 'In-core computation of "
    "geometric centralities with HyperBall'): each node's per-round "
    "ball estimates b_r(v) from the shared _anf_per_node chain give "
    "the shell counts b_r - b_(r-1) (~ nodes at distance exactly r), "
    f"and H(v) = sum over r=1..{_ANF_ROUNDS} of shell_r / r — the "
    "harmonic sum over reachable distances, truncated at the sketch "
    "horizon. Shells are clamped at 0 (the TRUE per-node ANF is "
    "monotone; HLL branch-switching noise can dip slightly, and the "
    "clamp keeps H deterministic and nonnegative). ARITHMETIC "
    "DISCIPLINE: per-node estimates enter as the proven "
    "DECIMAL(28,6) path and convert to exact BIGINT micro-units; the "
    "harmonic sum is the exact integer 6*shell1 + 3*shell2 + "
    "2*shell3 (= 6e6 x H) and BOTH output doubles are one division "
    "of that integer by a constant — no round() on a continuous "
    "value anywhere, so there is no cross-engine half-way-boundary "
    "hazard (the first cut of this entry hit exactly that: a 1-ulp "
    "round(x, 6) disagreement at sf0.1), and the top-k cut orders by "
    "the INTEGER h6 with node-id tie-break. Scale shape: the "
    "register chain is the ANF entry's (one dst-keyed equi-join + "
    "one (node, register) hash-agg per round, localCheckpoint'd); "
    "the per-node curve assembles via ONE node-keyed hash-agg over "
    "the unioned rounds (no self-join pile-up), then the global "
    "top-k is TakeOrdered — per-partition heaps, k rows to the "
    "driver.",
)
def graph_harmonic_centrality(spark: SparkSession, sf: str) -> DataFrame:
    frames = _anf_per_node(spark, sf)
    tagged = [
        p.select(
            "node",
            F.lit(r).alias("r"),
            (F.col("est") * 1000000).cast("long").alias("m"),
        )
        for r, p in enumerate(frames)
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    pivot = out.groupBy("node").agg(
        *[
            F.max(F.when(F.col("r") == r, F.col("m"))).alias(f"m{r}")
            for r in range(_ANF_ROUNDS + 1)
        ]
    )
    h6 = None
    for r in range(1, _ANF_ROUNDS + 1):
        term = F.lit(6 // r) * F.greatest(
            F.col(f"m{r}") - F.col(f"m{r - 1}"), F.lit(0).cast("long")
        )
        h6 = term if h6 is None else h6 + term
    return (
        pivot.select(
            F.col("node").cast("long").alias("node"),
            (F.col(f"m{_ANF_ROUNDS}").cast("double") / F.lit(1000000.0)).alias(
                "ball_final"
            ),
            (h6.cast("double") / F.lit(6000000.0)).alias("harmonic"),
            h6.alias("_h6"),
        )
        .orderBy(F.col("_h6").desc(), "node")
        .limit(_HC_K)
        .drop("_h6")
    )


_TRUSS_KS = (3, 4)
_TRUSS_ROUNDS = 2


def _truss_round_sql(k: int, r: int) -> str:
    """One unrolled truss-peeling round: recompute per-edge triangle
    support within the surviving subgraph, keep support >= k-2."""
    prev = f"e{k}_{r - 1}"
    # MATERIALIZED is load-bearing: each round references its
    # predecessor three times (edge relation + both adjacency sides);
    # inlined, the unrolled chain re-expands the base self-join
    # exponentially (measured: the sf1 oracle spun >10 min before the
    # hint, 3 s with it).
    return f"""adj{k}_{r} AS MATERIALIZED (
      SELECT pa AS u, pb AS v FROM {prev}
      UNION ALL SELECT pb, pa FROM {prev}
    ),
    e{k}_{r} AS MATERIALIZED (
      SELECT e.pa, e.pb FROM {prev} e
      JOIN adj{k}_{r} x ON x.u = e.pa
      JOIN adj{k}_{r} y ON y.u = e.pb AND y.v = x.v
      GROUP BY e.pa, e.pb
      HAVING count(*) >= {k - 2}
    )"""


def _truss_summary_sql(k: int, r: int) -> str:
    h = "(('0x' || substr(md5('tr' || pa || ':' || pb), 1, 12))::BIGINT)"
    return f"""
    SELECT {k} AS k, {r} AS round,
      (SELECT count(*) FROM e{k}_{max(r - 1, 0)}) AS edges_before,
      (SELECT count(*) FROM e{k}_{max(r - 1, 0)})
        - (SELECT count(*) FROM e{k}_{r}) AS edges_dropped,
      (SELECT count(*) FROM e{k}_{r}) AS edges_after,
      (SELECT coalesce(sum({h}), 0) FROM e{k}_{r}) AS fp_sum"""


@register(
    "graph_ktruss_copurchase",
    oracle=f"""
    WITH e0 AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 2 = 0
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    {",".join(f"e{k}_0 AS (SELECT * FROM e0)" for k in _TRUSS_KS)},
    {",".join(
      _truss_round_sql(k, r)
      for k in _TRUSS_KS
      for r in range(1, _TRUSS_ROUNDS + 1)
    )}
    SELECT CAST(k AS BIGINT) AS k, CAST(round AS BIGINT) AS round,
      CAST(edges_before AS BIGINT) AS edges_before,
      CAST(edges_dropped AS BIGINT) AS edges_dropped,
      CAST(edges_after AS BIGINT) AS edges_after,
      CAST(fp_sum AS BIGINT) AS fp_sum
    FROM ({" UNION ALL ".join(
      _truss_summary_sql(k, r)
      for k in _TRUSS_KS
      for r in range(1, _TRUSS_ROUNDS + 1)
    )})
    ORDER BY k, round
    """,
    doc=f"k-TRUSS peeling on the co-purchase projection (parts sharing "
    ">= 2 half-sampled orders, the graph_copurchase_pairs graph): "
    f"{_TRUSS_ROUNDS} unrolled peeling rounds for k in "
    f"{{{', '.join(str(k) for k in _TRUSS_KS)}}} — each round "
    "recomputes per-edge TRIANGLE SUPPORT inside the surviving "
    "subgraph (adjacency self-join: common neighbors of the edge's "
    "endpoints, the triangle-count join shape) and keeps edges with "
    "support >= k-2. The per-round rows carry edge counts plus an "
    "ORDER-INVARIANT integer fingerprint of the surviving edge set "
    "(sum of portable 48-bit edge hashes), so the peeling TRAJECTORY "
    "is value-hash-pinned, not just the final size. Two theorems "
    "pinned in pytest: the 3-truss is stable after ONE round "
    "(triangles are self-supporting, so 'edges in >= 1 triangle' is "
    "already the fixpoint), while the 4-truss CASCADES (dropping a "
    "support-1 edge kills its neighbors' support). Scale shape: "
    "peeling is join+agg per round on a shrinking edge relation — "
    "never all-pairs; the copurchase base is one self-join on the "
    "order key, HAVING-bounded.",
)
def graph_ktruss_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    from graphdatabases_spark.functions import text as T

    l = (
        table(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 2 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = l.alias("a"), l.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 2)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    fp = T.portable_hash64(
        F.concat(
            F.lit("tr"),
            F.col("pa").cast("string"),
            F.lit(":"),
            F.col("pb").cast("string"),
        )
    )

    def summary(k, r, before_df, after_df):
        nb = before_df.agg(F.count(F.lit(1)).alias("eb"))
        na = after_df.agg(
            F.count(F.lit(1)).alias("ea"),
            F.coalesce(F.sum(fp), F.lit(0)).cast("long").alias("fp_sum"),
        )
        return nb.crossJoin(F.broadcast(na)).select(
            F.lit(k).cast("long").alias("k"),
            F.lit(r).cast("long").alias("round"),
            F.col("eb").cast("long").alias("edges_before"),
            (F.col("eb") - F.col("ea")).cast("long").alias("edges_dropped"),
            F.col("ea").cast("long").alias("edges_after"),
            "fp_sum",
        )

    out = None
    for k in _TRUSS_KS:
        cur = e0
        for r in range(1, _TRUSS_ROUNDS + 1):
            adj = cur.select(
                F.col("pa").alias("u"), F.col("pb").alias("v")
            ).unionByName(
                cur.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
            )
            x = adj.select(F.col("u").alias("xa"), F.col("v").alias("w"))
            y = adj.select(F.col("u").alias("yb"), F.col("v").alias("w2"))
            nxt = (
                cur.join(x, F.col("xa") == F.col("pa"))
                .join(
                    y,
                    (F.col("yb") == F.col("pb"))
                    & (F.col("w2") == F.col("w")),
                )
                .groupBy("pa", "pb")
                .agg(F.count(F.lit(1)).alias("support"))
                .filter(F.col("support") >= k - 2)
                .select("pa", "pb")
                .localCheckpoint(eager=True)
            )
            row = summary(k, r, cur, nxt)
            out = row if out is None else out.unionByName(row)
            cur = nxt
    return out.orderBy("k", "round")


# ---------------------------------------------------------------------------
# Sampled Brandes betweenness (round-8 directive)
# ---------------------------------------------------------------------------

_BC_SEEDS = (1, 3, 7, 11, 19)  # fixed customer-id source sample
_BC_ROUNDS = 3  # BFS truncation horizon (same role as the ANF horizon)
_BC_TOPK = 20


def _bc_level_sql(r: int) -> str:
    """Forward Brandes round r: sigma_r(v) = sum of sigma_{r-1} over
    in-frontier neighbors, nodes seen at earlier levels excluded
    (per-seed).  MATERIALIZED for the same reason as the k-truss
    rounds: each level is referenced by the next level's anti-join AND
    the backward pass."""
    prior = " UNION ALL ".join(
        f"SELECT seed, node FROM l{i}" for i in range(r)
    )
    return f"""l{r} AS MATERIALIZED (
      SELECT p.seed, e.dst AS node, sum(p.sigma) AS sigma
      FROM l{r - 1} p JOIN u_edges e ON e.src = p.node
      WHERE NOT EXISTS (
        SELECT 1 FROM ({prior}) v
        WHERE v.seed = p.seed AND v.node = e.dst
      )
      GROUP BY p.seed, e.dst
    )"""


def _bc_delta_sql(r: int) -> str:
    """Backward Brandes round r (from level {r+1}'s deltas): the pair
    dependency in exact integer micro-units —
    dppm_r(u) = sum over successors w of
    (sigma_u * (1e6 + dppm_{r+1}(w))) // sigma_w, floor division on
    nonnegative BIGINTs (engine-identical; no double round() anywhere
    — the harmonic-centrality lesson)."""
    return f"""d{r} AS MATERIALIZED (
      SELECT u.seed, u.node, u.sigma,
             coalesce(sum((u.sigma * (1000000 + w.dppm)) // w.sigma),
                      0) AS dppm
      FROM l{r} u
      LEFT JOIN u_edges e ON e.src = u.node
      LEFT JOIN (
        SELECT l.seed, l.node, l.sigma, d.dppm
        FROM l{r + 1} l JOIN d{r + 1} d ON d.seed = l.seed AND d.node = l.node
      ) w ON w.seed = u.seed AND w.node = e.dst
      GROUP BY u.seed, u.node, u.sigma
    )"""


@register(
    "graph_betweenness_sampled",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    u_edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
      )
    ),
    l0 AS (
      SELECT seed, CAST(seed AS BIGINT) AS node, CAST(1 AS BIGINT) AS sigma
      FROM (VALUES {", ".join(f"({s})" for s in _BC_SEEDS)}) s(seed)
    ),
    {",".join(_bc_level_sql(r) for r in range(1, _BC_ROUNDS + 1))},
    d{_BC_ROUNDS} AS (
      SELECT seed, node, sigma, CAST(0 AS BIGINT) AS dppm
      FROM l{_BC_ROUNDS}
    ),
    {",".join(_bc_delta_sql(r) for r in range(_BC_ROUNDS - 1, 0, -1))},
    bc AS (
      SELECT node, sum(dppm) AS bc_ppm,
             count(*) AS n_seed_obs
      FROM ({" UNION ALL ".join(
        f"SELECT seed, node, dppm FROM d{r}"
        for r in range(1, _BC_ROUNDS + 1)
      )})
      GROUP BY node
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(bc_ppm AS BIGINT) AS bc_ppm,
           CAST(bc_ppm AS DOUBLE) / 1000000.0 AS betweenness,
           CAST(n_seed_obs AS BIGINT) AS n_seed_obs
    FROM bc
    ORDER BY bc_ppm DESC, node
    LIMIT {_BC_TOPK}
    """,
    doc=f"APPROXIMATE BETWEENNESS CENTRALITY (sampled Brandes, "
    f"truncated): Brandes' forward/backward pass from a fixed "
    f"{len(_BC_SEEDS)}-customer source sample over the UNDIRECTED "
    f"entity graph, BFS truncated at {_BC_ROUNDS} rounds (the same "
    "bounded-horizon contract as the HyperBall/harmonic entries). "
    "Forward: per-seed frontier joins accumulate shortest-path counts "
    "sigma as exact BIGINTs (sigma_r(v) = sum of sigma over "
    "in-frontier neighbors; earlier-level nodes anti-joined out). "
    "Backward: the pair dependency accumulates in exact integer "
    "MICRO-UNITS — dppm(u) = sum over successors w of floor(sigma_u *"
    " (1e6 + dppm(w)) / sigma_w) — pure nonnegative BIGINT floor "
    "division, so there is NO double round() on a continuous value "
    "anywhere (the harmonic-centrality 1-ulp lesson) and the whole "
    f"top-{_BC_TOPK} value-hash-matches; the output orders by the "
    "exact integer bc_ppm with node tie-break and the double is one "
    "final division. The estimator is Brandes-exact for pairs within "
    "the horizon up to the deterministic floor (<= 1e-6 per term), "
    "pinned against a pure-Python replay in tests/test_algorithms.py. "
    "Scale shape: seed-BATCHED frontiers (one (seed,node)-keyed "
    "exchange per round over all seeds at once, the PPR-batch "
    "pattern), levels localCheckpoint'd so the unrolled backward "
    "pass re-reads materialized levels instead of re-expanding the "
    "BFS (the k-truss MATERIALIZED lesson), and sampling bounds work "
    "at |seeds| * O(E) — the published Brandes estimator trade-off.",
)
def graph_betweenness_sampled(spark: SparkSession, sf: str) -> DataFrame:
    e = entity_edges(spark, sf, dedup=False)
    ue = (
        e.select("src", "dst")
        .unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    l0 = local_frame(
        spark,
        [(s, s, 1) for s in _BC_SEEDS],
        StructType.fromDDL("seed INT, node BIGINT, sigma BIGINT"),
    )
    levels = [l0]
    visited = l0.select("seed", "node")
    for _ in range(_BC_ROUNDS):
        # The frontier is the SMALL side — broadcast it so the edge
        # relation never exchanges (same one-sided contract as the
        # traversal kernels' _EdgeSides).
        nxt = (
            ue.join(F.broadcast(levels[-1]), ue.src == levels[-1].node)
            .select("seed", F.col("dst").alias("node"), "sigma")
            .join(visited, ["seed", "node"], "left_anti")
            .groupBy("seed", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("seed", "node")).localCheckpoint(
            eager=True
        )
    deltas: dict[int, DataFrame] = {
        _BC_ROUNDS: levels[_BC_ROUNDS].withColumn(
            "dppm", F.lit(0).cast("long")
        )
    }
    for r in range(_BC_ROUNDS - 1, 0, -1):
        # Backward round: edges into level r+1 found by probing the
        # edge relation with BROADCAST level frames (both inner joins,
        # zero edge-side shuffle — a left join from the level side
        # would force the full edge relation through an exchange per
        # round: measured 1.5 GB at sf1, 59x on 10x rows, before this
        # shape); level-r nodes with no successors rejoin as dppm=0
        # via the small left join at the end.
        w = (
            levels[r + 1]
            .join(deltas[r + 1].select("seed", "node", "dppm"), ["seed", "node"])
            .select(
                F.col("seed").alias("w_seed"),
                F.col("node").alias("w_node"),
                F.col("sigma").alias("w_sigma"),
                "dppm",
            )
        )
        u = levels[r].select(
            F.col("seed").alias("u_seed"),
            F.col("node").alias("u_node"),
            F.col("sigma").alias("u_sigma"),
        )
        terms = (
            ue.join(F.broadcast(w), ue.dst == F.col("w_node"))
            .join(
                F.broadcast(u),
                (F.col("u_seed") == F.col("w_seed"))
                & (F.col("u_node") == F.col("src")),
            )
            .select(
                F.col("u_seed").alias("seed"),
                F.col("u_node").alias("node"),
                F.expr(
                    "(u_sigma * (1000000 + dppm)) div w_sigma"
                ).alias("term"),
            )
            .groupBy("seed", "node")
            .agg(F.sum("term").cast("long").alias("dppm_in"))
        )
        deltas[r] = (
            levels[r]
            .join(F.broadcast(terms), ["seed", "node"], "left")
            .select(
                "seed",
                "node",
                F.coalesce(F.col("dppm_in"), F.lit(0)).cast("long").alias("dppm"),
            )
            .localCheckpoint(eager=True)
        )
    stacked = None
    for r in range(1, _BC_ROUNDS + 1):
        part = deltas[r].select("seed", "node", "dppm")
        stacked = part if stacked is None else stacked.unionByName(part)
    return (
        stacked.groupBy("node")
        .agg(
            F.sum("dppm").cast("long").alias("bc_ppm"),
            F.count(F.lit(1)).cast("long").alias("n_seed_obs"),
        )
        .select(
            F.col("node").cast("long").alias("node"),
            "bc_ppm",
            (F.col("bc_ppm").cast("double") / F.lit(1000000.0)).alias(
                "betweenness"
            ),
            "n_seed_obs",
        )
        .orderBy(F.col("bc_ppm").desc(), "node")
        .limit(_BC_TOPK)
    )


_LCC_TOPK = 20


@register(
    "graph_clustering_coeff",
    oracle=f"""
    WITH e0 AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 2 = 0
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    adj AS MATERIALIZED (
      SELECT pa AS u, pb AS v FROM e0
      UNION ALL SELECT pb, pa FROM e0
    ),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
            FROM adj GROUP BY u),
    tri AS (
      SELECT x.u AS node, CAST(count(*) AS BIGINT) AS t
      FROM adj x
      JOIN adj y ON y.u = x.u AND y.v > x.v
      JOIN e0 e ON e.pa = x.v AND e.pb = y.v
      GROUP BY x.u
    )
    SELECT node, deg, coalesce(t, 0) AS triangles,
           CAST(CASE WHEN deg >= 2
                THEN (2 * coalesce(t, 0) * 1000000) // (deg * (deg - 1))
                ELSE 0 END AS BIGINT) AS lcc_ppm
    FROM deg LEFT JOIN tri USING (node)
    ORDER BY lcc_ppm DESC, node
    LIMIT {_LCC_TOPK}
    """,
    doc=f"LOCAL CLUSTERING COEFFICIENT top-{_LCC_TOPK} on the "
    "co-purchase projection (the k-truss/triangle-count graph): "
    "lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) with T(v) the triangles "
    "through v, counted by the wedge self-join (neighbor pairs of v "
    "probed against the edge set — the graph_triangle_count join "
    "shape, keyed per apex instead of globally). The coefficient is "
    "an exact integer in MICRO-UNITS via nonnegative BIGINT floor "
    "division — no double round() anywhere (the harmonic lesson) — "
    "so the top-k orders by the exact lcc_ppm with node tie-break "
    "and value-hash-matches. Completes the per-node structure "
    "metrics beside degree/k-core/k-truss/betweenness/harmonic. "
    "Scale shape: wedges are per-node O(deg²) — the standard LCC "
    "cost, bounded by the copurchase HAVING filter; one adjacency "
    "hash exchange feeds both the wedge join and the degree agg; "
    "the probe against e0 is an equi-join, never all-pairs.",
)
def graph_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    l = (
        table(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 2 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = l.alias("a"), l.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("pa", "pb")
    )
    adj = e0.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        e0.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    x = adj.select(F.col("u"), F.col("v").alias("xv"))
    y = adj.select(F.col("u").alias("yu"), F.col("v").alias("yv"))
    tri = (
        x.join(y, (F.col("yu") == F.col("u")) & (F.col("yv") > F.col("xv")))
        .join(
            e0,
            (F.col("pa") == F.col("xv")) & (F.col("pb") == F.col("yv")),
        )
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "CAST(CASE WHEN deg >= 2 "
                "THEN (2 * coalesce(t, 0) * 1000000) div (deg * (deg - 1)) "
                "ELSE 0 END AS BIGINT)"
            ).alias("lcc_ppm"),
        )
        .orderBy(F.col("lcc_ppm").desc(), "node")
        .limit(_LCC_TOPK)
    )


# ---------------------------------------------------------------------------
# Community quality: exact modularity of the LPA partition
# ---------------------------------------------------------------------------

_MOD_EDGES_SQL = """
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 4 = 0
      GROUP BY src, dst
    ),
    sym AS MATERIALIZED (
      SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
    ),
    l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)
"""


@register(
    "graph_modularity",
    oracle=f"""
    WITH {_MOD_EDGES_SQL},
    {_LPA_ROUND.format(k=1, prev=0)},
    {_LPA_ROUND.format(k=2, prev=1)},
    {_LPA_ROUND.format(k=3, prev=2)},
    deg AS (
      SELECT id, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT src AS id FROM sym) GROUP BY id
    ),
    comm AS (
      SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.deg) AS BIGINT) AS d_c
      FROM l3 l JOIN deg d ON d.id = l.id
      GROUP BY l.label
    ),
    intra AS (
      SELECT CAST(count(*) AS BIGINT) AS intra_edges
      FROM e0 e JOIN l3 a ON a.id = e.src JOIN l3 b ON b.id = e.dst
      WHERE a.label = b.label
    ),
    tot AS (
      SELECT CAST((SELECT count(*) FROM e0) AS BIGINT) AS m,
             CAST((SELECT count(*) FROM l0) AS BIGINT) AS n_nodes,
             CAST((SELECT count(*) FROM comm) AS BIGINT) AS n_communities,
             CAST((SELECT max(n_nodes) FROM comm) AS BIGINT) AS top_comm_nodes,
             CAST((SELECT sum(d_c * d_c) FROM comm) AS BIGINT) AS sum_d2,
             (SELECT intra_edges FROM intra) AS intra_edges
    )
    SELECT n_nodes, m AS n_edges, n_communities, top_comm_nodes, intra_edges,
           CAST((1000000::HUGEINT
                 * (4::HUGEINT * m * m + 4::HUGEINT * m * intra_edges
                    - sum_d2))
                // (4::HUGEINT * m * m) AS BIGINT) - 1000000 AS q_ppm
    FROM tot
    """,
    doc="Exact Newman modularity Q of the 3-round LPA partition over "
    "the quarter-orders co-purchase graph (part pairs sharing an "
    "order with l_orderkey % 4 = 0 — unlike the >=2-support k-truss "
    "slice this grows with the corpus, ~150k edges at sf0.1): the "
    "community-QUALITY metric the LPA/CC entries emit partitions "
    "without. Q = "
    "Σ_c [e_c/m − (d_c/2m)²] computed EXACTLY in integers: one keyed "
    "agg per community for (n_nodes, d_c), one label-equality join "
    "for intra edges, then the single-row identity q_ppm = "
    "(10⁶·(4m² + 4m·Σe_c − Σd_c²)) // 4m² − 10⁶ — the +4m² shift "
    "keeps the dividend NONNEGATIVE so floor (DuckDB //) and "
    "truncate (Spark div) agree, and the product routes through "
    "HUGEINT/DECIMAL(38,0) because 10⁶·4m² passes 2⁶³ at the derived "
    "sf1 (the orders_pareto_share lesson). Oracle unrolls the same "
    "synchronous max-count/min-label LPA rounds as "
    "graph_label_propagation (shared _LPA_ROUND CTE template). Scale "
    "shape: LPA is the iterative part (keyed agg per round over "
    "sym-edges, the LPA entry's plan); the modularity overlay adds "
    "one broadcastable (id,label) join onto edges + bounded "
    "per-community aggs + 1-row totals — no new shuffle class.",
)
def graph_modularity(spark: SparkSession, sf: str) -> DataFrame:
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
    )
    # Eager local checkpoint: e0 feeds LPA plus three modularity
    # branches (degrees, intra-join, edge count) — truncate the
    # self-join lineage once instead of recomputing it per branch
    # (the label_propagation-internal convention).
    e0 = e0.localCheckpoint(eager=True)
    labels = label_propagation(e0, num_iters=3)
    # Size-switched broadcasts of the per-vertex sides (round 14; the
    # checkpointed labels carry no stats, so the intra-edge proof
    # otherwise sort-merge-exchanges e0 twice).
    n_v = labels.count()
    sym = e0.select("src").unionAll(
        e0.select(F.col("dst").alias("src"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    comm = (
        labels.join(broadcast_side(deg, n_v), "id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("d_c"),
        )
    )
    la = labels.select(
        F.col("id").alias("src"), F.col("label").alias("label_a")
    )
    lb = labels.select(
        F.col("id").alias("dst"), F.col("label").alias("label_b")
    )
    intra = (
        e0.join(broadcast_side(la, n_v), "src")
        .join(broadcast_side(lb, n_v), "dst")
        .filter(F.col("label_a") == F.col("label_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    tot = comm.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.max("n_nodes").alias("top_comm_nodes"),
        F.sum(F.col("d_c") * F.col("d_c")).cast("long").alias("sum_d2"),
    )
    counts = e0.agg(F.count(F.lit(1)).cast("long").alias("m")).crossJoin(
        labels.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    out = (
        counts.crossJoin(tot)
        .crossJoin(intra)
        .select(
            "n_nodes",
            F.col("m").alias("n_edges"),
            "n_communities",
            "top_comm_nodes",
            "intra_edges",
            (
                F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0))"
                    " * (4 * CAST(m AS DECIMAL(38,0)) * m"
                    "    + 4 * CAST(m AS DECIMAL(38,0)) * intra_edges"
                    "    - sum_d2))"
                    " div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"
                )
                - F.lit(1000000)
            ).alias("q_ppm"),
        )
    )
    return out

# ---------------------------------------------------------------------------
# Louvain refinement: one provably-improving local-move pass
# ---------------------------------------------------------------------------

@register(
    "graph_louvain_onepass",
    oracle=f"""
    WITH {_MOD_EDGES_SQL},
    {_LPA_ROUND.format(k=1, prev=0)},
    {_LPA_ROUND.format(k=2, prev=1)},
    {_LPA_ROUND.format(k=3, prev=2)},
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    deg AS (
      SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
      FROM sym GROUP BY 1
    ),
    comm AS MATERIALIZED (
      SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS sig
      FROM l3 l JOIN deg d ON d.id = l.id GROUP BY l.label
    ),
    kvc AS MATERIALIZED (
      SELECT s.src AS id, l.label AS c, CAST(count(*) AS BIGINT) AS k
      FROM sym s JOIN l3 l ON l.id = s.dst
      GROUP BY 1, 2
    ),
    own AS (SELECT id, label AS s FROM l3),
    kvs AS (
      SELECT o.id, o.s, coalesce(k.k, 0) AS k_own
      FROM own o LEFT JOIN kvc k ON k.id = o.id AND k.c = o.s
    ),
    cand0 AS (
      SELECT kvc.id, kvs.s, kvc.c,
             2 * mm.m * (kvc.k - kvs.k_own)
               - d.deg * (cc.sig - cs.sig + d.deg) AS gain
      FROM kvc
      JOIN kvs ON kvs.id = kvc.id
      JOIN deg d ON d.id = kvc.id
      JOIN comm cc ON cc.label = kvc.c
      JOIN comm cs ON cs.label = kvs.s
      CROSS JOIN mm
      WHERE kvc.c <> kvs.s
    ),
    cand1 AS (
      SELECT id, s, c, gain FROM (
        SELECT *, row_number() OVER (
          PARTITION BY id ORDER BY gain DESC, c
        ) AS rn FROM cand0 WHERE gain > 0
      ) WHERE rn = 1
    ),
    cand2 AS (
      SELECT id, s, c, gain FROM (
        SELECT *, row_number() OVER (
          PARTITION BY s ORDER BY gain DESC, id
        ) AS rn FROM cand1
      ) WHERE rn = 1
    ),
    cand3 AS MATERIALIZED (
      SELECT id, s, c, gain FROM (
        SELECT *, row_number() OVER (
          PARTITION BY c ORDER BY gain DESC, id
        ) AS rn FROM cand2
      ) WHERE rn = 1
    ),
    movers AS MATERIALIZED (
      SELECT t.id, t.s, t.c, t.gain FROM cand3 t
      WHERE NOT EXISTS (SELECT 1 FROM cand3 x WHERE x.c = t.s)
        AND NOT EXISTS (SELECT 1 FROM cand3 x WHERE x.s = t.c)
    ),
    l4 AS MATERIALIZED (
      SELECT l.id, coalesce(mv.c, l.label) AS label
      FROM l3 l LEFT JOIN movers mv ON mv.id = l.id
    ),
    ca AS (
      SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS sig
      FROM l4 l JOIN deg d ON d.id = l.id GROUP BY l.label
    ),
    ib AS (
      SELECT CAST(count(*) AS BIGINT) AS intra
      FROM e0 e JOIN l3 a ON a.id = e.src JOIN l3 b ON b.id = e.dst
      WHERE a.label = b.label
    ),
    ia AS (
      SELECT CAST(count(*) AS BIGINT) AS intra
      FROM e0 e JOIN l4 a ON a.id = e.src JOIN l4 b ON b.id = e.dst
      WHERE a.label = b.label
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM l0) AS n_nodes,
      mm.m AS n_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM comm) AS n_comm_before,
      (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM l4)
        AS n_comm_after,
      (SELECT CAST(count(*) AS BIGINT) FROM movers) AS n_moves,
      (SELECT CAST(coalesce(sum(gain), 0) AS BIGINT) FROM movers)
        AS gain_2m2,
      CAST((1000000::HUGEINT
            * (4::HUGEINT * mm.m * mm.m
               + 4::HUGEINT * mm.m * (SELECT intra FROM ib)
               - (SELECT sum(sig * sig) FROM comm)))
           // (4::HUGEINT * mm.m * mm.m) AS BIGINT) - 1000000
        AS q_before_ppm,
      CAST((1000000::HUGEINT
            * (4::HUGEINT * mm.m * mm.m
               + 4::HUGEINT * mm.m * (SELECT intra FROM ia)
               - (SELECT sum(sig * sig) FROM ca)))
           // (4::HUGEINT * mm.m * mm.m) AS BIGINT) - 1000000
        AS q_after_ppm
    FROM mm
    """,
    doc="ONE Louvain local-move refinement pass over the 3-round LPA "
    "partition of the co-purchase graph (the natural next operator "
    "after graph_modularity scores it): every vertex evaluates its "
    "best neighboring community by the standard Louvain gain, in "
    "EXACT integers scaled by 2m² — gain_2m2(v: s→c) = 2m·(k_vc − "
    "k_vs) − d_v·(Σ_c − Σ_s + d_v), no float ΔQ anywhere — and a "
    "COMMUNITY-DISJOINT subset of positive-gain moves applies "
    "simultaneously. Selection (all keyed aggs/windows, deterministic "
    "ties by gain DESC then label/id ASC): best target per vertex → "
    "best mover per SOURCE community → best mover per TARGET "
    "community → drop moves whose source is another selected move's "
    "target or vice versa. The surviving moves touch pairwise-"
    "DISTINCT communities, so each mover's k_v· and Σ· terms are "
    "unaffected by the others and total ΔQ = Σ gain_2m2/(2m²) adds "
    "EXACTLY — synchronous application provably improves Q whenever "
    "n_moves ≥ 1 (the classic simultaneous-swap oscillation is "
    "excluded by construction; pinned in tests/test_round10_graph.py "
    "with a pure-Python integer replay). Q before/after emitted via "
    "graph_modularity's exact +4m²-shifted floor-div ppm identity. "
    "Scale shape: k_vc is one keyed agg over sym-edges (the LPA round "
    "shape); comm/Σ one keyed agg; candidate windows partition by "
    "vertex/community (never global); the crossing filter is two "
    "left-anti joins against the ≤|communities| selected-move "
    "relation. No new shuffle class beyond the LPA entry itself.",
)
def graph_louvain_onepass(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

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
    labels = label_propagation(e0, num_iters=3).localCheckpoint(eager=True)
    # Size-switched broadcasts of every per-vertex / per-community side
    # (round 14, the pagerank_units pattern; see _weighted_local_move):
    # labels/deg/comm/kvs are <= |V| rows, so below the frontier cap the
    # joins against the edge-sized streams are broadcast-hash and only
    # the keyed aggregates shuffle.
    n_v = labels.count()
    sym = e0.select("src", "dst").unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # deg re-entered the plan four times (comm, the gain join, both
    # modularity scorings) — each lazily re-aggregated sym (round 14:
    # checkpoint the |V|-row result once).
    deg = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=True)
    )
    mm = e0.agg(F.count(F.lit(1)).cast("long").alias("m"))
    comm = (
        labels.join(broadcast_side(deg, n_v), "id")
        .groupBy("label")
        .agg(F.sum("deg").cast("long").alias("sig"))
        .localCheckpoint(eager=True)
    )
    kvc = (
        sym.join(
            broadcast_side(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("c")
                ),
                n_v,
            ),
            "dst",
        )
        .groupBy(F.col("src").alias("id"), "c")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    own = labels.select("id", F.col("label").alias("s"))
    kvs = own.join(
        kvc.select("id", F.col("c").alias("s"), F.col("k").alias("k_own")),
        ["id", "s"],
        "left",
    ).select("id", "s", F.coalesce("k_own", F.lit(0)).alias("k_own"))
    cand0 = (
        kvc.join(broadcast_side(kvs, n_v), "id")
        .filter(F.col("c") != F.col("s"))
        .join(broadcast_side(deg, n_v), "id")
        .join(
            broadcast_side(
                comm.select(
                    F.col("label").alias("c"), F.col("sig").alias("sig_c")
                ),
                n_v,
            ),
            "c",
        )
        .join(
            broadcast_side(
                comm.select(
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
                2 * F.col("m") * (F.col("k") - F.col("k_own"))
                - F.col("deg")
                * (F.col("sig_c") - F.col("sig_s") + F.col("deg"))
            ).alias("gain"),
        )
        .filter(F.col("gain") > 0)
    )
    w1 = Window.partitionBy("id").orderBy(F.col("gain").desc(), F.col("c"))
    cand1 = (
        cand0.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w2 = Window.partitionBy("s").orderBy(F.col("gain").desc(), F.col("id"))
    cand2 = (
        cand1.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w3 = Window.partitionBy("c").orderBy(F.col("gain").desc(), F.col("id"))
    cand3 = (
        cand2.withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    movers = (
        cand3.join(
            cand3.select(F.col("c").alias("s")).distinct(), "s", "left_anti"
        )
        .join(
            cand3.select(F.col("s").alias("c")).distinct(), "c", "left_anti"
        )
        .localCheckpoint(eager=True)
    )
    l4 = labels.join(
        broadcast_side(movers.select("id", F.col("c").alias("new_label")), n_v),
        "id",
        "left",
    ).select("id", F.coalesce("new_label", "label").alias("label"))

    def _q_parts(lbl, alias):
        sig = (
            lbl.join(broadcast_side(deg, n_v), "id")
            .groupBy("label")
            .agg(F.sum("deg").cast("long").alias("sig"))
            .agg(F.sum(F.col("sig") * F.col("sig")).cast("long").alias(f"sum_d2_{alias}"))
        )
        la = lbl.select(F.col("id").alias("src"), F.col("label").alias("la"))
        lb = lbl.select(F.col("id").alias("dst"), F.col("label").alias("lb"))
        intra = (
            e0.join(broadcast_side(la, n_v), "src")
            .join(broadcast_side(lb, n_v), "dst")
            .filter(F.col("la") == F.col("lb"))
            .agg(F.count(F.lit(1)).cast("long").alias(f"intra_{alias}"))
        )
        return sig, intra

    sig_b, intra_b = _q_parts(labels, "b")
    sig_a, intra_a = _q_parts(l4, "a")
    counts = (
        mm.crossJoin(labels.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
        .crossJoin(comm.agg(F.count(F.lit(1)).cast("long").alias("n_comm_before")))
        .crossJoin(
            l4.select("label")
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
        .crossJoin(sig_b)
        .crossJoin(intra_b)
        .crossJoin(sig_a)
        .crossJoin(intra_a)
    )

    def _q_ppm(intra_col, sumd2_col):
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

    return counts.select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        "n_comm_before",
        "n_comm_after",
        "n_moves",
        "gain_2m2",
        _q_ppm("intra_b", "sum_d2_b").alias("q_before_ppm"),
        _q_ppm("intra_a", "sum_d2_a").alias("q_after_ppm"),
    )


# ---------------------------------------------------------------------------
# Community quality: per-community conductance of the LPA partition
# ---------------------------------------------------------------------------

@register(
    "graph_conductance",
    oracle=f"""
    WITH {_MOD_EDGES_SQL},
    {_LPA_ROUND.format(k=1, prev=0)},
    {_LPA_ROUND.format(k=2, prev=1)},
    {_LPA_ROUND.format(k=3, prev=2)},
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    deg AS (
      SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
      FROM sym GROUP BY 1
    ),
    comm AS (
      SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.deg) AS BIGINT) AS vol
      FROM l3 l JOIN deg d ON d.id = l.id GROUP BY l.label
    ),
    lab AS (
      SELECT e.src, e.dst, a.label AS la, b.label AS lb
      FROM e0 e JOIN l3 a ON a.id = e.src JOIN l3 b ON b.id = e.dst
    ),
    cut AS (
      SELECT label, CAST(count(*) AS BIGINT) AS cut FROM (
        SELECT la AS label FROM lab WHERE la <> lb
        UNION ALL
        SELECT lb AS label FROM lab WHERE la <> lb
      ) GROUP BY label
    )
    SELECT c.label, c.n_nodes, c.vol,
      coalesce(t.cut, 0) AS cut,
      CAST(CASE
        WHEN least(c.vol, 2 * mm.m - c.vol) = 0 THEN 0
        ELSE (1000000 * coalesce(t.cut, 0))
               // least(c.vol, 2 * mm.m - c.vol)
      END AS BIGINT) AS phi_ppm
    FROM comm c LEFT JOIN cut t ON t.label = c.label
    CROSS JOIN mm
    ORDER BY c.n_nodes DESC, c.label
    LIMIT 20
    """,
    doc="Per-community CONDUCTANCE φ(C) = cut(C)/min(vol(C), 2m−vol(C)) "
    "of the 3-round LPA partition over the co-purchase graph, for the "
    "20 largest communities — the boundary-quality complement to "
    "graph_modularity's global Q (a partition can score a decent Q "
    "while individual communities leak; φ reads per community and is "
    "the standard seed-set/community-detection quality in the local "
    "graph-clustering literature). Exact integers end-to-end: vol from "
    "the degree agg, cut by counting label-discordant edges into BOTH "
    "end communities (one union-all keyed agg), φ as floor-div ppm "
    "with the min(vol, 2m−vol) denominator guarded at 0 — identical "
    "BIGINT arithmetic in both engines, no ratio ever a float. "
    "Deterministic top-k: ORDER BY n_nodes DESC, label. Scale shape: "
    "LPA is the iterative part (shared with modularity/Louvain); the "
    "overlay is one (id,label)⋈edges join + two keyed aggs + a "
    "broadcast 1-row m scalar — no new shuffle class.",
)
def graph_conductance(spark: SparkSession, sf: str) -> DataFrame:
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
    labels = label_propagation(e0, num_iters=3).localCheckpoint(eager=True)
    sym = e0.select("src").unionAll(e0.select(F.col("dst").alias("src")))
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    mm = e0.agg(F.count(F.lit(1)).cast("long").alias("m"))
    comm = (
        labels.join(deg, "id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("vol"),
        )
    )
    lab = (
        e0.join(
            labels.select(F.col("id").alias("src"), F.col("label").alias("la")),
            "src",
        )
        .join(
            labels.select(F.col("id").alias("dst"), F.col("label").alias("lb")),
            "dst",
        )
        .filter(F.col("la") != F.col("lb"))
    )
    cut = (
        lab.select(F.col("la").alias("label"))
        .unionAll(lab.select(F.col("lb").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("cut"))
    )
    return (
        comm.join(cut, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "label",
            "n_nodes",
            "vol",
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.expr(
                "CAST(CASE WHEN least(vol, 2 * m - vol) = 0 THEN 0 "
                "ELSE (1000000 * coalesce(cut, 0))"
                " div least(vol, 2 * m - vol) END AS BIGINT)"
            ).alias("phi_ppm"),
        )
        .orderBy(F.col("n_nodes").desc(), "label")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Incremental triangle count (delta maintenance on the co-purchase graph)
# ---------------------------------------------------------------------------

_TD_MOD = 5  # (pa + pb) % 5 == 0 -> the ~20% "appended" co-purchase batch


@register(
    "graph_triangle_delta",
    oracle=f"""
    WITH e0 AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 2 = 0
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    em AS MATERIALIZED (
      SELECT pa, pb, (pa + pb) % {_TD_MOD} = 0 AS is_b FROM e0
    ),
    base_e AS MATERIALIZED (SELECT pa, pb FROM em WHERE NOT is_b),
    tri_full AS (
      SELECT CAST(count(*) AS BIGINT) AS c
      FROM em e1
      JOIN em e2 ON e2.pa = e1.pb
      JOIN em e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    tri_base AS (
      SELECT CAST(count(*) AS BIGINT) AS c
      FROM base_e e1
      JOIN base_e e2 ON e2.pa = e1.pb
      JOIN base_e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    es AS MATERIALIZED (
      SELECT pa AS u, pb AS v, is_b FROM em
      UNION ALL SELECT pb, pa, is_b FROM em
    ),
    inc AS (
      SELECT 1 + CAST(n1.is_b AS INT) + CAST(n2.is_b AS INT) AS nb
      FROM em b
      JOIN es n1 ON n1.u = b.pa AND n1.v <> b.pb
      JOIN es n2 ON n2.u = b.pb AND n2.v = n1.v
      WHERE b.is_b
    ),
    cls AS (
      SELECT nb, CAST(count(*) AS BIGINT) AS inc_rows
      FROM inc GROUP BY nb
    )
    SELECT
      (SELECT c FROM tri_base) AS n_tri_base,
      (SELECT c FROM tri_full) AS n_tri_full,
      (SELECT c FROM tri_full) - (SELECT c FROM tri_base) AS delta_direct,
      CAST(coalesce((SELECT inc_rows FROM cls WHERE nb = 1), 0)
           AS BIGINT) AS tri_1batch,
      CAST(coalesce((SELECT inc_rows FROM cls WHERE nb = 2), 0) // 2
           AS BIGINT) AS tri_2batch,
      CAST(coalesce((SELECT inc_rows FROM cls WHERE nb = 3), 0) // 3
           AS BIGINT) AS tri_3batch,
      CAST(coalesce((SELECT inc_rows FROM cls WHERE nb = 1), 0)
         + coalesce((SELECT inc_rows FROM cls WHERE nb = 2), 0) // 2
         + coalesce((SELECT inc_rows FROM cls WHERE nb = 3), 0) // 3
           AS BIGINT) AS delta_incremental,
      (SELECT c FROM tri_full) - (SELECT c FROM tri_base)
        = coalesce((SELECT inc_rows FROM cls WHERE nb = 1), 0)
        + coalesce((SELECT inc_rows FROM cls WHERE nb = 2), 0) // 2
        + coalesce((SELECT inc_rows FROM cls WHERE nb = 3), 0) // 3
        AS identity_ok
    """,
    doc="INCREMENTAL TRIANGLE COUNT — extends the incremental family "
    "(pagerank/CC/temporal-reach deltas are label fixpoints; this is "
    "the SUBGRAPH-COUNTING shape) on the co-purchase projection "
    "(parts sharing >= 2 half-sampled orders, the "
    f"graph_ktruss_copurchase graph): a ~{100 // _TD_MOD}% edge batch "
    f"((pa+pb) % {_TD_MOD} == 0) appends, and the new-triangle count "
    "is maintained WITHOUT re-enumerating base-only triangles — the "
    "work is one wedge join seeded from the BATCH edges only (each "
    "batch edge joined against the full symmetric adjacency for "
    "common neighbors), so cost scales with batch-incident wedges, "
    "never the whole graph's triangle set. A triangle containing j "
    "batch edges is hit once per batch edge, so the batch-driven "
    "enumeration counts it j times; classifying each hit by "
    "nb = 1 + flag(u,w) + flag(v,w) and dividing class j by j "
    "(exact integer division — the multiplicity is structural) "
    "recovers the per-class triangle counts, and "
    "delta_incremental = t1 + t2 + t3. The inclusion identity "
    "delta_incremental == n_tri_full - n_tri_base is computed "
    "independently on BOTH engines and shipped as identity_ok — the "
    "direct counts are the in-output verification anchor (the "
    "recall-curve brute-anchor discipline). All canonical-pair "
    "equi-joins, never all-pairs.",
)
def graph_triangle_delta(spark: SparkSession, sf: str) -> DataFrame:
    l = (
        table(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 2 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = l.alias("a"), l.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("pa", "pb")
    )
    em = e0.withColumn(
        "is_b", ((F.col("pa") + F.col("pb")) % _TD_MOD) == 0
    ).localCheckpoint(eager=True)
    base_e = em.filter(~F.col("is_b")).select("pa", "pb")

    def tri_count(e: DataFrame) -> DataFrame:
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        return (
            e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
            .join(
                e3,
                (F.col("e3.pa") == F.col("e1.pa"))
                & (F.col("e3.pb") == F.col("e2.pb")),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    tri_full = tri_count(em.select("pa", "pb")).withColumnRenamed(
        "c", "n_tri_full"
    )
    tri_base = tri_count(base_e).withColumnRenamed("c", "n_tri_base")

    es = em.select(
        F.col("pa").alias("u"), F.col("pb").alias("v"), "is_b"
    ).unionByName(
        em.select(F.col("pb").alias("u"), F.col("pa").alias("v"), "is_b")
    )
    batch = em.filter(F.col("is_b")).select("pa", "pb")
    n1 = es.select(
        F.col("u").alias("u1"), F.col("v").alias("w1"), F.col("is_b").alias("b1")
    )
    n2 = es.select(
        F.col("u").alias("u2"), F.col("v").alias("w2"), F.col("is_b").alias("b2")
    )
    inc = (
        batch.join(n1, (F.col("u1") == F.col("pa")) & (F.col("w1") != F.col("pb")))
        .join(n2, (F.col("u2") == F.col("pb")) & (F.col("w2") == F.col("w1")))
        .select(
            (
                F.lit(1)
                + F.col("b1").cast("int")
                + F.col("b2").cast("int")
            ).alias("nb")
        )
    )
    cls = inc.groupBy("nb").agg(F.count(F.lit(1)).cast("long").alias("inc_rows"))
    t = (
        cls.agg(
            F.coalesce(
                F.sum(F.when(F.col("nb") == 1, F.col("inc_rows"))), F.lit(0)
            ).cast("long").alias("tri_1batch"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("nb") == 2, F.col("inc_rows"))),
                    F.lit(0),
                )
                / 2
            ).cast("long").alias("tri_2batch"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("nb") == 3, F.col("inc_rows"))),
                    F.lit(0),
                )
                / 3
            ).cast("long").alias("tri_3batch"),
        )
    )
    # 1-row x 1-row crossJoins (test_plans._BNLJ_OK).
    return (
        tri_base.crossJoin(tri_full)
        .crossJoin(t)
        .select(
            "n_tri_base",
            "n_tri_full",
            (F.col("n_tri_full") - F.col("n_tri_base")).alias("delta_direct"),
            "tri_1batch",
            "tri_2batch",
            "tri_3batch",
            (
                F.col("tri_1batch") + F.col("tri_2batch") + F.col("tri_3batch")
            ).alias("delta_incremental"),
            (
                F.col("n_tri_full") - F.col("n_tri_base")
                == F.col("tri_1batch")
                + F.col("tri_2batch")
                + F.col("tri_3batch")
            ).alias("identity_ok"),
        )
    )
