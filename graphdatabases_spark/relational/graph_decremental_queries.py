"""Edge-DELETION repair of the symmetry-breaking kernels (SURVEY §2.2
graph analytics, the incremental family — round-14 queue #2).

The other direction of the dynamic contract: where the incremental
entries repair after an edge-batch APPEND, these repair after a batch
DELETE — deleting a true/matched element frees its neighbors, and the
same priority-DAG predicate-flip cascade applies with the seed being
the freed dependents (lower-priority neighbors of deleted-TRUE
elements).  Both entries share their repair with their append
siblings in graph_incremental_queries — `_mis_repair` and
`_matching_repair`, each one numpy body on the driver or in one
executor task: one cascade, both directions — and both
oracles value-check warm == cold by unrolling the cold fixpoint of the
PRUNED graph next to the cold fixpoint of the full graph (the same two
graphs the append entries unroll with roles swapped, so the unroll
constants are already fixpoint-validated at every swept sf by the
r13 sweeps).

Reference parity: the reference (eragon2404/GraphDatabases) has no
dynamic-graph operator; these are engine-widening entries completing
insert/delete symmetry for the incremental family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from graphdatabases_spark.relational.catalog import register
from graphdatabases_spark.relational.graph_incremental_queries import (
    _MI_MOD,
    _MI_ROUNDS,
    _MMI_ROUNDS,
    _mat_row_schema,
    _matching_repair,
    _mi_round_sql,
    _mis_repair,
    _mis_row_schema,
    _mmi_round_sql,
)
from graphdatabases_spark.relational.graph_queries import ENTITY_EDGES_SQL

# ---------------------------------------------------------------------------
# MIS repair after an edge-batch DELETE
# ---------------------------------------------------------------------------


_MIS_DEC_SCHEMA = _mis_row_schema("n_kept_edges", "n_deleted_edges")


def _mde_mis_union(tag: str) -> str:
    return " UNION ALL ".join(
        f"SELECT id FROM {tag}w{k}" for k in range(1, _MI_ROUNDS + 1)
    )


@register(
    "graph_mis_decremental",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    psym AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    qsym AS MATERIALIZED (
      SELECT src, dst FROM psym WHERE (src + dst) % {_MI_MOD} <> 0
    ),
    pu0 AS MATERIALIZED (
      SELECT DISTINCT src AS id,
        ('0x' || substr(md5('mis' || src), 1, 12))::BIGINT AS h
      FROM psym
    ),
    -- deletion keeps the VERTEX set: the pruned-graph unroll runs
    -- over the FULL vertex relation (isolated survivors win round 1)
    qu0 AS MATERIALIZED (SELECT id, h FROM pu0),
    {",".join(_mi_round_sql("p", k) for k in range(1, _MI_ROUNDS + 1))},
    {",".join(_mi_round_sql("q", k) for k in range(1, _MI_ROUNDS + 1))},
    pmis AS MATERIALIZED ({_mde_mis_union("p")}),
    qmis AS MATERIALIZED ({_mde_mis_union("q")}),
    flips AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM (
        SELECT id FROM pmis WHERE id NOT IN (SELECT id FROM qmis)
        UNION ALL
        SELECT id FROM qmis WHERE id NOT IN (SELECT id FROM pmis)
      )
    ),
    indep AS (
      SELECT CAST(count(*) AS BIGINT) AS viol
      FROM qsym s JOIN qmis a ON a.id = s.src JOIN qmis b ON b.id = s.dst
    ),
    uncov AS (
      SELECT CAST(count(*) AS BIGINT) AS viol
      FROM pu0 v
      WHERE NOT EXISTS (SELECT 1 FROM qmis m WHERE m.id = v.id)
        AND NOT EXISTS (
          SELECT 1 FROM qsym s JOIN qmis m ON m.id = s.dst
          WHERE s.src = v.id
        )
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM pu0) AS n_vertices,
      (SELECT CAST(count(*) AS BIGINT) FROM edges
        WHERE (src + dst) % {_MI_MOD} <> 0) AS n_kept_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM edges
        WHERE (src + dst) % {_MI_MOD} = 0) AS n_deleted_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM pmis) AS base_mis_size,
      (SELECT CAST(sum(id) AS BIGINT) FROM pmis) AS base_sum_ids,
      (SELECT CAST(count(*) AS BIGINT) FROM qmis) AS warm_mis_size,
      (SELECT CAST(sum(id) AS BIGINT) FROM qmis) AS warm_sum_ids,
      (SELECT n FROM flips) AS n_flipped,
      (SELECT viol FROM indep) = 0 AS independent,
      (SELECT viol FROM uncov) = 0 AS maximal,
      (SELECT count(*) FROM pu{_MI_ROUNDS})
        + (SELECT count(*) FROM qu{_MI_ROUNDS}) = 0 AS converged
    """,
    doc="MIS REPAIR AFTER AN EDGE-BATCH DELETE — the deletion "
    "direction of graph_mis_incremental, completing insert/delete "
    "symmetry for the vertex-side cascade: run the fixed-priority MIS "
    f"kernel cold on the FULL entity graph, delete the ~{100 // _MI_MOD}"
    f"% batch ((src + dst) % {_MI_MOD} == 0), then repair by the same "
    "priority-DAG chaotic relaxation over the PRUNED adjacency. "
    "Dirty seed = the freed dependents only: for each deleted edge, "
    "the lower-priority endpoint, and only when the higher-priority "
    "endpoint was base-TRUE (a false or lower-priority neighbor's "
    "removal cannot change blocked()) — the deletion mirror of the "
    "append entry's batch-new/true-higher-priority seed filter. The "
    "vertex set is UNCHANGED by edge deletion: a vertex isolated by "
    "the delete stays and (if uncovered) cascades into the MIS. The "
    "oracle value-checks warm == cold by unrolling the cold fixpoint "
    "of the pruned graph over the full vertex set next to the full "
    "graph's — the same two graphs the append oracle unrolls with "
    "roles swapped, so the unroll constants are already fixpoint-"
    "validated at every swept sf. Output: base/warm sizes and "
    "membership checksums, the flip count, and independence/"
    "maximality proofs on the pruned graph, computed on both engines; "
    "pure-Python replay pin in tests/test_round14_graph.py. Scale "
    "shape: the append entry's (one _mis_repair, two edge masks): the "
    "whole entry is one numpy body over the Arrow edge table, on the "
    "driver when the symmetric relation fits _SYM_LOCAL_EDGE_MAX rows "
    "and in one executor task above it, 3 Spark jobs either way "
    "with the count.",
)
def graph_mis_decremental(spark: SparkSession, sf: str) -> DataFrame:
    return _mis_repair(spark, sf, delete=True, schema=_MIS_DEC_SCHEMA)


# ---------------------------------------------------------------------------
# Maximal-matching repair after an edge-batch DELETE
# ---------------------------------------------------------------------------


_MAT_DEC_SCHEMA = _mat_row_schema("n_kept_edges", "n_deleted_edges")


def _mde_mat_union(tag: str) -> str:
    return " UNION ALL ".join(
        f"SELECT src, dst FROM {tag}m{k}" for k in range(1, _MMI_ROUNDS + 1)
    )


@register(
    "graph_matching_decremental",
    oracle=f"""
    WITH {ENTITY_EDGES_SQL},
    pg0 AS MATERIALIZED (
      SELECT src, dst,
        ('0x' || substr(md5('mat' || src || ':' || dst), 1, 12))::BIGINT
          * 32768 + (src * 31 + dst) % 32768 AS h
      FROM edges
    ),
    qg0 AS MATERIALIZED (
      SELECT src, dst, h FROM pg0 WHERE (src + dst) % {_MI_MOD} <> 0
    ),
    {",".join(_mmi_round_sql("p", k) for k in range(1, _MMI_ROUNDS + 1))},
    {",".join(_mmi_round_sql("q", k) for k in range(1, _MMI_ROUNDS + 1))},
    pmat AS MATERIALIZED ({_mde_mat_union("p")}),
    qmat AS MATERIALIZED ({_mde_mat_union("q")}),
    changes AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM (
        SELECT src, dst FROM pmat
        EXCEPT SELECT src, dst FROM qmat
        UNION ALL
        (SELECT src, dst FROM qmat EXCEPT SELECT src, dst FROM pmat)
      )
    ),
    conflict AS (
      SELECT CAST(count(*) AS BIGINT) AS viol FROM (
        SELECT v FROM (
          SELECT src AS v FROM qmat UNION ALL SELECT dst FROM qmat
        ) GROUP BY v HAVING count(*) > 1
      )
    ),
    qmv AS MATERIALIZED (
      SELECT src AS v FROM qmat UNION SELECT dst FROM qmat
    ),
    freeedge AS (
      SELECT CAST(count(*) AS BIGINT) AS viol FROM qg0 e
      WHERE NOT EXISTS (SELECT 1 FROM qmv x WHERE x.v = e.src)
        AND NOT EXISTS (SELECT 1 FROM qmv x WHERE x.v = e.dst)
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM pg0) AS n_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM qg0) AS n_kept_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM pg0
        WHERE (src + dst) % {_MI_MOD} = 0) AS n_deleted_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM pmat) AS base_matching_size,
      (SELECT CAST(sum(src + dst) AS BIGINT) FROM pmat) AS base_sum_ids,
      (SELECT CAST(count(*) AS BIGINT) FROM qmat) AS warm_matching_size,
      (SELECT CAST(sum(src + dst) AS BIGINT) FROM qmat) AS warm_sum_ids,
      (SELECT n FROM changes) AS n_changed_edges,
      (SELECT viol FROM conflict) = 0 AS is_matching,
      (SELECT viol FROM freeedge) = 0 AS maximal,
      (SELECT count(*) FROM pg{_MMI_ROUNDS})
        + (SELECT count(*) FROM qg{_MMI_ROUNDS}) = 0 AS converged
    """,
    doc="MAXIMAL-MATCHING REPAIR AFTER AN EDGE-BATCH DELETE — "
    "graph_matching_incremental's deletion mirror, completing "
    "insert/delete symmetry on the line-graph cascade: cold "
    "fixed-priority greedy matching on the FULL entity graph, delete "
    f"the ~{100 // _MI_MOD}% batch ((src + dst) % {_MI_MOD} == 0), "
    "then repair over the KEPT edge universe. Deleted edges leave the "
    "universe entirely (a deleted matched edge simply stops blocking); "
    "dirty seed = kept edges adjacent to a deleted-TRUE edge with "
    "LOWER priority than it — exactly the dependents whose "
    "count-of-smaller-true-h predicate lost a term (a deleted FALSE "
    "edge changes no dependency; higher-priority adjacents never read "
    "lower-priority state). The freed-endpoint cascade (a vertex "
    "whose match was deleted re-matches its next free neighbor, "
    "possibly kicking a lower-priority match, which frees another "
    "vertex...) is exactly the flip propagation of the shared "
    "_matching_repair. The oracle value-checks warm == cold by "
    "unrolling the cold rounds on the full and pruned graphs side by "
    "side (the same graph pair as the append oracle, roles swapped); "
    "n_changed_edges counts |full-cold Δ pruned-cold| — deleted "
    "matched edges count as changes. Proofs (no endpoint conflict, "
    "no free edge) on the kept graph, both engines; pure-Python "
    "replay pin in tests/test_round14_graph.py. Scale shape: the "
    "append entry's (one _matching_repair, two edge universes): the "
    "whole entry is one numpy body over the Arrow edge table, on the "
    "driver under _SYM_LOCAL_EDGE_MAX // 2 edge rows and in one "
    "executor task above it, 3 Spark jobs either way with the count.",
)
def graph_matching_decremental(spark: SparkSession, sf: str) -> DataFrame:
    return _matching_repair(spark, sf, delete=True, b=1, schema=_MAT_DEC_SCHEMA)
