"""Capture .explain('formatted') for the round-14-touched queries.

Two kinds of evidence land in plans/r14/:

1. ``<entry>_<tag>.txt`` — the final result frame of each touched
   catalog entry at sf0.1.  For the loop-driven kernels this frame is
   mostly checkpoint scans, so additionally:
2. ``kernel_<name>_<tag>.txt`` — the PER-ROUND / PER-BLOCK subplans
   where the optimization actually lives (BFS block, pagerank round,
   LPA round): these show the join strategy (BroadcastHashJoin vs
   SortMergeJoin) and Exchange counts the round pays.

Usage: python tools/capture_plans_r14.py <tag> [repo_root]
Run once with tag=before from a worktree at the pre-optimization
commit, once with tag=after from the optimized tree; plans always land
in the MAIN repo's plans/r14/.
"""

from __future__ import annotations

import os
import sys

TAG = sys.argv[1]
ROOT = sys.argv[2] if len(sys.argv) > 2 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
sys.path.insert(0, ROOT)

OUT = "/root/repo/plans/r14"
SF = "/root/testdata/sf0.1"

ENTRIES = [
    "graph_random_walks",
    "graph_node2vec_walks",
    "graph_pagerank_incremental",
    "graph_coloring_mis",
    "graph_mis_luby",
    "graph_bmatching_greedy",
    "graph_mis_incremental",
    "graph_mis_decremental",
    "graph_matching_greedy",
    "graph_matching_incremental",
    "graph_louvain_onepass",
    "graph_louvain_multilevel",
    "graph_modularity",
    "graph_label_propagation",
    "graph_connected_components",
    "graph_cc_incremental",
    "docs_tok_kll_store_replan",
]


def explain_formatted(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    from graphdatabases_spark import get_spark
    from graphdatabases_spark.relational import queries
    from pyspark.sql import functions as F

    spark = get_spark(
        app_name=f"plans-r14-{TAG}", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    for name in ([] if os.environ.get("KERNELS_ONLY") else ENTRIES):
        try:
            df = qs[name](spark, SF)
            with open(f"{OUT}/{name}_{TAG}.txt", "w") as f:
                f.write(explain_formatted(df))
            print(f"ok {name}", flush=True)
        except Exception as e:  # pragma: no cover
            print(f"FAIL {name}: {e!r}", flush=True)

    # ---- kernel-level subplans -------------------------------------
    # BFS: what ONE materialization unit looks like (a single hop
    # before r14; a k-hop block after).
    from graphdatabases_spark.graph import grid_graph
    from graphdatabases_spark.graph import traversal as T

    g = grid_graph(spark, 300)
    edges = g.edges.select("src", "dst")
    sides = T._EdgeSides(edges)
    try:
        frontier = spark.createDataFrame([(1, 0)], T.DIST_SCHEMA)
        visited = frontier
        f = frontier.select("id")
        blk = None
        k = getattr(T, "_BLOCK_MAX_HOPS", 1)
        for i in range(1, k + 1):
            nf = (
                sides.join_frontier(f, 10)
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(visited, "id", "left_anti")
                .select(F.col("id"), F.lit(i).cast("int").alias("dist"))
            )
            blk = nf if blk is None else blk.unionByName(nf)
            f = nf.select("id")
        if k > 1:
            blk = blk.groupBy("id").agg(F.min("dist").alias("dist"))
        with open(f"{OUT}/kernel_bfs_block_{TAG}.txt", "w") as fh:
            fh.write(f"# one BFS materialization unit = {k} hop(s)\n")
            fh.write(explain_formatted(blk))
    finally:
        sides.release()

    # pagerank / LPA: one ROUND's lazy plan — localCheckpoint is
    # patched to identity during these two captures so the kernels
    # return the round's join/agg tree instead of a checkpoint scan
    # (explain only; the loop body runs no mid-round actions at
    # num_iters=1 beyond the vertex count).
    # Spark 4: concrete frames are pyspark.sql.classic.dataframe.DataFrame,
    # which overrides the base class — patch the concrete class.
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    _orig_ckpt = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self

    from graphdatabases_spark.relational.graph_queries import entity_edges
    from graphdatabases_spark.graph.algorithms import pagerank_units

    ranks = pagerank_units(
        entity_edges(spark, SF, dedup=True), num_iters=1, strategy="distributed"
    )
    with open(f"{OUT}/kernel_pagerank_round_{TAG}.txt", "w") as fh:
        fh.write(explain_formatted(ranks))

    # LPA: one round over the co-purchase graph.
    from graphdatabases_spark.graph.algorithms import label_propagation
    from graphdatabases_spark.relational.catalog import table

    l = (
        table(spark, SF, "lineitem")
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
    lab = label_propagation(e0, num_iters=1)
    with open(f"{OUT}/kernel_lpa_round_{TAG}.txt", "w") as fh:
        fh.write(explain_formatted(lab))
    _DF.localCheckpoint = _orig_ckpt
    print("kernel plans done", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
