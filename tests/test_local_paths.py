"""Small-graph local paths of the incremental PageRank, CC-quotient and
MIS-cascade loops.

* The MIS append and deletion repair entries return the same row from
  their whole-entry numpy body and from their distributed body.
* The quotient CC of ``graph_cc_incremental`` gives the same labels on
  both strategies, and the batch-size gate picks ``local`` at sf0.001.
* A job budget per entry: a future plan estimate that flips one of the
  loops back to distributed fails here instead of silently costing
  tens of Spark jobs. (``pagerank_units`` local vs distributed vs the
  replay is pinned in ``test_round11_graph.py``.)
"""

from __future__ import annotations

import uuid

import pytest

from graphdatabases_spark.graph.algorithms import connected_components
from graphdatabases_spark.graph.traversal import LOCAL_EDGE_THRESHOLD, _pick_strategy
from graphdatabases_spark.relational import graph_incremental_queries, queries
from graphdatabases_spark.relational.graph_queries import _cc_inc_quotient

from tests.test_round13_graph import SF_SMALL


@pytest.mark.parametrize("name", ["graph_mis_incremental", "graph_mis_decremental"])
def test_local_cascade_equals_distributed(spark, monkeypatch, name):
    """The whole-entry numpy body runs once on the default run; with the
    driver bound at 0 the distributed body runs without it, and both
    return the same row."""
    calls = []
    local_repair = graph_incremental_queries._mis_repair_local

    def spy(*args, **kwargs):
        calls.append(1)
        return local_repair(*args, **kwargs)

    monkeypatch.setattr(graph_incremental_queries, "_mis_repair_local", spy)
    local = queries()[name](spark, SF_SMALL).collect()
    assert len(calls) == 1
    monkeypatch.setattr(graph_incremental_queries, "_SYM_LOCAL_EDGE_MAX", 0)
    distributed = queries()[name](spark, SF_SMALL).collect()
    assert len(calls) == 1
    assert local == distributed
    assert local[0]["independent"] and local[0]["maximal"]


def test_quotient_cc_local_equals_distributed(spark):
    batch_e, _base_lab, qe = _cc_inc_quotient(spark, SF_SMALL)
    assert _pick_strategy(batch_e, "auto", LOCAL_EDGE_THRESHOLD) == "local"
    labels = {
        s: sorted(
            tuple(r)
            for r in connected_components(qe, strict=True, strategy=s).collect()
        )
        for s in ("local", "distributed")
    }
    assert labels["local"] and labels["local"] == labels["distributed"]


# Upper bounds on the Spark jobs of one build + count of each entry at
# sf0.001, at most about 25% over the counts measured in the default test
# session (8 shuffle partitions, 4 cores): 9 jobs for
# graph_pagerank_incremental, 19 for graph_cc_incremental and 7 for each
# MIS repair entry. With the distributed loops the first three ran 62, 56
# and 97; with only the MIS cascade on the driver the MIS entries ran 58
# (append) and 54 (delete).
_JOB_BUDGET = {
    "graph_pagerank_incremental": 11,
    "graph_cc_incremental": 24,
    "graph_mis_incremental": 8,
    "graph_mis_decremental": 8,
}


@pytest.mark.parametrize("name", sorted(_JOB_BUDGET))
def test_entry_job_budget(spark, name):
    sc = spark.sparkContext
    group = f"job-budget-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        queries()[name](spark, SF_SMALL).count()
    finally:
        sc._jsc.clearJobGroup()
    # The status store is fed asynchronously: empty the bus first.
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= _JOB_BUDGET[name], f"{name}: {jobs} Spark jobs"
