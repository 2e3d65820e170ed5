"""Whole-entry numpy hosts of the ``graph_iterative`` entries.

* ``graph_pagerank_incremental``, ``graph_cc_incremental``, the MIS
  append and deletion repair entries and the three matching repair
  entries each run one numpy body over one Arrow edge table
  (``graph_queries._numpy_entry``): on the driver under the entry's
  bound and in one executor task above it. Both hosts return the same
  rows and leave nothing persisted behind, the edge checkpoint
  included.
* The matching repair body, fuzzed: on random small multigraphs with
  a hub, self-loops and duplicate pairs, for capacities 1 and 3, on
  append and on delete, repairing from the base fixpoint gives the
  cold greedy of the warm graph.
* The Python worker of the task host imports the package from any
  working directory, with ``PYTHONPATH`` unset.
* A table read after the first one supplies the cached schema, so it
  runs no schema-inference job; a rewritten file is inferred again.
* A job budget per entry and host: a change that puts Spark work back
  into one of these entries fails here instead of silently costing
  tens of Spark jobs. (``pagerank_units`` local vs distributed vs the
  replay is pinned in ``test_round11_graph.py``; the local CC kernel
  in ``test_algorithms.py::TestLocalDistributedEquivalence``.)
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import uuid
from collections import Counter

import pytest

import graphdatabases_spark
from graphdatabases_spark.relational import (
    graph_incremental_queries,
    graph_queries,
    queries,
)
from graphdatabases_spark.relational.catalog import table
from graphdatabases_spark.relational.graph_queries import entity_edges

from tests.test_algorithms import _persisted_rdd_ids
from tests.test_round13_graph import SF_SMALL

_ENTRIES = [
    "graph_bmatching_incremental",
    "graph_cc_incremental",
    "graph_matching_decremental",
    "graph_matching_incremental",
    "graph_mis_decremental",
    "graph_mis_incremental",
    "graph_pagerank_incremental",
]


def _task_host(monkeypatch) -> None:
    """Every entry's driver bound at 0, so each body runs in a task."""
    monkeypatch.setattr(graph_queries, "LOCAL_EDGE_THRESHOLD", 0)
    monkeypatch.setattr(graph_incremental_queries, "_SYM_LOCAL_EDGE_MAX", 0)


def _jobs(spark, fn) -> int:
    """The Spark jobs that ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    # The status store is fed asynchronously: empty the bus first.
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", _ENTRIES)
def test_local_cascade_equals_distributed(spark, monkeypatch, name):
    """The body runs on the driver on the default run; with the driver
    bounds at 0 it runs in one executor task instead, and both hosts
    return the same rows. Neither leaves a persisted RDD behind, not
    even the edge checkpoint."""
    calls = []
    task_frame = graph_queries._task_frame

    def spy(*args, **kwargs):
        calls.append(1)
        return task_frame(*args, **kwargs)

    monkeypatch.setattr(graph_queries, "_task_frame", spy)
    before = _persisted_rdd_ids(spark)
    driver = queries()[name](spark, SF_SMALL).collect()
    assert calls == []
    _task_host(monkeypatch)
    task = queries()[name](spark, SF_SMALL).collect()
    assert calls == [1]
    assert _persisted_rdd_ids(spark) - before == set()
    assert driver and driver == task
    row = driver[0].asDict()
    proofs = ("independent", "is_matching", "feasible", "maximal")
    assert all(row[c] for c in proofs if c in row)


def _greedy(pairs, b, prio) -> set:
    """The sequential capacity greedy in (prio, src, dst) order."""
    cap: dict[int, int] = {}
    taken = set()
    for _p, s, d in sorted((prio[e], *e) for e in pairs):
        if cap.get(s, b) > 0 and cap.get(d, b) > 0:
            taken.add((s, d))
            cap[s] = cap.get(s, b) - 1
            cap[d] = cap.get(d, b) - 1
    return taken


@pytest.mark.parametrize("b", [1, 3])
@pytest.mark.parametrize("delete", [False, True])
def test_matching_repair_equals_cold_greedy_fuzz(delete, b):
    """The matching repair body on random small multigraphs (a hub,
    self-loops, duplicate pairs, priority ties): its base and warm
    states, read through the result row, are the cold sequential greedy
    of the base and the warm graph. Ids are multiples of 5, so about a
    quarter of the pairs fall in the batch."""
    import pyarrow as pa

    from graphdatabases_spark.relational.graph_incremental_queries import (
        _MI_MOD,
        _matching_repair_local,
    )

    rng = random.Random(2 * b + delete)
    for trial in range(300):
        pool = rng.sample(range(0, 400, 5), rng.randint(2, 10))
        rows = [
            (pool[0] if rng.random() < 0.4 else rng.choice(pool), rng.choice(pool))
            for _ in range(rng.randint(1, 40))
        ]
        rows += rng.sample(rows, len(rows) // 4)
        pairs = set(rows)
        prio = {e: rng.randrange(30) for e in pairs}
        weight = {e: rng.randint(1, 100) for e in pairs}
        cols = {"src": [s for s, _ in rows], "dst": [d for _, d in rows],
                "h": [prio[e] for e in rows]}
        if b > 1:
            cols["w"] = [weight[e] for e in rows]
        row = _matching_repair_local(pa.table(cols), delete=delete, b=b)[0]

        batch = {e for e in pairs if sum(e) % _MI_MOD == 0}
        base_g, warm_g = (pairs, pairs - batch) if delete else (pairs - batch, pairs)
        base, warm = _greedy(base_g, b, prio), _greedy(warm_g, b, prio)

        def side(taken):
            sums = ([sum(weight[e] for e in taken)] if b > 1 else []) + [
                sum(map(sum, taken))
            ]
            return [len(taken)] + [x if taken else None for x in sums]

        deg = Counter(v for e in warm for v in e)
        expected = (
            len(pairs), len(pairs - batch), len(batch), *([b] if b > 1 else []),
            *side(base), *side(warm), len(base ^ warm),
            all(n <= b for n in deg.values()),
            all(deg[s] >= b or deg[d] >= b for s, d in warm_g - warm),
            True,
        )
        assert row == expected, (trial, rows)


def test_task_host_imports_package_from_any_directory(tmp_path):
    """get_spark puts the package root on the workers' PYTHONPATH: a
    driver that found the package through ``sys.path`` alone, run from
    another directory with PYTHONPATH unset, still gets its row from
    the executor task."""
    root = os.path.dirname(os.path.dirname(graphdatabases_spark.__file__))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from graphdatabases_spark import get_spark
from graphdatabases_spark.relational import graph_incremental_queries, queries
spark = get_spark(shuffle_partitions=2, driver_memory="1g")
graph_incremental_queries._SYM_LOCAL_EDGE_MAX = 0
rows = queries()["graph_mis_incremental"](spark, {SF_SMALL!r}).collect()
print("ROW", len(rows), rows[0]["independent"])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_OFFHEAP="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROW 1 True" in out.stdout.splitlines()


def test_table_schema_is_inferred_once_per_file_version(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["a"]
    assert _jobs(spark, lambda: table(spark, str(tmp_path), "t")) == 0
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


# Upper bounds on the Spark jobs of one build + count of each entry at
# sf0.001, one over the counts measured in the default test session (8
# shuffle partitions, 4 cores): 3 jobs for every entry on either host
# (``:task``: the driver bounds at 0, so the body runs in one executor
# task): the edge checkpoint, the Arrow collect (or the task) and the
# count of the one-partition result. As Spark compositions
# graph_pagerank_incremental ran 9 jobs and graph_cc_incremental 19;
# with the distributed loops they ran 62 and 56, and the MIS entries 97.
# The matching repair entries ran 61 (append), 68 (delete) and 58
# (b-matching) with their Spark compositions and cascades.
_JOB_BUDGET = {
    f"{name}{host}": 4 for name in _ENTRIES for host in ("", ":task")
}


@pytest.mark.parametrize("name", sorted(_JOB_BUDGET))
def test_entry_job_budget(spark, monkeypatch, name):
    entry, _, host = name.partition(":")
    if host == "task":
        _task_host(monkeypatch)
    entity_edges(spark, SF_SMALL, dedup=False)  # table schemas cached
    jobs = _jobs(spark, lambda: queries()[entry](spark, SF_SMALL).count())
    assert jobs <= _JOB_BUDGET[name], f"{name}: {jobs} Spark jobs"
