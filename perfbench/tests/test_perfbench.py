"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.mark.parametrize("n", [5, 12])
def test_grid_closed_forms_match_bfs(n):
    adj = checks.adjacency(checks.grid_edges(n))
    rng = random.Random(n)
    for _ in range(40):
        src, dst, hops = rng.randrange(n * n), rng.randrange(n * n), rng.randrange(1, 2 * n)
        assert checks.grid_khop_count(n, src, hops) == checks.khop_count(adj, src, hops)
        assert checks.grid_distance(n, src, dst) == checks.bfs_dist(adj, src).get(dst)


def test_khop_counts_root_on_a_cycle():
    adj = checks.adjacency([(0, 1), (1, 2), (2, 0)])
    assert checks.khop_count(adj, 0, 2) == 2
    assert checks.khop_count(adj, 0, 3) == 3


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_row_orders_are_permutations(seed):
    base = gen.base_tables(0.002)
    for name, perm in gen.row_orders(seed, base).items():
        n = len(next(iter(base[name].values())))
        assert sorted(perm.tolist()) == list(range(n))
        if seed == 0:
            assert perm.tolist() == list(range(n))


def test_seeded_tables_hold_the_same_rows_and_links():
    base = gen.base_tables(0.002)
    t = gen.reorder(base, gen.row_orders(5, base))
    for name, cols in base.items():
        def rows(tbl):
            return sorted(zip(*(map(repr, np.asarray(v).tolist()) for v in tbl.values())))
        assert rows(t[name]) == rows(cols)
    fk = [("orders", "o_custkey", "customer", "c_custkey"),
          ("lineitem", "l_orderkey", "orders", "o_orderkey"),
          ("lineitem", "l_partkey", "part", "p_partkey"),
          ("lineitem", "l_suppkey", "supplier", "s_suppkey")]
    for child, col, parent, pk in fk:
        assert set(np.asarray(t[child][col])) <= set(np.asarray(t[parent][pk]))
    assert (np.asarray(t["orders"]["o_orderkey"]) != np.asarray(base["orders"]["o_orderkey"])).any()


def test_same_seed_gives_identical_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write(str(a), 0.002, 3)
    gen.write(str(b), 0.002, 3)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 10
    for name in names:
        assert (a / name).read_bytes() == (b / name).read_bytes()
    gen.write(str(tmp_path / "c"), 0.002, 4)
    assert (a / "orders.parquet").read_bytes() != (tmp_path / "c" / "orders.parquet").read_bytes()


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layers = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert e2e == list(worker.END_TO_END.items())
    assert layers == worker.per_layer_names()
    assert len(e2e) <= 16 and len(layers) <= 128
    names = [n for n, _ in e2e + layers] + [w["name"] for w in spec["workloads"]]
    assert len(set(names)) == len(names)
    assert all(NAME.match(n) for n in names)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_layer_metrics_cover_every_name_and_read_zero_when_unused():
    pr = {m: 1.0 for m in worker.ITER_METRICS}
    pr.update(name="graph_queries.graph_pagerank_incremental", jobs=62)
    out = worker.layer_metrics([[{
        "name": "graph.api.traverse_after_write", "wall_s": 2.0, "jobs": 40,
        "driver_gap_s": 0.5,
    }, pr], [dict(pr, jobs=64)], [dict(pr, jobs=63)]])
    assert list(out) == [n for n, _ in worker.per_layer_names()]
    assert out["graph.api.traverse_after_write.jobs_per_call"] == 40
    assert out["graph.traversal.distributed_share"] == 1.0
    assert out["graph_queries.graph_pagerank_incremental.jobs"] == 63
    assert out["graph_queries.graph_cc_incremental.jobs"] == 0


def test_run_fails_without_the_library(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "graph_iterative",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
