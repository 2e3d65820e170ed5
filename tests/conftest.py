from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from graphdatabases_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="graphdatabases-spark-tests",
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# ---------------------------------------------------------------------------
# `slow` marks (round 15, verdict item 1): the driver's verify window
# expired at ~76% of the full 41-minute suite, so the default run
# (pytest.ini: -m "not slow") excludes the heavy replay pins, goldens
# and robustness nets below — every one stays runnable (-m slow / -m "")
# and the full suite remains the round-close ritual.  Node-id SUBSTRING
# match, so a bare name marks all of a test's parametrizations and a
# class name marks the whole class.  Selection criterion: ≥ ~6 s
# individual wall in the round-15 --durations=0 record AND redundant
# with a faster test or an external gate (the oracle differentials the
# driver itself re-runs, quick pins in the same file); unique cheap
# gates (plan shapes, traversal counts, streaming semantics basics)
# stay in the default run regardless of cost.
_SLOW_TESTS = (
    "test_graph_api.py::TestMutation::test_many_flushes_keep_plan_bounded",
    "test_oracle_catalog.py::TestOracleSelfConsistency::test_kcore_oracle_unroll_reaches_fixpoint",
    "test_oracle_catalog.py::TestOracleSelfConsistency::test_no_oracle_emits_hugeint",
    "test_round9_ops.py::TestDsirWeights::test_selection_is_train_only_and_target_precise",
    "test_round9_ops.py::TestRetrievalMetrics::test_ceiling_and_probe_monotonicity",
    "test_concurrency.py::test_concurrent_queries_match_sequential",
    "test_harness.py::TestWorkloadGoldens::test_add_single_edge_chain",
    "test_harness.py::TestWorkloadGoldens::test_grid_traversal_and_spp",
    "test_harness.py::TestCli::test_cli_plot_flag_emits_plot",
    "test_harness.py::TestCli::test_cli_single_run_writes_bench_csv",
    "test_round11_graph.py::TestLouvainMultilevel::test_moves_at_sf001",
    "test_round12_graph.py::TestNode2vecWalks",
    "test_round12_graph.py::TestColoringMis::test_python_replay_and_first_class_is_mis",
    "test_round12_graph.py::TestTriangleDelta",
    "test_round12_graph.py::TestCcIncremental::test_warm_equals_cold_and_rounds",
    "test_round12_graph.py::TestCcIncremental::test_fixture_bridges",
    "test_round12_graph.py::TestMisLuby::test_sequential_greedy_equals_parallel_rounds",
    "test_round12_ops.py::TestKllQuantiles::test_python_replay_bit_exact",
    "test_round12_ops.py::TestMultiprobeRecall",
    "test_round14_graph.py::test_matching_deletion_repair_replay_equals_cold",
    "test_llm_ops.py::TestIvfRecallCurve::test_recall_monotone_in_nprobe",
    "test_batch6_pipeline.py::test_srp_band_pairs_subset_and_recall",
    "test_pipeline_queries.py::test_kmeans_partitions_input_and_reduces_inertia",
    "test_algorithms.py::TestStrictMaxIters::test_cc_default_warns_and_converged_run_is_silent",
    # The slowest oracle differentials (the driver's external verify
    # re-runs its own 50-entry oracle sample every round, so these six
    # keep external coverage; the other ~270 differentials stay in the
    # default run).
    "test_query_matches_oracle[events_holt_winters_hourly]",
    "test_query_matches_oracle[similarity_pq_recall]",
    "test_query_matches_oracle[docs_bpe_fertility]",
    "test_query_matches_oracle[similarity_multiprobe_recall]",
    "test_query_matches_oracle[similarity_truncation_recall]",
    "test_query_matches_oracle[similarity_ivfpq_recall]",
    # The heaviest all-knob partitioning-invariance params (the cheap
    # params of the same net stay default).
    "test_result_invariant_to_partitioning[graph_cc_incremental-all-knobs]",
    "test_result_invariant_to_partitioning[kmeans_embeddings-all-knobs]",
    "test_result_invariant_to_partitioning[graph_node2vec_walks-all-knobs]",
    "test_result_invariant_to_partitioning[graph_pagerank_incremental-all-knobs]",
    "test_result_invariant_to_partitioning[graph_anf_hyperball-all-knobs]",
    "test_result_invariant_to_partitioning[graph_harmonic_centrality-all-knobs]",
    # Heavy streaming scenario replays (the per-operator semantics tests
    # in the same file stay default).
    "test_streaming.py::TestChainedStatefulOperators::test_finalization_boundary_wm_minus_gap",
    "test_streaming.py::TestChainedStatefulOperators::test_join_feeding_windowed_agg_replay_equals_batch",
    "test_streaming.py::TestProcessingTimeTrigger::test_processing_time_trigger_state_inspection",
    "test_streaming.py::TestStreamStreamJoin::test_attribution_pairs_cross_micro_batches",
    "test_streaming.py::TestStreamStreamJoin::test_full_outer_emits_each_side_at_most_once",
    "test_streaming.py::TestBoundedSessionWindows::test_finalized_emit_late_drop_open_withheld",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if any(s in item.nodeid for s in _SLOW_TESTS):
            item.add_marker(pytest.mark.slow)
