from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from webscale_multimodal_datapipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def _truthy(v: str | None) -> bool:
    return bool(v) and v.strip().lower() not in ("0", "false", "no")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running tier (property sweeps, scale probes, full-corpus "
        "parity) — skipped by default so the driver's budgeted "
        "`pytest tests/ -x -q` finishes inside its window (VERDICT r10 #2: "
        "the 40-minute full suite was truncated mid-run and recorded "
        "tests_ok=false); run with SPARK_GRAFT_FULL_TESTS=1 to include.",
    )


# ---------------------------------------------------------------------------
# Slow tier (VERDICT r10 task 2). Node ids measured by a full-suite
# `--durations=120` run at round-11 HEAD (750 passed / 29 min wall); every
# test at/over ~5 s of call+setup is listed, EXCEPT the contract gates
# (test_oracle_subset, test_registry_contract, test_bench_contract,
# test_compiler stay in the default run regardless of cost). Entries with a
# [param] suffix mark only that parametrization; bare function names mark
# every parametrization. Projected default wall ~13 min vs the 29-40 min
# full tier; the full tier runs each round via SPARK_GRAFT_FULL_TESTS=1
# (see OPTIMIZATION_r11.md for the recorded runs).
# ---------------------------------------------------------------------------
_SLOW_NODE_IDS = {
    "test_advanced.py::test_mlp_deep_score_parity",  # 61s
    "test_advanced.py::test_semantic_dedup_clusters_complete",  # 20s
    "test_advanced.py::test_pq_adc_topk_recall_and_determinism",  # 14s
    "test_advanced.py::test_ivf_topk_recall_and_shape",  # 13s
    "test_advanced.py::test_triangle_stats_known_graphs",  # 9s
    "test_advanced.py::test_spherical_kmeans_deep_iters_agrees_with_mllib",  # 7s
    "test_dedup_round8.py::test_rebuild_neardup_index_same_k_is_bit_identical",  # 10s
    "test_dedup_round8.py::test_rebuild_embdedup_index_rekeys_and_continues",  # 10s
    "test_dedup_round9.py::test_banded_auto_gate_fires_and_matches_pinned_center",  # 15s
    "test_null_robustness.py::test_round6_orders_queries_null_parity[ts_holt_linear]",  # 18s
    "test_null_robustness.py::test_vector_queries_null_parity[v_hyperplane_recall]",  # 13s
    "test_null_robustness.py::test_round6_orders_queries_null_parity[x_join_cardinality_estimate]",  # 12s
    "test_null_robustness.py::test_round6_events_queries_null_parity[e_cuped]",  # 10s
    "test_null_robustness.py::test_round6_doc_queries_null_parity[d_cluster_modularity]",  # 9s
    "test_null_robustness.py::test_vector_queries_null_parity[v_cosine_topk]",  # 8s
    "test_null_robustness.py::test_warehouse_omnibus_null_parity[d_threshold_sweep]",  # 8s
    "test_null_robustness.py::test_vector_queries_null_parity[v_cosine_dedup]",  # 8s
    "test_null_robustness.py::test_round6_events_queries_null_parity[s_sprt_boundary]",  # 7s
    "test_null_robustness.py::test_round6_events_queries_null_parity[e_cusum_hourly]",  # 7s
    "test_null_robustness.py::test_warehouse_omnibus_null_parity[v_kmeans_clusters]",  # 6s
    "test_null_robustness.py::test_docs_omnibus_null_parity[t_bigram_pmi]",  # 5s
    "test_null_robustness.py::test_round6_doc_queries_null_parity[d_minhash_est_vs_exact]",  # 5s
    "test_null_robustness.py::test_docs_omnibus_null_parity[t_bm25_rank]",  # 5s
    "test_null_robustness.py::test_vector_queries_null_parity[v_pq_adc_topk]",  # 5s
    "test_operators.py::test_connected_components_star_matches_propagation",  # 7s
    "test_operators.py::test_cc_star_finish_gate_matches_star_loop",  # 5s
    "test_packing.py::test_incremental_pack_matches_batch_layout",  # 5s
    "test_properties.py::test_dup_span_scrub_matches_bruteforce",  # 24s
    "test_properties.py::test_simhash_kernels_agree",  # 14s
    "test_properties.py::test_pii_redaction_matches_python_re",  # 10s
    "test_properties.py::test_word_shingles_is_first_occurrence_distinct_of_seq",  # 9s
    "test_properties.py::test_interleave_pack_matches_sequential_replay",  # 7s
    "test_properties.py::test_norm_tokens_equals_tokens_of_normalize",  # 6s
    "test_scale.py::test_no_broadcast_hint_on_scaling_tables",  # 122s
    "test_scale.py::test_minhash_ml_crosscheck_deterministic",  # 18s
    "test_scale.py::test_results_invariant_under_shuffle_partition_count",  # 8s
    "test_scale.py::test_relational3_plan_shapes",  # 7s
    "test_scale.py::test_zorder_layout_clusters_both_columns",  # 6s
    "test_span_dedup.py::test_poly_gram_key_agrees_with_md5_key",  # 45s
    "test_stateful_streaming.py::test_running_totals_accumulate_across_batches",  # 39s
    "test_stateful_streaming.py::test_running_totals_value_sum",  # 21s
    "test_stateful_streaming.py::test_stateful_seen_filter_one_winner_per_key",  # 12s
    "test_streaming.py::test_sketch_table_truncated_by_rebuild",  # 16s
    "test_streaming.py::test_streaming_cusum_pipeline_matches_batch",  # 14s
    "test_streaming.py::test_stream_incremental_neardup_matches_python_reference",  # 13s
    "test_streaming.py::test_streaming_spike_pipeline_matches_batch",  # 13s
    "test_streaming.py::test_sketch_spandedup_parity_and_generation_growth",  # 13s
    "test_streaming.py::test_streaming_srm_pipeline_matches_batch",  # 11s
    "test_streaming.py::test_stream_incremental_spandedup_matches_batch_and_blocks_recrawl",  # 9s
    "test_streaming.py::test_stream_incremental_embdedup_matches_numpy_reference",  # 8s
    "test_streaming.py::test_watermark_drops_late_data",  # 7s
    "test_streaming.py::test_streaming_cuped_pipeline_matches_batch",  # 6s
    "test_streaming.py::test_streaming_kmv_pipeline_matches_batch",  # 6s
    "test_streaming.py::test_stream_stream_join_matches_batch",  # 6s
    "test_text_functions.py::test_tokens_strip_non_space_whitespace_edges",  # 15s
    "test_text_functions.py::test_lang_id_markers",  # 5s
    "test_txtable.py::test_failed_commits_do_not_leak_staged_data",  # 13s
    "test_txtable.py::test_compact_preserves_data_and_history",  # 12s
    "test_txtable.py::test_merge_retries_after_interleaved_commit",  # 12s
    "test_txtable.py::test_append_schema_mismatch_rejected",  # 10s
    "test_txtable.py::test_uncommitted_data_is_invisible",  # 7s
    "test_txtable.py::test_epoch_idempotent_commits",  # 7s
    "test_txtable.py::test_append_overwrite_time_travel",  # 6s
    "test_txtable.py::test_merge_upsert_transactional",  # 6s
    "test_txtable.py::test_commit_stats_and_file_pruning",  # 6s
    "test_txtable.py::test_compact_cluster_by_prunes_both_columns",  # 5s
    "test_txtable.py::test_merge_reader_never_torn",  # 5s
}


def _is_slow(item) -> bool:
    if "slow" in item.keywords:
        return True
    name = item.nodeid.split("::", 1)[-1]
    fname = item.fspath.basename
    return (
        f"{fname}::{name}" in _SLOW_NODE_IDS
        or f"{fname}::{name.split('[', 1)[0]}" in _SLOW_NODE_IDS
    )


def pytest_collection_modifyitems(config, items):
    """Default-skip the slow tier (VERDICT r10 task 2). The full suite
    outgrew the driver's verification budget (~40 min vs a window that
    truncated at ~90%), which made every round's test gate unverifiable.
    The default run keeps every contract/correctness test and skips only
    the explicitly ``slow``-marked long tail; the full tier still runs
    locally via ``SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/``
    (and is exercised before each round close — see OPTIMIZATION_r11.md)."""
    if _truthy(os.environ.get("SPARK_GRAFT_FULL_TESTS")):
        return
    skip = pytest.mark.skip(
        reason="slow tier skipped by default (SPARK_GRAFT_FULL_TESTS=1 to run)"
    )
    for item in items:
        if _is_slow(item):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
