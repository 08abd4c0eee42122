from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long property/hypothesis tier — skipped by default so the "
        "default suite fits the driver's verify window (VERDICT r14 item 2); "
        "run with SPARK_GRAFT_SLOW_TESTS=1 (the builder's own gate does)",
    )


# Slow tier (VERDICT r14 item 2): the full suite outgrew the driver's
# verify window (timed out at 77% in r14; measured 56.5 min on 2026-08-18,
# /tmp/pytest_durations_r15.log methodology: one full --durations=0 run).
# Every test whose call time measured >= 15 s is listed here — together
# ~34 of those minutes — leaving the default tier at ~21 min.  The listed
# tests still run in the builder's own gate via SPARK_GRAFT_SLOW_TESTS=1.
# Regenerate after adding heavy tests:
#   python -m pytest tests/ -q --durations=0  (then list call-times >= 15 s)
SLOW_TESTS = {
    "test_ann_index.py::test_pq_generation_rotation_retrains_codebooks_blue_green",
    "test_config_and_observability.py::test_span_index_pipeline_deploys_from_yaml",
    "test_dedup_index.py::test_bucketed_crash_window_heals",
    "test_dedup_index.py::test_bucketed_pair_view_matches_flat_under_any_batching",
    "test_dedup_index.py::test_compact_drops_stale_band_rows_and_dead_markers",
    "test_dedup_index.py::test_curated_corpus_reacts_to_quality_dedup_and_cdc",
    "test_dedup_index.py::test_decon_bootstrap_crash_between_rewrite_and_swap_heals",
    "test_dedup_index.py::test_decon_hits_maintained_incrementally_on_both_sides",
    "test_dedup_index.py::test_decontaminated_converges_under_any_batching",
    "test_dedup_index.py::test_mix_sample_equals_batch_resample_over_curated",
    "test_hourly_index.py::test_hourly_view_converges_under_any_batching",
    "test_merge_properties.py::test_aggregating_sink_converges_under_any_batching[bucketed]",
    "test_merge_properties.py::test_aggregating_sink_converges_under_any_batching[flat]",
    "test_merge_properties.py::test_bucketed_minhash_index_converges_on_random_cdc",
    "test_merge_properties.py::test_connected_components_matches_union_find",
    "test_merge_properties.py::test_decon_hit_view_gc_fence_on_random_cdc",
    "test_merge_properties.py::test_feature_store_gc_fence_converges_on_random_cdc",
    "test_merge_properties.py::test_merge_converges_under_any_batching[bucketed]",
    "test_merge_properties.py::test_merge_converges_under_any_batching[full_rewrite]",
    "test_merge_properties.py::test_merge_with_tombstone_gc_converges",
    "test_merge_properties.py::test_pair_view_gc_fence_on_random_cdc",
    "test_neighbor_index.py::test_compact_reclaims_band_rows_dead_markers_and_tombstones",
    "test_neighbor_index.py::test_view_converges_on_random_cdc_property",
    "test_neighbor_index.py::test_view_converges_under_any_batching",
    "test_registry_oracle.py::test_query_matches_oracle[sq_ann_search_pq_from_index]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_cluster_reps_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_contamination_capped_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_contamination_report_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_corpus_curation_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_curated_export_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_curated_shards_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_decontaminated_curation_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_dedup_clusters_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_dedup_index_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_dedup_rate_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_gapfill_locf_cdc_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_mix_sample_decon_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_mix_sample_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_mix_sample_tokens_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_mix_tokens_decon_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_neighbor_index_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_session_stats_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_span_dedup_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_span_filtered_curation_stream]",
    "test_registry_oracle.py::test_query_matches_oracle[sq_unified_curation_stream]",
    "test_session_index.py::test_out_of_order_redelivery_cannot_regress",
    "test_session_index.py::test_point_serve_equals_full_serve_under_any_cdc",
    "test_session_index.py::test_session_view_converges_under_any_batching",
    "test_span_index.py::test_compact_crash_mid_sequence_blocks_serves_until_retry",
    "test_span_index.py::test_compact_drops_dead_weight_not_state",
    "test_span_index.py::test_crash_between_store_commits_replays_exact[index]",
    "test_span_index.py::test_crash_between_store_commits_replays_exact[stats]",
    "test_span_index.py::test_multi_batch_equivalence_and_crossing_propagation",
    "test_span_index.py::test_out_of_order_redelivery_cannot_regress",
    "test_span_index.py::test_replay_idempotence",
    "test_span_index.py::test_span_stats_converge_under_any_batching",
}


def _collects_whole_suite(session, config) -> bool:
    """True when this run collected all of tests/ with nothing filtered
    out and no collection error — the only run that can tell a stale
    SLOW_TESTS entry from a test that was merely not selected."""
    if session.testsfailed or config.getoption("keyword") or config.getoption("markexpr"):
        return False
    if config.getoption("deselect", None) or config.getoption("ignore", None):
        return False
    here = os.path.dirname(os.path.abspath(__file__))
    base = str(config.invocation_params.dir)
    return here in {os.path.abspath(os.path.join(base, a)) for a in config.args}


def pytest_collection_modifyitems(session, config, items):
    if _collects_whole_suite(session, config):
        names = {f"{item.fspath.basename}::{item.name}" for item in items}
        stale = sorted(SLOW_TESTS - names)
        if stale:
            raise pytest.UsageError(
                f"SLOW_TESTS entries match no collected test (renamed or "
                f"removed? update tests/conftest.py): {stale}"
            )
    run_slow = os.environ.get("SPARK_GRAFT_SLOW_TESTS", "") not in ("", "0")
    skip = pytest.mark.skip(reason="slow tier: set SPARK_GRAFT_SLOW_TESTS=1 to run")
    for item in items:
        node = f"{item.fspath.basename}::{item.name}"
        if node in SLOW_TESTS or "slow" in item.keywords:
            item.add_marker(pytest.mark.slow)
            if not run_slow:
                item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from cdc_platform_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="cdc-platform-tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from cdc_platform_spark.sources.registry import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con
