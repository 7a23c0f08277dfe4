import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from alma_memory_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("alma-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "realdata: needs a real LongMemEval/LoCoMo file "
        "(ALMA_REALDATA_LONGMEM / ALMA_REALDATA_LOCOMO); skipped otherwise",
    )
    config.addinivalue_line(
        "markers",
        "slow: heavyweight protocol/soak/equivalence tests excluded "
        'from the default run (pytest.ini addopts -m "not slow"); run '
        "the FULL suite with: python -m pytest tests/ -m 'slow or not "
        "slow' (the closing-certification command)",
    )


# r15 (VERDICT r14 #6): the full suite runs ~45-55 minutes under the
# host throttle and the driver's pytest window cut r14's run off at
# ~75% with zero failures — an incomplete verify. The default run now
# excludes the `slow` set below so it finishes well inside the window;
# the slow set still runs in full at closing certification (command in
# the marker help above) and whenever the store/index protocol code it
# pins is touched (see .claude/skills/verify). Selection criteria: the
# top of the measured duration profile (pytest --durations, 2026-08-17
# full run: 470 passed in 53:18), EXCLUDING every oracle-parity test
# (tests/test_oracle_parity.py stays default — it replicates the
# driver's correctness gate) and the focused tests that pin operators
# changed in recent rounds. Two whole modules are slow by charter:
# store crash-window/compaction soak and the txlog protocol suite.
_SLOW_MODULES = {
    "test_flb_and_store_extras",  # store protocol/crash-window/soak
    "test_txstore",  # txlog protocol + model-based random ops
}
_SLOW_TESTS = {
    # measured seconds in the 2026-08-17 full run alongside each
    "test_with_url_signals_matches_expression_form",  # 82.2
    "test_retrieve_batch_matches_singles",  # 57.3
    "test_search_vectors_pq_served_matches_exact",  # 46.6
    "test_add_reports_band_cap_saturation",  # 40.7
    "test_retrieve_serves_from_ivf_index_when_asked",  # 38.9
    "test_engine_ivf_serve_forget_guard_and_maintenance_rebuild",  # 37.0
    "test_proven_strategy_ranks_first",  # 34.9
    "test_url_signals_and_pass_bits",  # 30.6
    "test_streaming_index_kill_and_resume_exactly_once",  # 27.5
    "test_hybrid_scoped_fallback_on_saturated_global_cut",  # 27.2
    "test_memo_gc_age_floor_spares_young_superseded_fingerprints",  # 24.1
    "test_semdedup_index_build_add_load_roundtrip",  # 23.4
    "test_semdedup_index_multiprobe_matches_pinned_full_run",  # 23.2
    "test_streaming_semdedup_maintenance_matches_one_shot",  # 22.8
    "test_search_vectors_drops_stale_index_hits",  # 21.3
    "test_strength_decay_matches_reference_formula",  # 20.5
    "test_extended_tool_surface",  # 19.8
    "test_scoped_bm25_exact_via_group_stats",  # 18.2
    "test_learning_cycle_end_to_end",  # 17.7
    "test_training_data_pipeline_r7_stages_end_to_end",  # 17.5
    "test_semdedup_index_compact_folds_files_preserves_content",  # 17.1
    "test_k_hop_traversal",  # 17.1
    "test_add_epoch_replay_is_noop_and_partial_rewrite",  # 17.0
    "test_streaming_index_maintenance_matches_batch",  # 16.5
    "test_compact_folds_replay_debris",  # 16.4
    "test_streaming_neardup_maintenance_matches_batch",  # 15.6
    "test_url_signals_authority_and_psl",  # 15.0
    "test_streaming_into_scoped_text_index",  # 14.9
    "test_streaming_maintenance_with_in_stream_compaction",  # 14.4
    "test_replay_does_not_shift_band_cap_counts",  # 14.0
    "test_training_data_pipeline_end_to_end",  # 13.7
    "test_streaming_dedup_matches_batch_distinct",  # 13.7
    "test_cc_random_graphs_match_union_find",  # 13.1
    "test_window_index_xxhash64_build_matches_md5",  # 13.1
    "test_search_vectors_batch_matches_singles",  # 13.1
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = getattr(item.module, "__name__", "")
        base = item.name.split("[", 1)[0]
        if mod in _SLOW_MODULES or base in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
