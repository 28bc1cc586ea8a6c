import operator
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    from qucosa_fcrepo_reportingdb_spark.memo import clear_session_memo
    clear_session_memo(s)


@pytest.fixture()
def store(spark, tmp_path):
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore
    return TableStore(spark, str(tmp_path / "tables"))


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def ingest_pred(sql: str):
    """A spec's SQL ingest predicate ('doc_id % m <op> v') as a Python
    test on one doc_id."""
    col, _, m, op, v = sql.split()
    assert col == "doc_id", sql
    cmp = {"=": operator.eq, ">=": operator.ge}[op]
    return lambda d: cmp(d % int(m), int(v))


# ---------------------------------------------------------------------------
# Suite tiering (VERDICT r15 item 2): the full suite outgrew the
# driver's verification window (r15: cut at ~94% of a ~34-minute run),
# so the default `pytest tests/` pass skips the SLOW TIER below —
# long-soak / redundant-sweep tests whose coverage is represented in
# the default tier by a cheaper sibling — bringing the default run to
# ~18-20 min. `SPARK_GRAFT_FULL_TESTS=1 pytest tests/` runs everything
# (builders run the full tier before shipping a round). The list is
# centralized HERE (matched on test name, parametrizations included)
# so the tier is reviewable in one place and test files stay
# annotation-free. Selection rules, per the r15 durations profile:
# every entry was >=12 s, is NOT an oracle-sweep row (those all stay),
# and leaves at least one matches-batch/parity test per streaming
# family in the default tier.
SLOW_TIER = {
    # subsumed by test_registry_wide_plan_invariants (same sweep +
    # Python-node check, 2.5x faster)
    "test_no_cartesian_products_anywhere",
    # streaming long-soaks; cheaper siblings remain default
    "test_stream_sessionize_correct_across_arrow_chunks",
    "test_streamed_manifest_assembles_to_batch_manifest",
    "test_append_mode_watermark_drops_late_events",
    "test_stream_recallk_matches_batch_and_exact_via_k_none",
    "test_stream_bloom_decontaminate_matches_batch",
    "test_stream_stream_interval_join_matches_batch",
    "test_banded_stream_replay_exactly_once[phash]",
    "test_banded_stream_replay_exactly_once[afp]",
    "test_banded_stream_replay_exactly_once[vfp]",
    "test_banded_stream_matches_batch[afp]",
    "test_banded_stream_matches_batch[phash_bandpairs]",
    "test_stream_perceptual_decontaminate_matches_batch",
    "test_stream_lsh_late_suite_vec_flags_stale_verdicts",
    "test_stream_session_windows_matches_batch",
    "test_stream_follows_band_blocking_policy",
    "test_migrate_band_state_flips_live_stream",
    "test_migrate_band_state_video_multirow",
    "test_streaming_sink_file_count_bounded_by_auto_compaction",
    # e2e soak; the crash-point tests remain default
    "test_many_page_harvest_keeps_file_counts_bounded",
    # the bench computes this census on every run already
    "test_candidate_volume_tripwire",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_FULL_TESTS=1 to run")
    for item in items:
        if item.originalname in SLOW_TIER or item.name in SLOW_TIER:
            item.add_marker(skip)
