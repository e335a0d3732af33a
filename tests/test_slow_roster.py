"""The slow-tier roster in ``conftest.py`` names only tests that exist,
and naming a slow test by node id runs it."""

from __future__ import annotations

import pytest

from tests.conftest import _SLOW_TESTS, is_named, named_node_ids


def test_every_slow_roster_entry_matches_a_collected_test(request):
    unmatched = request.config.unmatched_slow_tests
    if unmatched is None:
        pytest.skip("the run does not collect the full suite")
    assert unmatched == [], f"stale _SLOW_TESTS entries: {unmatched}"


def test_a_slow_test_named_by_node_id_is_kept(tmp_path):
    f = tmp_path / "tests" / "test_streaming.py"
    named = named_node_ids(
        ["tests/test_streaming.py::test_session_window_merges_and_splits", "tests/"],
        tmp_path,
    )
    assert ("test_streaming.py", "test_session_window_merges_and_splits") in _SLOW_TESTS
    assert is_named(f, "test_session_window_merges_and_splits", named)
    assert is_named(f, "test_session_window_merges_and_splits[x]", named)
    assert not is_named(f, "test_session_window_merges", named)
    elsewhere = tmp_path / "test_streaming.py"
    assert not is_named(elsewhere, "test_session_window_merges_and_splits", named)
    assert not is_named(f, "test_watermark_drops_late_data_in_append_mode", named)
