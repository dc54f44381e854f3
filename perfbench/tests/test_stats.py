"""Tests for the benchmark's pure helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench import stats
from perfbench.tracing import descriptor_kind, ticket_kind


class TestTail:
    def test_highest_rung_with_ten_samples_beyond(self):
        values = list(range(1, 1001))  # rank 990 leaves exactly 10 above
        assert stats.tail(values) == (99.0, 990)

    def test_one_sample_short_drops_a_rung(self):
        values = list(range(1, 1000))  # p99 would leave 9 above
        assert stats.tail(values) == (95.0, 950)

    def test_order_of_input_does_not_matter(self):
        values = list(range(1, 201))
        assert stats.tail(reversed(values)) == stats.tail(values) == (95.0, 190)

    def test_too_few_samples_fall_back_to_median(self):
        assert stats.tail([5.0, 1.0, 3.0]) == (50.0, 3.0)

    def test_empty(self):
        assert stats.tail([]) == (None, None)

    def test_percentile_is_nearest_rank(self):
        assert stats.percentile([10, 20, 30, 40], 50) == 20
        assert stats.percentile([10, 20, 30, 40], 51) == 30
        assert stats.percentile([7], 99) == 7


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


class TestSelfTime:
    def test_children_union_is_subtracted_once(self):
        spans = [
            _span(1, None, 0.0, 10.0),
            _span(2, 1, 1.0, 3.0),
            _span(3, 1, 2.0, 5.0),  # overlaps span 2: covered 1..5
            _span(4, 1, 8.0, 12.0),  # clipped to the parent: 8..10
        ]
        selfs = stats.self_times(spans)
        assert selfs[1] == pytest.approx(10.0 - 4.0 - 2.0)
        assert selfs[2] == pytest.approx(2.0)
        assert selfs[4] == pytest.approx(4.0)

    def test_grandchildren_count_against_their_parent_only(self):
        spans = [
            _span(1, None, 0.0, 10.0),
            _span(2, 1, 0.0, 6.0),
            _span(3, 2, 1.0, 5.0),
        ]
        selfs = stats.self_times(spans)
        assert selfs[1] == pytest.approx(4.0)
        assert selfs[2] == pytest.approx(2.0)
        assert selfs[3] == pytest.approx(4.0)

    def test_leaf_self_time_is_its_duration(self):
        assert stats.self_times([_span(7, None, 1.5, 2.0)]) == {7: pytest.approx(0.5)}

    def test_covered_merges_and_clips(self):
        assert stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
        assert stats.covered([(-5, 1), (9, 20)], 0, 10) == 2
        assert stats.covered([], 0, 10) == 0


class TestMirrorLag:
    def test_each_put_joins_the_first_sync_that_carries_it(self):
        puts = [(1.0, 5), (2.0, 6), (3.0, 7)]
        syncs = [(2.5, 6), (4.0, 7)]
        lags, missed = stats.mirror_lags(puts, syncs)
        assert lags == pytest.approx([1.5, 0.5, 1.0])
        assert missed == 0

    def test_sync_pinned_before_the_commit_does_not_carry_it(self):
        # the sync ends after the ack but synced only up to sequence 4
        lags, missed = stats.mirror_lags([(1.0, 5)], [(2.0, 4), (3.0, 5)])
        assert lags == pytest.approx([2.0])
        assert missed == 0

    def test_sync_ending_before_the_ack_is_skipped(self):
        lags, _ = stats.mirror_lags([(3.0, 5)], [(2.0, 9), (5.0, 9)])
        assert lags == pytest.approx([2.0])

    def test_syncs_are_taken_in_end_time_order(self):
        lags, _ = stats.mirror_lags([(1.0, 3)], [(9.0, 3), (2.0, 3)])
        assert lags == pytest.approx([1.0])

    def test_put_no_sync_carries_is_counted_missed(self):
        lags, missed = stats.mirror_lags([(1.0, 3), (2.0, 8)], [(4.0, 5), (6.0, None)])
        assert lags == pytest.approx([3.0])
        assert missed == 1


class TestOpKinds:
    def test_ticket_kinds(self):
        assert ticket_kind(b"orders") == "get"
        assert ticket_kind(b'{"sql": "SELECT 1"}') == "sql"
        assert ticket_kind(b'{"command": "scan", "table": "t"}') == "scan"
        assert ticket_kind(b'{"command": "get_slice", "table": "t"}') == "slice"
        assert ticket_kind(b'{"command": "get_changes", "table": "t"}') == "command"
        assert ticket_kind(b"[1, 2]") == "get"

    def test_descriptor_kinds(self):
        flight = pytest.importorskip("pyarrow.flight")
        assert descriptor_kind(flight.FlightDescriptor.for_path(b"t")) == "info"
        cmd = flight.FlightDescriptor.for_command
        assert descriptor_kind(cmd(b'{"sql": "SELECT 1"}')) == "sql"
        assert descriptor_kind(cmd(b'{"command": "get_slices", "table": "t"}')) == "slice"
        assert descriptor_kind(cmd(b"LIST_TABLES")) == "command"
