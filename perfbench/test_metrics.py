"""Self-tests of the benchmark's metric arithmetic on synthetic
payloads. Run with ``python3 -m pytest perfbench``."""

from __future__ import annotations

import pytest

from perfbench import metrics


def test_tail_rule_needs_ten_samples_beyond():
    # 19 samples: the median has only 9 beyond it -> nothing qualifies.
    assert metrics.tail_percentile(19) is None
    assert metrics.tail_percentile(20) == 50.0
    assert metrics.tail_percentile(39) == 50.0
    assert metrics.tail_percentile(40) == 75.0
    assert metrics.tail_percentile(99) == 75.0
    assert metrics.tail_percentile(100) == 90.0
    assert metrics.tail_percentile(200) == 95.0
    assert metrics.tail_percentile(1000) == 99.0
    for n in range(1, 2000):
        p = metrics.tail_percentile(n)
        if p is not None:
            assert metrics.samples_beyond(n, p) >= metrics.MIN_BEYOND


def test_percentile_nearest_rank_and_summary():
    values = list(range(1, 101))  # 1..100
    assert metrics.percentile(values, 50) == 50
    assert metrics.percentile(values, 90) == 90
    assert metrics.percentile(values, 100) == 100
    s = metrics.summary(values)
    assert s["n"] == 100 and s["tail_p"] == 90.0 and s["tail"] == 90
    assert s["median"] == 50.5
    assert "tail" not in metrics.summary([1.0, 2.0, 3.0])


def test_shard_to_batch_mapping_by_cumulative_rows():
    shard_rows = [100, 100, 100, 100, 100]
    # batch 0 takes shard 0; batch 1 shards 1-2; an empty batch; batch 3
    # shard 3; shard 4 not yet committed.
    batches = [(100, 10.0), (200, 11.0), (0, 11.5), (100, 12.0)]
    assert metrics.shard_commits(shard_rows, batches) == [0, 1, 1, 3, None]
    created = [9.5, 10.2, 10.6, 11.9, 12.5]
    lat = metrics.shard_latencies(created, shard_rows, batches)
    assert lat[:4] == pytest.approx([0.5, 0.8, 0.4, 0.1])
    assert lat[4] is None


def test_shard_mapping_with_unequal_shards():
    assert metrics.shard_commits([10, 30, 5], [(40, 1.0), (5, 2.0)]) == [0, 0, 1]
    assert metrics.shard_commits([10], []) == [None]


def test_self_time_subtracts_nested_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},
        # overlapping siblings (other thread): covered once
        {"id": 4, "parent": 1, "start": 3.0, "end": 6.0},
        # child running past its parent's end is clipped
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},
    ]
    st = metrics.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    assert st[5] == pytest.approx(3.0)


def test_busy_frac_counts_overlapping_batches_once_within_window():
    # window 10..20; batches 8-11 (clipped to 1 s), 12-14 and 13-15
    # (overlap: 3 s), 19-25 (clipped to 1 s) -> 5 s of 10.
    batches = [(12.0, 14.0), (8.0, 11.0), (19.0, 25.0), (13.0, 15.0)]
    assert metrics.busy_frac(batches, 10.0, 20.0) == pytest.approx(0.5)
    assert metrics.busy_frac([], 0.0, 1.0) == 0.0


def test_failed_frac_counts_every_non_ok_outcome():
    outcomes = ["ok"] * 7 + ["error:q:ValueError", "mismatch:q", "late:hi"]
    attempted, failed = metrics.count_failures(outcomes)
    assert (attempted, failed) == (10, 3)
    assert metrics.failed_frac(attempted, failed) == pytest.approx(0.3)
    assert metrics.failed_frac(5, 0) == 0.0
    with pytest.raises(ValueError):
        metrics.failed_frac(0, 0)
    with pytest.raises(ValueError):
        metrics.failed_frac(3, 4)
