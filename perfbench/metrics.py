"""Metric arithmetic for the benchmark: pure functions over recorded
samples, kept apart from Spark so the self-tests can pin them on
synthetic payloads (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

#: Percentiles the tail rule chooses from, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
#: A reported percentile needs at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (the smallest sample with at
    least ``p`` percent of the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``p``-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int) -> float | None:
    """The highest percentile in ``TAIL_LADDER`` with at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None when even the
    median has fewer."""
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summary(values: Sequence[float]) -> dict:
    """Median, quartiles, the supported tail percentile and the sample
    count of one timing series."""
    n = len(values)
    out: dict = {"n": n, "median": statistics.median(values) if n else None}
    if n >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3)
    tail = tail_percentile(n)
    if tail is not None:
        out["tail_p"] = tail
        out["tail"] = percentile(values, tail)
    return out


def failed_frac(attempted: int, failed: int) -> float:
    """Failed share of attempted operations."""
    if attempted < 1:
        raise ValueError("failed_frac needs at least one attempt")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def count_failures(outcomes: Sequence[str]) -> tuple[int, int]:
    """``(attempted, failed)`` over per-operation outcome tags. Every
    tag other than ``"ok"`` (an exception, a timeout, an oracle
    mismatch, a shard over the latency limit) is a failure."""
    return len(outcomes), sum(1 for o in outcomes if o != "ok")


def shard_commits(
    shard_rows: Sequence[int], batches: Sequence[tuple[int, float]]
) -> list[int | None]:
    """Map each shard, in arrival order, to the micro-batch that
    committed its last row.

    ``shard_rows`` holds each shard's row count. ``batches`` holds
    ``(numInputRows, commit_time)`` per micro-batch in batch order. A
    file source takes whole files in arrival order, so shard ``i``
    (cumulative rows ``S_i``) belongs to the first batch whose
    cumulative input reaches ``S_i``. Returns the batch index per
    shard, None for shards no committed batch has reached."""
    out: list[int | None] = []
    cum_batch, j = 0, -1
    cum_shard = 0
    for rows in shard_rows:
        cum_shard += rows
        while cum_batch < cum_shard and j + 1 < len(batches):
            j += 1
            cum_batch += batches[j][0]
        out.append(j if cum_batch >= cum_shard else None)
    return out


def shard_latencies(
    created: Sequence[float],
    shard_rows: Sequence[int],
    batches: Sequence[tuple[int, float]],
) -> list[float | None]:
    """Creation → commit latency per shard (None where no committed
    batch contains the shard)."""
    idx = shard_commits(shard_rows, batches)
    return [
        None if j is None else batches[j][1] - t for t, j in zip(created, idx)
    ]


def covered(intervals: Sequence[tuple[float, float]], w0: float, w1: float) -> float:
    """Length of the window ``[w0, w1]`` that at least one of the
    ``(start, end)`` intervals covers; overlaps count once."""
    total, edge = 0.0, w0
    for a, b in sorted(intervals):
        a, b = max(a, edge), min(b, w1)
        if b > a:
            total += b - a
            edge = b
    return total


def busy_frac(intervals: Sequence[tuple[float, float]], w0: float, w1: float) -> float:
    """Share of the window ``[w0, w1]`` in which at least one interval
    (a micro-batch) was running."""
    return covered(intervals, w0, w1) / (w1 - w0)


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval that its direct children cover. Each span is a dict with
    ``id``, ``parent`` (None for a root), ``start`` and ``end``;
    overlapping children are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in by_id:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
