"""Pure helpers of the benchmark: percentiles, byte accounting, summaries.

Nothing here imports Spark, so the self-tests run in well under a second.
"""

from __future__ import annotations

import statistics


def tail_percentile(samples: list[float]) -> tuple[float, float, int] | None:
    """Latency at the highest percentile that has at least ten samples
    beyond it: ``(percentile, value, n_samples)``, or ``None`` when fewer
    than eleven samples exist (no percentile qualifies).

    With the samples sorted ascending, the qualifying sample is the one
    with exactly ten samples after it, index ``n - 11``; its percentile is
    the share of samples at or below it."""
    n = len(samples)
    if n < 11:
        return None
    ordered = sorted(samples)
    i = n - 11
    return 100.0 * (i + 1) / n, ordered[i], n


def served_bytes(range_header: str | None, size: int, status: int) -> int:
    """Body bytes a blob GET moved, from its ``Range`` header and the blob
    size: ``bytes=a-b`` moves ``b - a + 1``, ``bytes=a-`` the tail from
    ``a``, ``bytes=-n`` the last ``n`` bytes, and a request without
    ``Range`` - or a 200 reply from a server that ignored it - the whole
    blob. A 416 moves nothing. Same arithmetic as the repository's
    fetch-path probe."""
    if status == 416:
        return 0
    if status == 200 or not range_header or \
            not range_header.startswith("bytes="):
        return size
    start_s, _, end_s = range_header[len("bytes="):].partition("-")
    if start_s and end_s:
        return int(end_s) - int(start_s) + 1
    if start_s:
        return max(size - int(start_s), 0)
    return min(int(end_s), size)


def per_variant_median(latencies: dict[str, list[float]]) -> float:
    """Median op latency of a mixed workload: the median of each op
    variant, averaged with equal weight across variants, so the figure
    does not jump between variant levels with the number of ops run."""
    meds = [statistics.median(v) for v in latencies.values() if v]
    return sum(meds) / len(meds)


def self_time(span: tuple[float, float],
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children counted once)."""
    start, end = span
    covered = 0.0
    cursor = start
    for c0, c1 in sorted(children):
        c0, c1 = max(c0, cursor), min(c1, end)
        if c1 > c0:
            covered += c1 - c0
            cursor = c1
    return (end - start) - covered


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
