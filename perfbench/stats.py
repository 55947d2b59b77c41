"""Pure helpers of the benchmark: percentiles, the file -> epoch -> commit
latency join, backlog and ``durationMs`` phase summaries.  No Spark here,
so the unit tests run in milliseconds."""

from __future__ import annotations

import math
from collections.abc import Iterable, Mapping

# StreamingQueryProgress.durationMs phases a micro-batch reports
PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "latestOffset",
    "getBatch",
    "commitOffsets",
)


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default), ``q`` in [0, 100].
    Raises on an empty sample rather than inventing a value."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"q={q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def phase_p50_ms(progress: Iterable[Mapping]) -> dict[str, float]:
    """Median of each ``durationMs`` phase over the given progress
    records.  A phase a record does not report is skipped for that record
    (Spark omits e.g. ``queryPlanning`` on a no-data trigger); a phase no
    record reports reads 0."""
    out = {}
    recs = [dict(p.get("durationMs") or {}) for p in progress]
    for ph in PHASES:
        vals = [float(r[ph]) for r in recs if ph in r]
        out[ph] = percentile(vals, 50) if vals else 0.0
    return out


def file_latencies(
    due: Mapping[str, float],
    file_epochs: Mapping[str, set[int]],
    commit_time: Mapping[int, float],
) -> dict[str, float]:
    """Per-file latency: commit time of the epoch that wrote the file minus
    the time the file was due at the generator.

    ``file_epochs`` maps a file stem to the ``_epoch`` partitions its sink
    rows landed in (read back from the sink); a file has exactly one, since
    the file source reads a file whole.  A file that is missing from the
    sink, spans two epochs, or names an epoch without a commit is left out
    of the result; the caller counts it as failed."""
    out = {}
    for stem, t_due in due.items():
        epochs = file_epochs.get(stem, set())
        if len(epochs) != 1:
            continue
        (epoch,) = epochs
        if epoch in commit_time:
            out[stem] = commit_time[epoch] - t_due
    return out


def backlog_max(due: Mapping[str, float], committed_at: Mapping[str, float]) -> int:
    """Largest number of files that were due but not yet committed, sampled
    at every commit instant (the moments the backlog can shrink)."""
    best = 0
    for t in sorted(set(committed_at.values())):
        waiting = sum(
            1 for s, d in due.items() if d <= t and committed_at.get(s, math.inf) >= t
        )
        best = max(best, waiting)
    return best
