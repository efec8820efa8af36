"""Reading a streaming query's ``recentProgress`` from the outside.

The program needs no hooks: the offsets of each micro-batch and when it
started and finished are in the progress records, and the benchmark knows when
each message was due. Every function here takes plain dicts (the JSON of
a ``StreamingQueryProgress``), so the self-tests feed synthetic lists.
"""

from __future__ import annotations

import json
from datetime import datetime

import numpy as np

# a backlog slope above this share of the offered rate counts as growing
BACKLOG_TOL = 0.25
# two batches closer than this in rows give no slope for the batch-cost
# line: the difference of their times is mostly noise
MIN_ROW_GAP = 10_000


def as_dicts(progress) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in progress]


def epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _idx(offset) -> int:
    if offset is None:
        return 0
    while isinstance(offset, str):
        if not offset.strip():
            return 0
        offset = json.loads(offset)
    return int(offset["idx"])


Batch = tuple[int, int, float, float]  # start idx, end idx, start time, end time


def batches(progress: list[dict]) -> list[Batch]:
    """(start idx, end idx, start time, end time) per micro-batch that read
    data, by batch id; idle progress records and repeats are skipped."""
    out: dict[int, Batch] = {}
    for p in progress:
        src = p["sources"][0]
        start, end = _idx(src.get("startOffset")), _idx(src.get("endOffset"))
        if end <= start or p.get("numInputRows", 1) == 0:
            continue
        begun = epoch(p["timestamp"])
        out[p["batchId"]] = (start, end, begun, begun + p["durationMs"]["triggerExecution"] / 1000.0)
    return [out[k] for k in sorted(out)]


def latencies(bs: list[Batch], due: np.ndarray) -> np.ndarray:
    """Per-message latency in ms from its due time (epoch seconds, one per
    offset index) to the end of the micro-batch covering its offset; NaN
    for messages no batch covered."""
    lat = np.full(len(due), np.nan)
    for start, end, _, done in bs:
        lo, hi = max(0, start), min(len(due), end)
        if hi > lo:
            lat[lo:hi] = (done - due[lo:hi]) * 1000.0
    return lat


def step_backlog(bs: list[Batch], due_count, lo: int, hi: int) -> list[tuple[float, int]]:
    """(time, messages of index range [lo, hi) that were due but not yet
    committed) at each batch end; ``due_count(t)`` gives how many
    messages were due by epoch time t."""
    return [(done, max(0, min(due_count(done), hi) - max(end, lo))) for _, end, _, done in bs]


def inside(bs: list[Batch], lo: int, hi: int) -> list[Batch]:
    """The batches whose rows all lie in index range [lo, hi): in a stepped
    schedule, those that ran at one step's rate only."""
    return [b for b in bs if b[0] >= lo and b[1] <= hi]


def committed_rate(bs: list[Batch], lo: int, hi: int) -> float | None:
    """Messages per second the program committed from index range [lo, hi):
    the rows of the batches lying wholly inside it over the wall time from
    the first such batch's start to the last one's end. While the offered
    rate exceeds what the program can take, batches run back to back and
    this is its capacity. None when no batch lies wholly inside."""
    within = inside(bs, lo, hi)
    if not within:
        return None
    return sum(end - start for start, end, _, _ in within) / max(within[-1][3] - within[0][2], 1e-9)


def batch_cost(bs: list[Batch]) -> tuple[float, float]:
    """(fixed seconds per batch, seconds per row): a Theil-Sen line of
    micro-batch wall time against the rows it committed. The slope is the
    median of the slopes between pairs of batches at least
    ``MIN_ROW_GAP`` rows apart, the fixed cost the median of what each
    batch took beyond its rows. A batch the host slowed moves neither."""
    rows = np.array([end - start for start, end, _, _ in bs], dtype=float)
    secs = np.array([done - begun for _, _, begun, done in bs])
    i, j = np.triu_indices(len(rows), 1)
    apart = np.abs(rows[j] - rows[i]) >= MIN_ROW_GAP
    if not apart.any():
        raise ValueError(f"no two micro-batches differ by {MIN_ROW_GAP} rows")
    per_row = float(np.median((secs[j] - secs[i])[apart] / (rows[j] - rows[i])[apart]))
    return float(np.median(secs - per_row * rows)), per_row


def backlog_growing(points: list[tuple[float, int]], rate: float) -> bool | None:
    """True when the least-squares slope of the backlog exceeds
    ``BACKLOG_TOL`` of the offered rate (msg/s): a sustainable rate leaves
    a flat sawtooth, an unsustainable one grows at rate minus capacity.
    None when fewer than three points leave the trend undetermined."""
    if len(points) < 3:
        return None
    t = np.array([p[0] for p in points])
    b = np.array([p[1] for p in points], dtype=float)
    if np.ptp(t) == 0:
        return None
    slope = np.polyfit(t - t[0], b, 1)[0]
    return bool(slope > BACKLOG_TOL * rate)


def durations(progress: list[dict], phase: str) -> list[float]:
    return [p["durationMs"][phase] for p in progress if phase in p.get("durationMs", {}) and p.get("numInputRows", 0) > 0]
