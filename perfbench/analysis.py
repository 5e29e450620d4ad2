"""Turning recorded spans and Spark status-store rows into per-layer numbers.

Pure functions over plain data, so the arithmetic is testable without
Spark: self time, outermost-span durations, interval unions, and the
attribution of Spark jobs to benchmark operations by time window.
"""

from __future__ import annotations

from collections import defaultdict

from tracer import OVERHEAD_PREFIX, Span

# A job is attributed to an operation whose window contains its
# submission time; the status store keeps milliseconds, so the window
# edges are widened by this much.
ATTRIBUTION_SLACK_S = 0.002


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        covered = union_length(
            [(spans[c].start, spans[c].end) for c in children.get(i, ())],
            s.start,
            s.end,
        )
        out.append((s.end - s.start) - covered)
    return out


def outermost(spans: list[Span]) -> list[bool]:
    """True for a span with no ancestor of the same name, so inclusive
    times of a recursive or re-entrant function are not counted twice."""
    flags = []
    for s in spans:
        p = s.parent
        ok = True
        while p is not None:
            if spans[p].name == s.name:
                ok = False
                break
            p = spans[p].parent
        flags.append(ok)
    return flags


def attribute_jobs(
    windows: dict[int, tuple[float, float]],
    jobs: list[dict],
    excluded: list[tuple[float, float]] = (),
) -> dict[int, list[dict]]:
    """Map operation id -> jobs submitted inside its ``(start, end)``
    epoch window. Jobs submitted inside an ``excluded`` window (the
    tracer's own counting) and jobs outside every window are dropped."""
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])
    out: dict[int, list[dict]] = defaultdict(list)
    for job in jobs:
        t = job["submit"]
        if any(a - ATTRIBUTION_SLACK_S <= t <= b + ATTRIBUTION_SLACK_S for a, b in excluded):
            continue
        for op_id, (a, b) in ordered:
            if a - ATTRIBUTION_SLACK_S <= t <= b + ATTRIBUTION_SLACK_S:
                out[op_id].append(job)
                break
    return out


def job_metrics(
    op_jobs: list[dict], stages: dict[int, dict], window: tuple[float, float]
) -> dict[str, float]:
    """Job, stage and task totals of one operation's jobs; ``job_busy_ms``
    is the union of their run intervals inside the operation window."""
    stage_ids = {sid for j in op_jobs for sid in j["stage_ids"]}
    ran = [stages[s] for s in stage_ids if s in stages and stages[s]["tasks"] > 0]
    busy = union_length(
        [(j["submit"], j["end"]) for j in op_jobs], window[0], window[1]
    )
    return {
        "jobs": float(len(op_jobs)),
        "stages": float(len(ran)),
        "tasks": float(sum(s["tasks"] for s in ran)),
        "job_busy_ms": busy * 1000.0,
        "executor_run_ms": float(sum(s["run_ms"] for s in ran)),
        "executor_cpu_ms": float(sum(s["cpu_ms"] for s in ran)),
        "shuffle_bytes": float(sum(s["shuffle_bytes"] for s in ran)),
        "input_bytes": float(sum(s["input_bytes"] for s in ran)),
    }


def op_summary(spans: list[Span], epoch_offset: float) -> dict[int, dict]:
    """Per operation: per-layer inclusive and self time, call counts, the
    layers' summed self time (every span but the root and the tracer's
    own), the root's own (unattributed) time, the tracer's own overhead
    time, and the epoch windows of the operation, of its overhead spans and
    of every span by name."""
    selfs = self_times(spans)
    outer = outermost(spans)
    ops: dict[int, dict] = {}
    for i, s in enumerate(spans):
        if s.parent is None and s.op is not None:
            ops[s.op] = {
                "window": (s.start + epoch_offset, s.end + epoch_offset),
                "incl_s": defaultdict(float),
                "self_s": defaultdict(float),
                "calls": defaultdict(int),
                "overhead_s": 0.0,
                "overhead_windows": [],
                "span_windows": defaultdict(list),
                "layers_s": 0.0,
                "root_self_s": selfs[i],
            }
    for i, s in enumerate(spans):
        op = ops.get(s.op)
        if op is None:
            continue
        if s.parent is None:
            continue
        if s.name.startswith(OVERHEAD_PREFIX):
            if outer[i]:
                op["overhead_s"] += s.end - s.start
                op["overhead_windows"].append(
                    (s.start + epoch_offset, s.end + epoch_offset)
                )
            continue
        op["calls"][s.name] += 1
        op["self_s"][s.name] += selfs[i]
        op["layers_s"] += selfs[i]
        if outer[i]:
            op["incl_s"][s.name] += s.end - s.start
            op["span_windows"][s.name].append(
                (s.start + epoch_offset, s.end + epoch_offset)
            )
    return ops


def reconcile_error(pairs: list[tuple[float, float]]) -> float:
    """Share of wall time the layer spans fail to account for, over
    ``(wall_s, layers_s)`` pairs of operations: the summed absolute
    differences over the summed wall time. Time spent outside every layer
    span, and layer spans that overlap (concurrent spans on other threads),
    both raise it. Summed over operations because on a sub-millisecond
    operation (the denied read) the tracer's own microseconds would
    dominate a per-operation share."""
    wall = sum(w for w, _ in pairs)
    return sum(abs(w - layers) for w, layers in pairs) / wall if wall else 0.0
