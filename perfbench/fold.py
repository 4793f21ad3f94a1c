"""Pure folding math for the benchmark: no Spark, no I/O.

Everything here takes plain numbers or already-parsed event dicts, so
``perfbench/tests/test_fold.py`` checks it without starting a session.
Times are seconds since the epoch unless a name says otherwise.
"""

from __future__ import annotations

import statistics
from typing import Iterable

Span = tuple[float, float]

# the phases whose Spark jobs the traced run reports (RoundMetrics.phases keys)
SPARK_PHASES = ("schedule", "fetch", "link_discovery", "seen_filter", "stage_deltas")
SPARK_FIELDS = ("jobs", "task_s", "driver_gap_s", "shuffle_bytes", "spill_bytes",
                "python_bytes")
_PY_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def median(values: Iterable[float]) -> float:
    return float(statistics.median(list(values)))


def union_length(spans: Iterable[Span]) -> float:
    """Length of the union of half-open intervals (overlaps counted once)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(s for s in spans if s[1] > s[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(spans: Iterable[Span], lo: float, hi: float) -> list[Span]:
    return [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]


def driver_gap(window: Span, task_spans: Iterable[Span]) -> float:
    """Wall of ``window`` not covered by any task: driver-side latency."""
    lo, hi = window
    return (hi - lo) - union_length(clip(task_spans, lo, hi))


def round_start(commit_end: float, phases: dict[str, float]) -> float:
    """A round's start, from the end of its ``commit_round`` call.

    ``RoundMetrics.phases`` holds the wall between consecutive barriers in
    order; the ``commit`` entry closes right after ``commit_round``
    returns, so the round began that many phase-seconds earlier. A round
    that scheduled nothing commits after its only phase."""
    names = list(phases)
    upto = names[: names.index("commit") + 1] if "commit" in phases else names
    return commit_end - sum(phases[n] for n in upto)


def phase_windows(start: float, phases: dict[str, float]) -> list[tuple[str, float, float]]:
    """``[(phase, lo, hi)]`` laid end to end from the round start."""
    out, t = [], start
    for name, dur in phases.items():
        out.append((name, t, t + dur))
        t += dur
    return out


def assign_jobs(jobs: dict[int, float], windows: list[tuple[str, float, float]]
                ) -> dict[int, int]:
    """Map job id -> index of the window its submission time falls in.

    Jobs submitted outside every window (engine construction, checks) are
    left out."""
    out = {}
    for job_id, t in jobs.items():
        for i, (_, lo, hi) in enumerate(windows):
            if lo <= t < hi:
                out[job_id] = i
                break
    return out


def bloom_fill(popcount: int, n_bits: int) -> float:
    return popcount / n_bits


def est_fpr(fill: float, n_hashes: int) -> float:
    """False-positive rate of a Bloom filter at the given bit fill."""
    return fill ** n_hashes


def resume_s(construct_s: float, resume_wall_s: float, round_walls: Iterable[float]) -> float:
    """Resume overhead: construction plus the resumed ``run`` wall, less the
    rounds it ran."""
    return construct_s + resume_wall_s - sum(round_walls)


def fold_event_log(events: Iterable[dict], windows: list[tuple[str, float, float]]
                   ) -> tuple[dict[str, dict[str, float]], list[str]]:
    """Fold Spark listener events into per-phase totals.

    ``windows`` are ``(phase, lo, hi)`` in epoch seconds for every round
    measured. Returns ``({phase: {field: value}}, phases_without_jobs)``
    for the phases in ``SPARK_PHASES``; a phase without jobs reports zeros
    and is named in the second element."""
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job_submit[e["Job ID"]] = e["Submission Time"] / 1000.0
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    job_window = assign_jobs(job_submit, windows)
    acc = {p: {f: 0.0 for f in SPARK_FIELDS} for p in SPARK_PHASES}
    spans_by_window: dict[int, list[Span]] = {}
    for job_id, i in job_window.items():
        phase = windows[i][0]
        if phase in acc:
            acc[phase]["jobs"] += 1
    for t in tasks:
        job_id = stage_job.get(t.get("Stage ID"))
        i = job_window.get(job_id)
        if i is None or windows[i][0] not in acc:
            continue
        a = acc[windows[i][0]]
        info, met = t.get("Task Info", {}), t.get("Task Metrics") or {}
        spans_by_window.setdefault(i, []).append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
        a["task_s"] += met.get("Executor Run Time", 0) / 1000.0
        a["shuffle_bytes"] += met.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        a["spill_bytes"] += met.get("Memory Bytes Spilled", 0) + met.get("Disk Bytes Spilled", 0)
        a["python_bytes"] += sum(
            int(x.get("Update", 0)) for x in info.get("Accumulables", [])
            if x.get("Name") in _PY_ACCUMS)
    for i, (phase, lo, hi) in enumerate(windows):
        if phase in acc:
            acc[phase]["driver_gap_s"] += driver_gap((lo, hi), spans_by_window.get(i, []))
    missing = [p for p in SPARK_PHASES if acc[p]["jobs"] == 0]
    return acc, missing
