"""Per-job-group execution numbers from an uncompressed Spark event log.

Spark writes one JSON event per line. The parser keeps the jobs whose
properties pass ``keep`` (the benchmark tags timed jobs with a local
property), maps each stage to the job that listed it first, and sums task
metrics per job group (``spark.jobGroup.id``; jobs without one count under
``""``). Skipped stages never emit task events, so they add nothing.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Callable, Iterable

GROUP_PROP = "spark.jobGroup.id"

_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


def _empty() -> dict[str, float]:
    return {f: 0.0 for f in _FIELDS}


def _merge_intervals(spans: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def parse_event_log(lines: Iterable[str], keep: Callable[[dict], bool]) -> dict:
    """Sum task metrics per job group.

    Returns ``{"groups": {group: {jobs, stages, tasks, task_run_s,
    task_cpu_s, gc_s, shuffle_read_mb, shuffle_write_mb, spill_mb,
    exec_wall_s}}, "jobs": {job_id: {"group", "props"}}}`` where
    ``exec_wall_s`` is the time during which at least one of the group's
    jobs was running.
    """
    job_group: dict[int, str] = {}
    job_props: dict[int, dict] = {}
    job_start: dict[int, float] = {}
    job_span: dict[str, list[tuple[float, float]]] = defaultdict(list)
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = defaultdict(_empty)

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if not keep(props):
                continue
            jid = ev["Job ID"]
            group = props.get(GROUP_PROP) or ""
            job_group[jid] = group
            job_props[jid] = props
            job_start[jid] = ev.get("Submission Time", 0) / 1000.0
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                end = ev.get("Completion Time", 0) / 1000.0
                job_span[job_group[jid]].append((job_start[jid], end))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group:
                groups[stage_group[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_group:
                continue
            m = ev.get("Task Metrics") or {}
            g = groups[stage_group[sid]]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            g["tasks"] += 1
            g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6

    out = {}
    for group, g in groups.items():
        out[group] = dict(g, exec_wall_s=_merge_intervals(job_span[group]))
    return {
        "groups": out,
        "jobs": {j: {"group": job_group[j], "props": job_props[j]} for j in job_group},
        "exec_wall_s": _merge_intervals(s for spans in job_span.values() for s in spans),
    }


def totals(parsed: dict) -> dict[str, float]:
    """All kept groups summed, plus ``parallelism`` = task run time over
    the wall during which any kept job ran."""
    tot = _empty()
    for g in parsed["groups"].values():
        for f in _FIELDS:
            tot[f] += g[f]
    wall = parsed["exec_wall_s"]
    tot["exec_wall_s"] = wall
    tot["parallelism"] = tot["task_run_s"] / wall if wall > 0 else 0.0
    return tot
