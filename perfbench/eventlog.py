"""Reduce a Spark event log (uncompressed JSON lines) to per-job stats.

Each job carries the ``perfbench.span`` local property of the span that
started it (None when no span was open on that thread). Task metrics are
summed per job, and separately per stage *scope*: the operator names in a
stage's RDD scopes, so lazy work such as ``MapInPandas`` decode can be
attributed to the stages that ran it, whichever span triggered them.
"""

from __future__ import annotations

import json

from spans import SPAN_PROPERTY

STATS = (
    "tasks", "executor_cpu_s", "executor_run_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb",
)
MB = float(1 << 20)


def _zero() -> dict:
    return {k: 0 for k in STATS}


def _task_stats(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "tasks": 1,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "spill_mb": tm.get("Disk Bytes Spilled", 0) / MB,
    }


def _add(acc: dict, st: dict) -> None:
    for k in STATS:
        acc[k] += st[k]


def reduce_event_log(lines) -> list[dict]:
    """Per job, in submission order: ``{"job", "span", "submit_s", **STATS,
    "scopes": {scope name: STATS}}``. ``lines`` is any iterable of JSON
    strings (an open event-log file)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_scopes: dict[int, set[str]] = {}
    tasks: list[tuple[int, dict]] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "job": jid,
                "span": props.get(SPAN_PROPERTY),
                "submit_s": ev.get("Submission Time", 0) / 1e3,
                **_zero(),
                "scopes": {},
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            names = stage_scopes.setdefault(info["Stage ID"], set())
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    names.add(json.loads(scope).get("name", ""))
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.append((ev["Stage ID"], _task_stats(ev["Task Metrics"])))
    for sid, st in tasks:
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        _add(job, st)
        for name in stage_scopes.get(sid, ()):
            _add(job["scopes"].setdefault(name, _zero()), st)
    return [jobs[j] for j in sorted(jobs)]


def sum_jobs(jobs: list[dict], scope: "str | None" = None) -> dict:
    """Sum STATS (plus a ``jobs`` count) over ``jobs``; with ``scope``,
    only over the stages whose scopes include that operator name."""
    acc = {"jobs": 0, **_zero()}
    for j in jobs:
        if scope is None:
            acc["jobs"] += 1
            _add(acc, j)
        elif scope in j["scopes"]:
            acc["jobs"] += 1
            _add(acc, j["scopes"][scope])
    return acc
