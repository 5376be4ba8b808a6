"""Per-layer metrics of a traced run.

Every value is per timed operation (one micro-batch) of the traced
rounds. Span metrics: ``calls``, ``busy_s`` (summed span durations) and
``self_s`` (minus the time covered by child spans). Event-log metrics
(``jobs``, ``tasks``, ``shuffle_write_mb``, ``spill_mb``) sum the jobs
started inside the span or any span below it. Time outside every
top-level span is ``unattributed``, and so are jobs no span started.
"""

from __future__ import annotations

import eventlog
from spans import descendants, span_tree_stats

#: span name → the metrics reported for it
SPAN_METRICS = {
    "streaming.run_batch": ("calls", "busy_s", "self_s", "jobs", "tasks",
                            "shuffle_write_mb"),
    "sources.archive.poll": ("calls", "busy_s"),
    "operators.merge_into": ("calls", "busy_s", "self_s", "jobs", "tasks",
                             "shuffle_write_mb", "spill_mb"),
    "icebox.write_data_files": ("calls", "busy_s", "jobs"),
    "icebox.write_delete_files": ("calls", "busy_s"),
    "icebox.commit": ("calls", "busy_s"),
    "icebox.read": ("busy_s", "jobs", "tasks"),
    "icebox.fold_deletes": ("calls", "busy_s"),
    "icebox.compact": ("calls", "busy_s"),
}
UNITS = {"calls": "count", "busy_s": "s", "self_s": "s", "jobs": "count",
         "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB"}
EXTRA = {
    "sources.archive.decode.task_s": "s",
    "sources.archive.decode.tasks": "count",
    "sources.archive.records_per_task_s": "1/s",
    "operators.merge_into.mor_share": "ratio",
    "icebox.dead_row_ratio": "ratio",
    "icebox.files_live": "count",
    "unattributed.busy_s": "s",
    "unattributed.jobs": "count",
    "trace.coverage_pct": "%",
    "trace.overhead_pct": "%",
}
PER_LAYER = {
    **{f"{span}.{stat}": UNITS[stat]
       for span, stats in SPAN_METRICS.items() for stat in stats},
    **EXTRA,
}
#: the stage scope of the archive decode (ArchiveTailer.poll returns a
#: lazy frame, so its decode runs inside whichever span forces it)
DECODE_SCOPE = "MapInPandas"


def _throughput(rounds: list[dict]) -> float:
    secs = sum(r["seconds"] for r in rounds)
    return sum(r["units"] for r in rounds) / secs if secs else 0.0


def per_layer(spans, event_logs: list[str], rounds: list[dict],
              layout: list[dict], cores: int) -> tuple[dict, list[str]]:
    """``(metrics, table)``: the PER_LAYER metrics and a printable table of
    every span seen, both per operation of the traced rounds, followed by
    the share of a batch that ``merge_into`` and the archive decode take
    (the decode's share is its task time spread over ``cores``, a lower
    bound of its wall time)."""
    traced = [r for r in rounds if r["traced"]]
    # round 0 still warms up, so the overhead compares later plain rounds
    plain = [r for r in rounds[1:] if not r["traced"]]
    ops = sum(r["ops"] for r in traced) or 1
    wall = sum(r["seconds"] for r in traced)
    jobs = []
    for path in event_logs:
        with open(path) as f:
            jobs.extend(eventlog.reduce_event_log(f))
    windows = [r["wall"] for r in traced]
    in_window = [j for j in jobs
                 if any(lo <= j["submit_s"] <= hi for lo, hi in windows)]
    by_span: dict[int, list[dict]] = {}
    for j in jobs:
        if j["span"] is not None:
            by_span.setdefault(int(j["span"]), []).append(j)
    below = descendants(spans)
    stats = span_tree_stats(spans)
    for name, st in stats.items():
        acc = eventlog.sum_jobs([
            j for sp in spans if sp.name == name
            for i in below[sp.id] for j in by_span.get(i, [])
        ])
        st.update(acc)
    top = sum(sp.end - sp.start for sp in spans if sp.parent is None)

    out: dict[str, float] = {}
    for span, keys in SPAN_METRICS.items():
        st = stats.get(span, {})
        for k in keys:
            out[f"{span}.{k}"] = st.get(k, 0) / ops
    decode = eventlog.sum_jobs(in_window, scope=DECODE_SCOPE)
    records = sum(ln["events_in"] + ln.get("quarantined", 0)
                  for r in traced for ln in r["lineages"])
    out["sources.archive.decode.task_s"] = decode["executor_run_s"] / ops
    out["sources.archive.decode.tasks"] = decode["tasks"] / ops
    out["sources.archive.records_per_task_s"] = (
        records / decode["executor_run_s"] if decode["executor_run_s"] else 0.0)
    modes = [ln["mode"] for r in traced for ln in r["lineages"] if "mode" in ln]
    out["operators.merge_into.mor_share"] = (
        modes.count("mor") / len(modes) if modes else 0.0)
    out["icebox.dead_row_ratio"] = (
        sum(x["dead_row_ratio"] for x in layout) / len(layout) if layout else 0.0)
    out["icebox.files_live"] = (
        sum(x["files_live"] for x in layout) / len(layout) if layout else 0.0)
    out["unattributed.busy_s"] = (wall - top) / ops
    out["unattributed.jobs"] = sum(1 for j in in_window if j["span"] is None) / ops
    out["trace.coverage_pct"] = 100.0 * top / wall if wall else 0.0
    tp_traced, tp_plain = _throughput(traced), _throughput(plain)
    out["trace.overhead_pct"] = (
        100.0 * (tp_plain / tp_traced - 1.0) if tp_traced and tp_plain else 0.0)

    cols = ("calls", "busy_s", "self_s", "jobs", "tasks", "executor_cpu_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
    table = [f"{'span (per operation)':32s}" + "".join(f"{c:>17s}" for c in cols)]
    for name in sorted(stats):
        table.append(f"{name:32s}" + "".join(
            f"{stats[name].get(c, 0) / ops:17.4f}" for c in cols))
    table.append(f"{'unattributed':32s}{'':17s}{out['unattributed.busy_s']:17.4f}"
                 f"{'':17s}{out['unattributed.jobs']:17.4f}")
    table.append(
        f"# traced rounds {len(traced)}, operations {ops}, wall {wall:.3f} s; "
        f"top-level spans cover {out['trace.coverage_pct']:.1f}%; "
        f"throughput traced {tp_traced:.1f}/s vs plain rounds {tp_plain:.1f}/s "
        f"(overhead {out['trace.overhead_pct']:.1f}%)")
    batch = out["streaming.run_batch.busy_s"]
    if batch:
        merge = out["operators.merge_into.busy_s"]
        dec = out["sources.archive.decode.task_s"] / cores
        line = f"# per batch {batch:.3f} s: merge_into {merge:.3f} s ({100 * merge / batch:.0f}%)"
        if dec:
            line += f", archive decode >= {dec:.3f} s ({100 * dec / batch:.0f}%)"
        table.append(f"{line}, rest {batch - merge - dec:.3f} s")
    return ({k: {"value": out[k], "unit": PER_LAYER[k]} for k in PER_LAYER},
            table)
