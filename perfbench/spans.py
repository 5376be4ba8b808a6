"""Spans around the calls the benchmark makes into each layer.

The tracer patches public functions of the engine's modules from the
outside; the engine itself is not edited. A wrapper must replace a name
where its caller looks it up, so the targets below name the module that
*imports* a function when the caller bound it at import time
(``streaming.pipeline`` imports ``merge_into``), and the defining module
when the caller imports it at call time (``icebox.maintenance``).

Every span sets the Spark local property ``perfbench.span`` to its id for
the jobs it starts, so the event log can be reduced per span. Jobs started
from other threads do not carry it and are reported as unattributed.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import time
from dataclasses import dataclass

from summary import self_time

SPAN_PROPERTY = "perfbench.span"

#: (module, attribute path, span name): the attribute is looked up on the
#: module, then each dotted part in turn, so methods patch on their class
TARGETS = (
    ("kafka_connect_gcs_spark.streaming.pipeline", "CdcPipeline.run_batch_df",
     "streaming.run_batch"),
    ("kafka_connect_gcs_spark.streaming.pipeline", "merge_into",
     "operators.merge_into"),
    ("kafka_connect_gcs_spark.sources.archive", "ArchiveTailer.poll",
     "sources.archive.poll"),
    ("kafka_connect_gcs_spark.icebox.table", "IceboxTable.write_data_files",
     "icebox.write_data_files"),
    ("kafka_connect_gcs_spark.icebox.table", "IceboxTable.write_delete_files",
     "icebox.write_delete_files"),
    ("kafka_connect_gcs_spark.icebox.table", "IceboxTable.commit",
     "icebox.commit"),
    ("kafka_connect_gcs_spark.icebox.maintenance", "fold_deletes",
     "icebox.fold_deletes"),
    ("kafka_connect_gcs_spark.icebox.maintenance", "compact", "icebox.compact"),
)


@dataclass
class Span:
    id: int
    name: str
    parent: "int | None"
    start: float
    end: float = 0.0


class Tracer:
    """Records spans in memory while ``enabled``; wrappers installed by
    :meth:`install` cost one attribute check when it is off."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    def _set_property(self, span: "Span | None") -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span is None else str(span.id)
            )

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None,
                  time.perf_counter())
        self._stack.append(sp)
        self._set_property(sp)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_property(parent)
            self.spans.append(sp)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets=TARGETS) -> None:
        for module, path, name in targets:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = getattr(owner, attr)
            self._patched.append((owner, attr, original))
            setattr(owner, attr, self.wrap(original, name))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def span_tree_stats(spans: list[Span]) -> dict:
    """Per span name: ``calls``, ``busy_s`` (summed durations) and
    ``self_s`` (durations minus the time covered by child spans)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out: dict[str, dict] = {}
    for sp in spans:
        st = out.setdefault(sp.name, {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
        st["calls"] += 1
        st["busy_s"] += sp.end - sp.start
        st["self_s"] += self_time(
            (sp.start, sp.end),
            [(c.start, c.end) for c in children.get(sp.id, [])],
        )
    return out


def descendants(spans: list[Span]) -> dict[int, set[int]]:
    """Span id → ids of the span and every span below it."""
    kids: dict[int, list[int]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp.id)
    out: dict[int, set[int]] = {}

    def walk(i: int) -> set[int]:
        if i not in out:
            acc = {i}
            for k in kids.get(i, []):
                acc |= walk(k)
            out[i] = acc
        return out[i]

    for sp in spans:
        walk(sp.id)
    return out
