"""Tracing for the benchmark's traced runs.

Spans (name, start, end, parent) are recorded around calls into the
engine's layers by replacing the layer functions from outside: each
function is swapped in every ``limeqo_spark`` module that holds a
reference to it, because modules import functions by name (``live`` holds
its own ``run_steered``, ``plan_hash`` and ``complete_log_space``;
``strategies`` its own ``als_complete``). Spans stay in memory and are
written once, when the run ends.

Spark-side work (jobs, stages, tasks, executor run and GC time, shuffle
and spill) comes from Spark's own event log, grouped by the job group the
work ran under.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        #: [name, start, end, parent index]
        self.spans: list[list] = []
        self._local = threading.local()
        self._undo: list[Callable[[], None]] = []
        self.counters: dict[str, float] = defaultdict(float)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> list:
        stack = self._stack()
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None]
        stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def end(self, rec: list) -> None:
        rec[2] = time.perf_counter()
        self._stack().pop()

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.rec = tracer.begin(name)
                return self.rec

            def __exit__(self, *exc):
                tracer.end(self.rec)
                return False

        return _Span()

    def wrap(self, name: str, fn: Callable, on_result: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(rec)
            if on_result is not None:
                on_result(rec, args, out)
            return out

        return traced

    # --- installing wrappers ---
    def patch_everywhere(self, orig: Callable, replacement: Callable) -> int:
        """Replace ``orig`` with ``replacement`` in every loaded engine
        module that refers to it by name; returns how many names moved."""
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("limeqo_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    self.patch_attr(mod, attr, replacement)
                    n += 1
        if n == 0:
            raise RuntimeError(f"nothing refers to {orig!r}; the layer moved")
        return n

    def patch_function(self, orig: Callable, name: str, on_result=None) -> None:
        self.patch_everywhere(orig, self.wrap(name, orig, on_result))

    def patch_attr(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``unpatch``."""
        self._undo.append(functools.partial(setattr, owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def patch_method(self, cls: type, attr: str, name: str, on_result=None) -> None:
        self.patch_attr(cls, attr, self.wrap(name, cls.__dict__[attr], on_result))

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span under the current parent."""
        stack = self._stack()
        self.spans.append([name, start, end, stack[-1] if stack else None])

    def patch_context(self, orig: Callable, enter_name: str, exit_name: str) -> None:
        """Record entering and leaving a context manager as two spans,
        leaving its body out."""
        tracer = self

        class _Timed:
            def __init__(self, *args, **kwargs):
                self.inner = orig(*args, **kwargs)

            def __enter__(self):
                t = time.perf_counter()
                try:
                    return self.inner.__enter__()
                finally:
                    tracer.record(enter_name, t, time.perf_counter())

            def __exit__(self, *exc):
                t = time.perf_counter()
                try:
                    return self.inner.__exit__(*exc)
                finally:
                    tracer.record(exit_name, t, time.perf_counter())

        self.patch_everywhere(orig, _Timed)

    def unpatch(self) -> None:
        while self._undo:
            self._undo.pop()()

    # --- reading spans ---
    def durations(self, name: str, within: list | None = None) -> list[float]:
        lo, hi = (within[1], within[2]) if within else (float("-inf"), float("inf"))
        return [
            s[2] - s[1] for s in self.spans
            if s[0] == name and s[2] is not None and s[1] >= lo and s[2] <= hi
        ]

    def child_time(self, rec: list) -> float:
        """Wall covered by the direct children of span ``rec``."""
        idx = next(i for i, s in enumerate(self.spans) if s is rec)
        return sum(
            s[2] - s[1] for s in self.spans if s[3] == idx and s[2] is not None
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, start, end, parent) in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": name, "parent": parent,
                    "start": start - self.t0,
                    "end": None if end is None else end - self.t0,
                }) + "\n")


#: per-group totals read from the event log
EVENT_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes",
)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Totals per job group from an uncompressed Spark event log: jobs,
    completed stages, tasks, executor run and GC seconds, shuffle bytes
    written and bytes spilled to disk."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)]
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_FIELDS, 0.0))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    m = ev.get("Task Metrics") or {}
                    g = out[group]
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def sum_groups(groups: dict[str, dict[str, float]], pred: Callable[[str], bool]) -> dict[str, float]:
    total = dict.fromkeys(EVENT_FIELDS, 0.0)
    for g, vals in groups.items():
        if pred(g):
            for k in EVENT_FIELDS:
                total[k] += vals[k]
    return total
