"""Spans around the package's public functions, recorded from outside
the program, and the Spark event-log parser that splits engine work by
span.

A span is entered by a wrapper the benchmark installs on a module
attribute; while it is open, Spark jobs carry a job group
``<op>|<span path>``, so every job, stage and task in the event log can
be attributed to the op and to each span on its path."""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

ENGINE = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "fetch_wait_s",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "python_rows",
    "python_bytes",
    "files_read",
)

_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_s", 1e-3),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
}

# SQL metrics of the Python-evaluation operators (PythonSQLMetrics)
_PY_METRICS = {
    "number of output rows": "python_rows",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


class Tracer:
    def __init__(self):
        self.enabled = False
        self.sc = None
        self.op = 0
        self._stack: list[str] = []
        self._tails: list[list[tuple[str, float, int]]] = []
        self.spans: list[tuple[int, str, float]] = []  # (op, name, seconds)
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans

    def _set_group(self) -> None:
        if self.sc is None:
            return
        group = f"{self.op}|{'/'.join(self._stack)}" if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)

    def _push(self, name: str) -> None:
        self._stack.append(name)
        self._tails.append([])
        self._set_group()

    def _pop(self, name: str, seconds: float) -> None:
        for tail, t0, depth in self._tails.pop():
            self._stack = self._stack[:depth]
            self.spans.append((self.op, tail, time.perf_counter() - t0))
        self._stack.pop()
        self.spans.append((self.op, name, seconds))
        self._set_group()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._push(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._pop(name, time.perf_counter() - t0)

    def open_tail(self, name: str) -> None:
        """Open ``name`` as a sibling that ends with the enclosing span:
        it times the caller's remaining work after a wrapped call
        returns (work with no public function of its own to wrap)."""
        if not self.enabled or not self._tails:
            return
        depth = len(self._stack)
        self._tails[-1].append((name, time.perf_counter(), depth))
        self._stack = self._stack + [name]
        self._set_group()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[(self.op, name)] += value

    # -------------------------------------------------------- wrappers

    def wrap(self, owner, attr: str, name: str, after=None, tail: str | None = None) -> None:
        """Replace ``owner.attr`` by a spanned call. ``after(result,
        args, kwargs)`` runs inside the span to record counts."""
        orig = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if after is not None and tracer.enabled:
                    after(out, args, kwargs)
            if tail is not None:
                tracer.open_tail(tail)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def wrap_context(self, owner, attr: str, name: str) -> None:
        """Span only the ``__enter__`` of a context-manager factory
        (time spent acquiring, not holding)."""
        orig = getattr(owner, attr)
        tracer = self

        @contextlib.contextmanager
        def spanned(*args, **kwargs):
            with contextlib.ExitStack() as stack:
                with tracer.span(name):
                    stack.enter_context(orig(*args, **kwargs))
                yield

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


# ------------------------------------------------------------- event log


def parse_event_log(path: str) -> dict[tuple[int, str], dict[str, float]]:
    """{(op, span): engine counters} summed over every job whose group
    path contains the span (inclusive of child spans); span ``*`` holds
    the op's total."""
    job_key: dict[int, tuple[int, list[str]]] = {}
    stage_key: dict[int, tuple[int, list[str]]] = {}
    exec_key: dict[int, tuple[int, list[str]]] = {}
    acc_kind: dict[int, str] = {}
    accum_updates: list[tuple[int, list]] = []
    out: dict[tuple[int, str], dict[str, float]] = defaultdict(lambda: dict.fromkeys(ENGINE, 0.0))

    def add(key, field, v):
        op, path = key
        for span in path + ["*"]:
            out[(op, span)][field] += v

    def plan_metrics(info):
        py = any(k in info.get("nodeName", "") for k in ("Python", "Arrow", "Pandas"))
        for m in info.get("metrics", []):
            if py and m["name"] in _PY_METRICS:
                acc_kind[m["accumulatorId"]] = _PY_METRICS[m["name"]]
            elif m["name"] == "number of files read":
                acc_kind[m["accumulatorId"]] = "files_read"
        for child in info.get("children", []):
            plan_metrics(child)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if not group or "|" not in group:
                    continue
                op, spath = group.split("|", 1)
                key = (int(op), spath.split("/"))
                job_key[ev["Job ID"]] = key
                for sid in ev.get("Stage IDs", []):
                    stage_key.setdefault(sid, key)
                if props.get("spark.sql.execution.id") is not None:
                    exec_key.setdefault(int(props["spark.sql.execution.id"]), key)
                add(key, "jobs", 1)
            elif kind == "SparkListenerStageCompleted":
                key = stage_key.get(ev["Stage Info"]["Stage ID"])
                if key is not None:
                    add(key, "stages", 1)
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                if key is None:
                    continue
                add(key, "tasks", 1)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    upd = a.get("Update")
                    if not isinstance(upd, (int, float)):
                        try:
                            upd = float(upd)
                        except (TypeError, ValueError):
                            continue
                    name = a.get("Name", "")
                    if name in _TASK_METRICS:
                        field, scale = _TASK_METRICS[name]
                        add(key, field, upd * scale)
                    elif a.get("ID") in acc_kind:
                        add(key, acc_kind[a["ID"]], upd)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plan_metrics(ev.get("sparkPlanInfo") or {})
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                accum_updates.append((ev["executionId"], ev.get("accumUpdates", [])))
    for exec_id, updates in accum_updates:
        key = exec_key.get(exec_id)
        if key is None:
            continue
        for acc_id, v in updates:
            if acc_kind.get(acc_id) == "files_read":
                add(key, "files_read", v)
    return out
