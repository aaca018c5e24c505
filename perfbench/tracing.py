"""Spans for the traced run, recorded from outside the library.

The traced run wraps the public entry points of each layer module with
a span (name, start, end, parent, run id). Each span also sets the
Spark local property ``perfbench.span`` for its thread, so every Spark
job it submits carries the span id into the event log. After the
session stops, :func:`read_event_log` attributes job, stage and task
metrics to spans; jobs submitted from threads that carry no span are
given to the innermost span open at their submission time.

Wrappers look the active tracer up through module functions, never
through a closure over it: a wrapped function captured by a pandas UDF
is pickled to Python workers, where no tracer exists and the wrapper
only calls through.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time

PROP = "perfbench.span"
_ACTIVE: "Tracer | None" = None


def _enter(name: str):
    return _ACTIVE.enter(name) if _ACTIVE is not None else None


def _exit(token, attrs: dict | None = None) -> None:
    if token is not None and _ACTIVE is not None:
        _ACTIVE.exit(token, attrs)


def wrap(fn, name: str, after=None):
    """``fn`` inside a span named ``name``. ``after(args, result)`` may
    return attributes stored on the span."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        token = _enter(name)
        attrs = None
        try:
            result = fn(*args, **kwargs)
            if after is not None:
                attrs = after(args, result)
            return result
        finally:
            _exit(token, attrs)

    traced.__wrapped_original__ = fn
    return traced


class Tracer:
    """In-memory span recorder; at most one is active per process."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.main_thread().ident
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def enter(self, name: str) -> int:
        ident = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(ident, [])
            if stack:
                parent = stack[-1]
            else:
                main = self._stacks.get(self._main) or [None]
                parent = main[-1] if ident != self._main else None
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "start": time.time(), "end": None,
                "parent": parent, "run": self.run_id, "attrs": {},
            })
            stack.append(sid)
        self.sc.setLocalProperty(PROP, str(sid))
        return sid

    def exit(self, sid: int, attrs: dict | None = None) -> None:
        span = self.spans[sid]
        span["end"] = time.time()
        if attrs:
            span["attrs"].update(attrs)
        with self._lock:
            stack = self._stacks[threading.get_ident()]
            stack.remove(sid)
            top = str(stack[-1]) if stack else None
        self.sc.setLocalProperty(PROP, top)

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.sid = tracer.enter(name)
                return self.sid

            def __exit__(self, *exc):
                tracer.exit(self.sid)

        return _Span()

    # -- patching ----------------------------------------------------------

    def _rebind(self, orig, wrapped) -> None:
        """Replace every module-level binding of ``orig`` in the library,
        including names other modules imported with ``from ... import``."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("slipstream_async_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, wrapped)
                    self._patches.append((mod, attr, orig))

    def wrap_module(self, module, layer: str, names=None) -> None:
        """Span every public function defined in ``module`` (or only
        ``names``) as ``{layer}.{function}``."""
        if names is None:
            names = [
                n for n, v in vars(module).items()
                if inspect.isfunction(v) and not n.startswith("_")
                and v.__module__ == module.__name__
            ]
        for n in names:
            orig = getattr(module, n)
            self._rebind(orig, wrap(orig, f"{layer}.{n}"))

    def wrap_method(self, cls, name: str, span_name: str, after=None) -> None:
        orig = cls.__dict__[name]
        setattr(cls, name, wrap(orig, span_name, after))
        self._patches.append((cls, name, orig))

    def __enter__(self):
        global _ACTIVE
        _ACTIVE = self
        return self

    def __exit__(self, *exc):
        global _ACTIVE
        _ACTIVE = None
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.sc.setLocalProperty(PROP, None)


# -- event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-job task metrics from an uncompressed Spark event log
    directory (the session must be stopped, so the file is complete)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files = sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(log_dir)
        # skip the rolling log's status marker and Hadoop .crc files
        for f in fs if not f.startswith(("appstatus", "."))
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    span = (ev.get("Properties") or {}).get(PROP)
                    jobs[jid] = {
                        "span": int(span) if span not in (None, "") else None,
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                        "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    job["tasks"] += 1
                    job["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    job["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    return jobs


def attribute_jobs(spans: list[dict], jobs: dict) -> None:
    """Give each job a span: its tag, else the innermost span open when
    it was submitted."""
    for job in jobs.values():
        if job["span"] is not None and job["span"] < len(spans):
            continue
        best = None
        for s in spans:
            if s["end"] is not None and s["start"] <= job["start"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        job["span"] = best["id"] if best is not None else None


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer not covered by the span's own child spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], []) if c["end"] is not None
        ]
        covered = _union([(lo, hi) for lo, hi in kids if hi > lo])
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + max(0.0, s["end"] - s["start"] - covered)
    return out


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans whose name starts with ``prefix`` and that have no ancestor
    that does too (so nested calls are not counted twice)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not s["name"].startswith(prefix) or s["end"] is None:
            continue
        p = s["parent"]
        while p is not None and not by_id[p]["name"].startswith(prefix):
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def under(spans: list[dict], root_prefix: str) -> set[int]:
    """Ids of spans named ``root_prefix``* and all their descendants."""
    by_id = {s["id"]: s for s in spans}
    ids = set()
    for s in spans:
        p = s["id"]
        while p is not None:
            if by_id[p]["name"].startswith(root_prefix):
                ids.add(s["id"])
                break
            p = by_id[p]["parent"]
    return ids


SPARK_FIELDS = ("tasks", "task_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes")


def spark_work(jobs: dict, span_ids: set[int]) -> dict[str, float]:
    """Summed job and task metrics of the jobs attributed to ``span_ids``."""
    out = {"jobs": 0, **{f: 0 for f in SPARK_FIELDS}}
    for job in jobs.values():
        if job["span"] in span_ids:
            out["jobs"] += 1
            for f in SPARK_FIELDS:
                out[f] += job[f]
    return out


def job_busy(jobs: dict, span_ids: set[int]) -> float:
    """Seconds during which at least one of these spans' jobs ran."""
    return _union([
        (j["start"], j["end"]) for j in jobs.values()
        if j["span"] in span_ids and j["end"] is not None
    ])
