"""Per-request spans and Spark counters for the traced run.

Spans are recorded from outside the engine, by wrapping its public
entry points (the operator modules, ``sources.readers``,
``sources.writers`` and ``streaming.runner.run_available_now``). A
wrapper replaces the function on its module and on every module of the
package that bound it at import (``from ... import fn``), so calls
through either name are seen. ``Tracer.uninstall`` puts the originals
back.

Spark's side comes from its public monitoring surfaces: the listener
bus is drained, then the jobs and stages of the request are read from
the UI's REST API (``/api/v1/applications/<id>/...``), and the Catalyst
phase times from the returned frame's ``QueryExecution`` tracker.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import inspect
import json
import pkgutil
import statistics
import sys
import threading
import time
import urllib.error
import urllib.request

PACKAGE = "bigdata_financial_reporting_spark"


class Span:
    __slots__ = ("id", "parent", "name", "layer", "start", "end", "attrs")

    def __init__(self, sid, parent, name, layer, start):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.start, self.end, self.attrs = start, None, {}

    def as_dict(self) -> dict:
        d = {k: getattr(self, k) for k in ("id", "parent", "name", "layer", "start", "end")}
        d.update(self.attrs)
        return d


def _public_functions(mod):
    """Plain functions defined in ``mod`` and not private. UDF objects
    (``udf``/``pandas_udf`` results carry ``evalType``) are left alone:
    Spark inspects their attributes."""
    for name, fn in sorted(vars(mod).items()):
        if (
            not name.startswith("_")
            and inspect.isfunction(fn)
            and fn.__module__ == mod.__name__
            and not hasattr(fn, "evalType")
        ):
            yield name, fn


def entry_points() -> list[tuple[object, str, str]]:
    """(module, function name, layer) for every wrapped entry point."""
    out = []
    ops = importlib.import_module(f"{PACKAGE}.operators")
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        out += [(mod, n, f"operators.{info.name}") for n, _ in _public_functions(mod)]
    for sub in ("readers", "writers"):
        mod = importlib.import_module(f"{PACKAGE}.sources.{sub}")
        out += [(mod, n, f"sources.{sub}") for n, _ in _public_functions(mod)]
    stream = importlib.import_module(f"{PACKAGE}.streaming.runner")
    out.append((stream, "run_available_now", "streaming"))
    return out


class Tracer:
    """Span recorder for one process; one request in flight at a time.

    Spans opened on the request's thread nest through a stack. A span
    opened on another thread (a ``foreachBatch`` callback runs on a py4j
    callback thread while the request thread waits in the drain) becomes
    a child of the request thread's innermost open span."""

    def __init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._main: list[Span] | None = None
        self._next = 0
        self.spans: list[Span] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if self._main is not None and threading.current_thread() is self._main_thread:
            return self._main
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_request(self) -> None:
        self.spans, self._main = [], []
        self._main_thread = threading.current_thread()

    def end_request(self) -> list[Span]:
        spans, self.spans, self._main = self.spans, [], None
        return spans

    @property
    def recording(self) -> bool:
        return self._main is not None

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._main:
            parent = self._main[-1].id
        else:
            parent = None
        with self._lock:
            sid, self._next = self._next, self._next + 1
            span = Span(sid, parent, name, layer, time.time())
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            span = tracer.open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                after(span)
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every entry point on its module and wherever the
        package's modules bound it at import."""
        pkg_mods = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))
        ]
        stream = importlib.import_module(f"{PACKAGE}.streaming.runner")

        def drained(span):
            prog = list(stream.LAST_DRAIN_PROGRESS)
            span.attrs["batches"] = len(prog)
            span.attrs["batch_s"] = sum(p.batchDuration for p in prog) / 1000.0
            last = prog[-1].stateOperators if prog else []
            span.attrs["state_rows"] = sum(op.numRowsTotal for op in last)

        for mod, name, layer in entry_points():
            orig = getattr(mod, name)
            after = drained if name == "run_available_now" else None
            wrapper = self._wrap(orig, f"{mod.__name__[len(PACKAGE) + 1:]}.{name}", layer, after)
            for m in pkg_mods:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapper)
                        self._patches.append((m, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            m, attr, orig = self._patches.pop()
            setattr(m, attr, orig)


# -- span arithmetic ----------------------------------------------------
def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the part its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_len(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, [])
            if c.end > s.start and c.start < s.end
        )
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_key(span: Span) -> str:
    """The per-layer bucket a span's self time goes to: the benchmark's
    own spans by name, ``sources.read_csv``-style names for readers,
    ``sources.write`` for writers, else the span's layer."""
    if span.layer in ("client", "queries", "runner"):
        return span.name
    if span.layer == "sources.readers":
        return "sources." + span.name.rsplit(".", 1)[1]
    if span.layer == "sources.writers":
        return "sources.write"
    return span.layer


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span open at time ``t`` (latest start wins)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# -- Spark monitoring -----------------------------------------------------
def epoch(ts: str | None) -> float | None:
    """REST timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    if not ts:
        return None
    d = dt.datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=dt.timezone.utc).timestamp()


class SparkProbe:
    """Reads a request's jobs, stages and cached blocks from Spark."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._next_job = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def skip_to_now(self) -> None:
        """Forget every job so far (the untraced set-up and rounds)."""
        self.drain()
        while True:
            try:
                self._get(f"/jobs/{self._next_job}")
            except urllib.error.HTTPError as e:
                if e.code == 404:
                    return
                raise
            self._next_job += 1

    def storage_bytes(self) -> int:
        self.drain()
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("/storage/rdd"))

    def new_jobs(self) -> list[dict]:
        """Every job submitted since the last call, in id order."""
        self.drain()
        jobs = []
        while True:
            try:
                jobs.append(self._get(f"/jobs/{self._next_job}"))
            except urllib.error.HTTPError as e:
                if e.code == 404:
                    return jobs
                raise
            self._next_job += 1

    def stages(self, jobs: list[dict], since: float) -> list[dict]:
        """The stage attempts the jobs ran. A stage skipped because an
        earlier job's shuffle output was reused is not counted again."""
        out, seen = [], set()
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for att in self._get(f"/stages/{sid}?details=true"):
                    sub = epoch(att.get("submissionTime"))
                    if att["status"] == "SKIPPED" or sub is None or sub < since - 0.001:
                        continue
                    out.append(att)
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) of a frame's query execution."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def stage_counters(stages: list[dict], t0: float, t1: float) -> dict[str, float]:
    """Per-request Spark counters from the request's stage attempts."""
    tasks = empty = failed = 0
    run_ms = gc_ms = 0
    cpu_ns = 0
    c = dict.fromkeys(
        ["shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
         "input_rows", "output_bytes", "output_rows"], 0,
    )
    intervals = []
    longest, longest_len = None, -1.0
    for st in stages:
        tasks += st["numTasks"]
        failed += st["numFailedTasks"]
        run_ms += st["executorRunTime"]
        cpu_ns += st["executorCpuTime"]
        gc_ms += st["jvmGcTime"]
        c["shuffle_read_bytes"] += st["shuffleReadBytes"]
        c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        c["input_bytes"] += st["inputBytes"]
        c["input_rows"] += st["inputRecords"]
        c["output_bytes"] += st["outputBytes"]
        c["output_rows"] += st["outputRecords"]
        s, e = epoch(st.get("submissionTime")), epoch(st.get("completionTime"))
        if s is not None and e is not None:
            intervals.append((max(s, t0), min(max(e, s), t1)))
            if e - s > longest_len:
                longest, longest_len = st, e - s
        for task in (st.get("tasks") or {}).values():
            m = task.get("taskMetrics") or {}
            rows = m.get("inputMetrics", {}).get("recordsRead", 0) + m.get(
                "shuffleReadMetrics", {}
            ).get("recordsRead", 0)
            empty += rows == 0
    busy = _union_len((s, e) for s, e in intervals if e > s)
    skew = 0.0
    if longest is not None:
        durs = [t.get("duration", 0) for t in (longest.get("tasks") or {}).values()]
        med = statistics.median(durs) if durs else 0
        skew = max(durs) / med if med else (1.0 if durs else 0.0)
    return {
        "stages": len(stages),
        "tasks": tasks,
        "empty_tasks": empty,
        "failed_tasks": failed,
        "stage_busy_s": busy,
        "driver_gap_s": max(0.0, (t1 - t0) - busy),
        "executor_run_s": run_ms / 1000.0,
        "executor_cpu_s": cpu_ns / 1e9,
        "gc_s": gc_ms / 1000.0,
        "task_skew": skew,
        **c,
    }
