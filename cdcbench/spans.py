"""Spans around calls into the engine's layers, and the Spark event-log
parser that attributes task metrics to them.

Nothing here is imported by the engine: the traced run patches the entry
points from outside and undoes the patches when it ends.

* A span is (id, name, start, end, parent, workload, run). Spans live in
  memory and are written out once, at the end of the run.
* Every span sets the Spark local property ``cdcbench.span`` to its id while
  it is open, so each job, stage and task in the event log names the
  innermost span that submitted it.
* A span's self time is its duration minus the part of it that its child
  spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import statistics
import threading
import time

SPAN_PROP = "cdcbench.span"

# (module, attribute, span name): module-level functions whose callers bind
# the name at import time, so the patch has to replace the module attribute
MODULE_WRAPS = [
    ("data_pipeline_spark.cdc.apply", "normalize_events", "cdc.apply.normalize"),
    ("data_pipeline_spark.cdc.apply", "apply_batch", "cdc.apply.batch"),
    ("data_pipeline_spark.cdc.stream", "apply_batch", "cdc.apply.batch"),
]
# IceboxTable methods, patched on the class
METHOD_WRAPS = {
    "load": "icebox.load",
    "stage_delta": "icebox.stage_delta",
    "commit_staged_delta": "icebox.publish",
    "compact_if_needed": "icebox.compact",
    "commit_rewrite": "icebox.commit_rewrite",
    "read": "icebox.read",
    "lookup": "icebox.lookup",
    "buckets_for_keys": "icebox.lookup.buckets_for_keys",
    "changes": "icebox.changes",
    "prune_delta_buckets": "icebox.prune_delta_buckets",
}


class Tracer:
    """Span recorder. Disabled, ``span`` is a bare context manager that
    records nothing and touches no Spark property."""

    def __init__(self, spark, workload: str, run: int, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.run = run
        self.enabled = enabled
        self.spans: list[dict] = []
        # pruning decisions seen by lookups: (span id, keys, live sets)
        self.probes: list[tuple[int, list, list[set]]] = []
        # one stack for all threads: foreachBatch callbacks run on a py4j
        # callback thread while the main thread blocks inside run_stream,
        # so the callback's spans are children of the run_stream span
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "start": time.time(), "end": None,
                   "parent": parent, "workload": self.workload, "run": self.run}
            self.spans.append(rec)
            self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            with self._lock:
                self._stack.remove(sid)
                top = self._stack[-1] if self._stack else None
            self.sc.setLocalProperty(SPAN_PROP, None if top is None else str(top))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_prune(self, fn):
        @functools.wraps(fn)
        def wrapper(table, keys=None, wanted=None):
            with self.span("icebox.prune_delta_buckets") as sid:
                out = fn(table, keys, wanted)
            if keys is not None:
                self.probes.append((sid, list(keys), [set(s) for s in out]))
            return out

        return wrapper

    def install(self) -> None:
        """Patch the engine's entry points (undone by ``uninstall``)."""
        if not self.enabled:
            return
        from data_pipeline_spark.icebox.table import IceboxTable

        # read every original before patching any: a module imported
        # after a patch would bind the wrapper and get wrapped twice
        targets = [
            (mod, attr, getattr(mod, attr), name)
            for mod, attr, name in (
                (importlib.import_module(m), a, n) for m, a, n in MODULE_WRAPS
            )
        ]
        for mod, attr, orig, name in targets:
            setattr(mod, attr, self._wrap(orig, name))
            self._undo.append((mod, attr, orig))
        for attr, name in METHOD_WRAPS.items():
            orig = IceboxTable.__dict__[attr]
            if isinstance(orig, staticmethod):
                new = staticmethod(self._wrap(orig.__func__, name))
            elif attr == "prune_delta_buckets":
                new = self._wrap_prune(orig)
            else:
                new = self._wrap(orig, name)
            setattr(IceboxTable, attr, new)
            self._undo.append((IceboxTable, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ----------------------------------------------------------- event log


class EventLog:
    """Task metrics from a Spark event log, keyed by the span that submitted
    each stage."""

    def __init__(self, log_dir: str):
        self.stage_span: dict[int, int | None] = {}
        self.job_span: dict[int, int | None] = {}
        self.tasks: dict[int, list[dict]] = {}  # span id -> task records
        files = sorted(
            p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(p) and not p.endswith(".inprogress.crc")
        )
        pending: list[dict] = []
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        span = _span_of(ev.get("Properties"))
                        self.job_span[ev["Job ID"]] = span
                        for st in ev.get("Stage IDs", []):
                            self.stage_span.setdefault(st, span)
                    elif kind == "SparkListenerStageSubmitted":
                        st = ev["Stage Info"]["Stage ID"]
                        span = _span_of(ev.get("Properties"))
                        if span is not None:
                            self.stage_span[st] = span
                    elif kind == "SparkListenerTaskEnd":
                        pending.append(ev)
        for ev in pending:
            span = self.stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            self.tasks.setdefault(span, []).append(
                {
                    "stage": ev["Stage ID"],
                    "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "gc_ms": m.get("JVM GC Time", 0),
                    "records_in": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                }
            )


def _span_of(props) -> int | None:
    v = (props or {}).get(SPAN_PROP)
    return int(v) if v not in (None, "") else None


# ----------------------------------------------------------- aggregation


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total


class SpanIndex:
    """Spans of one run restricted to the timed window, with subtree helpers."""

    def __init__(self, spans: list[dict], t0: float, t1: float):
        self.all = {s["id"]: s for s in spans}
        self.spans = [s for s in spans if s["start"] >= t0 and s["end"] <= t1]
        self.t0, self.t1 = t0, t1
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dur(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children.get(s["id"], [])]
        return self.dur(s) - _covered(kids, s["start"], s["end"])

    def subtree(self, s: dict) -> list[int]:
        out, todo = [], [s["id"]]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(c["id"] for c in self.children.get(i, []))
        return out

    def under(self, s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if self.all[p]["name"] == name:
                return True
            p = self.all[p]["parent"]
        return False

    def top_level_coverage(self) -> float:
        tops = [(s["start"], s["end"]) for s in self.spans if s["parent"] is None]
        return _covered(tops, self.t0, self.t1) / max(self.t1 - self.t0, 1e-9)


def _tasks(log: EventLog, idx: SpanIndex, spans: list[dict]) -> list[dict]:
    out = []
    for s in spans:
        for i in idx.subtree(s):
            out.extend(log.tasks.get(i, []))
    return out


def _cpu_frac(tasks: list[dict]) -> float:
    run = sum(t["run_ms"] for t in tasks)
    return sum(t["cpu_ms"] for t in tasks) / run if run else 0.0


def _skew(tasks: list[dict]) -> float:
    """max/median task time of the stage holding the most task time."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    if not by_stage:
        return 0.0
    heavy = max(by_stage.values(), key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med else 0.0


def layer_metrics(idx: SpanIndex, log: EventLog, facts: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the timed phase: name -> (value, unit).

    ``facts`` carries what only the workload knows: events per apply call,
    live rows, stream progress, on-disk sizes and the true key locations of
    the probed deltas.
    """
    m: dict[str, tuple[float, str]] = {}
    batches = idx.named("cdc.apply.batch")
    m["cdc.apply.batch_s_p50"] = (_p50([idx.dur(s) for s in batches]), "s")
    m["cdc.apply.normalize_s_p50"] = (
        _p50([idx.dur(s) for s in idx.named("cdc.apply.normalize")]), "s")
    m["cdc.apply.self_s_p50"] = (_p50([idx.self_time(s) for s in batches]), "s")
    jobs_per_span: dict[int | None, int] = {}
    for span in log.job_span.values():
        jobs_per_span[span] = jobs_per_span.get(span, 0) + 1
    m["cdc.apply.jobs_per_batch"] = (
        _p50([sum(jobs_per_span.get(i, 0) for i in idx.subtree(s)) for s in batches]),
        "count",
    )
    m["cdc.stream.overhead_s_p50"] = (_p50(facts.get("stream_overhead_s", [])), "s")
    m["cdc.stream.load_s_p50"] = (
        _p50([idx.dur(s) for s in idx.named("icebox.load")
              if idx.under(s, "cdc.stream.run")]), "s")

    stage = idx.named("icebox.stage_delta")
    m["icebox.stage_delta_s_p50"] = (_p50([idx.dur(s) for s in stage]), "s")
    st_tasks = _tasks(log, idx, stage)
    events = facts.get("timed_events", 0)
    m["icebox.stage_delta.shuffle_bytes_per_event"] = (
        sum(t["shuffle_bytes"] for t in st_tasks) / events if events else 0.0, "bytes")
    m["icebox.stage_delta.task_skew"] = (
        _p50([_skew(_tasks(log, idx, [s])) for s in stage]), "ratio")
    run_ms = sum(t["run_ms"] for t in st_tasks)
    m["icebox.stage_delta.gc_frac"] = (
        sum(t["gc_ms"] for t in st_tasks) / run_ms if run_ms else 0.0, "ratio")
    m["icebox.publish_s_p50"] = (
        _p50([idx.dur(s) for s in idx.named("icebox.publish")]), "s")
    m["icebox.manifest_bytes"] = (float(facts["manifest_bytes"]), "bytes")
    m["icebox.data_bytes_per_event"] = (facts["data_bytes_per_event"], "bytes")
    m["icebox.files_per_commit"] = (facts["files_per_commit"], "count")

    compacts = idx.named("icebox.compact")
    m["icebox.compact_s"] = (sum(idx.dur(s) for s in compacts), "s")
    m["icebox.compact_bytes_rewritten"] = (float(facts.get("compact_bytes", 0)), "bytes")

    scans = idx.named("bench.scan")
    live = facts["live_rows"]
    m["icebox.read_s_p50"] = (_p50([idx.dur(s) for s in scans]), "s")
    m["icebox.read.plan_s_p50"] = (
        _p50([idx.dur(s) for s in idx.named("icebox.read") if s["parent"] is not None
              and idx.all[s["parent"]]["name"] == "bench.scan"]), "s")
    m["icebox.read.rows_in_per_row_out"] = (
        _p50([sum(t["records_in"] for t in _tasks(log, idx, [s])) / live
              for s in scans]) if live else 0.0, "ratio")
    m["icebox.read.tasks"] = (_p50([len(_tasks(log, idx, [s])) for s in scans]), "count")

    lookups = idx.named("bench.lookup")
    m["icebox.lookup.buckets_for_keys_s_p50"] = (
        _p50([idx.dur(s) for s in idx.named("icebox.lookup.buckets_for_keys")]), "s")
    lookup_ids = {i for s in lookups for i in idx.subtree(s)}
    kept, useful = [], 0
    holds = facts.get("delta_key_buckets", [])  # per delta: {bucket: set(keys)}
    for sid, keys, live_sets in facts.get("probes", []):
        if sid not in lookup_ids:
            continue
        kept.append(sum(len(s) for s in live_sets))
        probe = set(keys)
        for i, live in enumerate(live_sets[: len(holds)]):
            useful += sum(1 for b in live if holds[i].get(b, set()) & probe)
    m["icebox.lookup.deltas_scanned"] = (_p50(kept), "count")
    m["icebox.lookup.deltas_useful_frac"] = (
        useful / sum(kept) if sum(kept) else 0.0, "ratio")
    changes = idx.named("bench.changes")
    m["icebox.changes.rows_in"] = (
        _p50([sum(t["records_in"] for t in _tasks(log, idx, [s])) for s in changes]),
        "count")

    for short, spans in (
        ("apply", batches), ("stage_delta", stage), ("compact", compacts),
        ("scan", scans), ("lookup", lookups), ("changes", changes),
    ):
        m[f"spark.cpu_frac.{short}"] = (_cpu_frac(_tasks(log, idx, spans)), "ratio")
    m["trace.top_level_coverage"] = (idx.top_level_coverage(), "ratio")
    return m
