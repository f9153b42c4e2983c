"""Span recorder for the traced benchmark run.

The recorder times calls into each engine module's public functions from
outside the engine: it replaces the function where callers look it up (the
module attribute, the class attribute for methods, and every other
``etl_spark`` module's binding made by ``from x import y``). Each span keeps
its name, layer, start, end, parent and trace id (one trace per applied
batch, stream trigger or lookup). Spans stay in memory until ``dump``.

While a span is open on a thread, Spark jobs submitted from that thread carry
the span's layer as their job description, so the Spark event log can be
split by layer afterwards (``spark_layer_metrics``).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import statistics
import sys
import threading
import time
from dataclasses import dataclass

# (module, attribute, layer). "Class.method" attributes are patched on the
# class. Every function here is part of the engine's public surface.
TARGETS = [
    ("etl_spark.session", "get_spark", "session"),
    ("etl_spark.cdc.apply", "replay_feed", "cdc.apply"),
    ("etl_spark.cdc.apply", "apply_batch", "cdc.apply"),
    ("etl_spark.lake.merge", "merge_into", "lake.merge"),
    ("etl_spark.cdc.bloom", "scan_batch_buckets", "cdc.bloom"),
    ("etl_spark.cdc.bloom", "any_possibly_seen", "cdc.bloom"),
    ("etl_spark.cdc.bloom", "build_bloom", "cdc.bloom"),
    ("etl_spark.lake.table", "LakeTable.write_bucket_files", "lake.table"),
    ("etl_spark.lake.table", "LakeTable.commit_version", "lake.table"),
    ("etl_spark.lake.table", "LakeTable.compact_small_files", "lake.table"),
    ("etl_spark.lake.table", "LakeTable.plan_point_lookup", "lake.table"),
    ("etl_spark.lake.mv", "ConvSummaryMV.refresh", "lake.mv"),
    ("etl_spark.lake.replicate", "sync_replica", "lake.replicate"),
    ("pyspark.sql.streaming.readwriter", "DataStreamWriter.foreachBatch", "cdc.stream"),
]

JOB_DESC = "spark.job.description"
TRIGGER = "cdc.stream.trigger"


@dataclass
class Span:
    sid: int
    parent: int | None
    trace: int
    name: str
    layer: str
    start: float
    end: float
    result: object = None


class Recorder:
    """In-memory span store. ``span`` is a context manager; ``install``
    wraps the TARGETS so engine calls record themselves."""

    def __init__(self, spark_context_getter=None):
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._sc = spark_context_getter

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @property
    def suppressed(self) -> bool:
        return getattr(self._tls, "off", False)

    @contextlib.contextmanager
    def suppress(self):
        """Record nothing on this thread inside the block (the untraced
        half of the in-run overhead comparison)."""
        prev = self.suppressed
        self._tls.off = True
        try:
            yield
        finally:
            self._tls.off = prev

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if self.suppressed:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        # one trace per root (rep, trigger, lookup), and per applied batch
        # outside a trigger (a trigger applies one batch)
        new_trace = parent is None or (
            name == "cdc.apply.apply_batch"
            and not any(s.name == TRIGGER for s in stack)
        )
        with self._lock:
            sid = next(self._ids)
            trace = next(self._traces) if new_trace else parent.trace
        sp = Span(sid, parent.sid if parent else None, trace, name, layer, 0.0, 0.0)
        sc = self._sc() if self._sc else None
        prev_desc = None
        if sc is not None:
            prev_desc = sc.getLocalProperty(JOB_DESC)
            sc.setJobDescription(layer)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(JOB_DESC, prev_desc)
            with self._lock:
                self.spans.append(sp)

    # ---------------------------------------------------------- patching
    def _wrap(self, fn, name: str, layer: str):
        rec = self

        if name.endswith("foreachBatch"):
            @functools.wraps(fn)
            def foreach_batch(writer, func):
                @functools.wraps(func)
                def trigger(df, epoch_id):
                    with rec.span(TRIGGER, layer):
                        return func(df, epoch_id)
                return fn(writer, trigger)
            return foreach_batch

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with rec.span(name, layer) as sp:
                out = fn(*a, **k)
                if sp is not None:
                    sp.result = _summarize(name, a, k, out)
                return out
        return wrapper

    def install(self) -> None:
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            owner, fname = mod, attr
            if "." in attr:
                cls_name, fname = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = getattr(owner, fname)
            wrapped = self._wrap(orig, f"{layer}.{fname}", layer)
            self._set(owner, fname, wrapped)
            if owner is mod:
                # consumers that did `from <mod> import <fname>`
                for name, m in list(sys.modules.items()):
                    if (
                        name.startswith("etl_spark.")
                        and m is not mod
                        and getattr(m, fname, None) is orig
                    ):
                        self._set(m, fname, wrapped)

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "sid": s.sid, "parent": s.parent, "trace": s.trace,
                    "name": s.name, "layer": s.layer,
                    "start": s.start, "end": s.end,
                }) + "\n")


def _summarize(name: str, args, kwargs, out):
    """Keep the part of a call's return value the layer metrics need."""
    if name.endswith("apply_batch"):
        table = args[1] if len(args) > 1 else kwargs["table"]
        return {"table": table.path, "stats": out}
    if name.endswith("sync_replica"):
        return {"stats": out}
    if name.endswith("plan_point_lookup"):
        return {"files": len(out["files"])}
    if name.endswith("compact_small_files"):
        return {"buckets": out}
    return None


class NullRecorder:
    """Stands in for ``Recorder`` in untraced runs."""

    @contextlib.contextmanager
    def span(self, name, layer):
        yield None

    @contextlib.contextmanager
    def suppress(self):
        yield


# ---------------------------------------------------------------- analysis
def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    return {s.sid: (s.end - s.start) - child.get(s.sid, 0.0) for s in spans}


def spark_layer_metrics(event_log: str, since_unix: float, per: int) -> dict[str, dict[str, float]]:
    """Per job-description task metrics of the jobs submitted after
    ``since_unix``, from a Spark event log: cpu_s, gc_s, shuffle_write_bytes
    and spill_bytes (totals divided by ``per``) and task_skew (max over
    median task run time per stage, weighted by the stage's run time)."""
    stage_layer: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if ev.get("Submission Time", 0) < since_unix * 1000:
                    continue
                layer = (ev.get("Properties") or {}).get(JOB_DESC) or "unlabelled"
                if not _is_layer(layer):
                    layer = "unlabelled"
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_layer:
                tm = ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append(tm)
    out: dict[str, dict[str, float]] = {}
    skew_num: dict[str, float] = {}
    skew_den: dict[str, float] = {}
    for sid, tms in tasks.items():
        layer = stage_layer[sid]
        agg = out.setdefault(layer, {
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0,
            "spill_bytes": 0.0, "task_skew": 1.0,
        })
        run = [tm.get("Executor Run Time", 0) for tm in tms]
        agg["cpu_s"] += sum(tm.get("Executor CPU Time", 0) for tm in tms) / 1e9
        agg["gc_s"] += sum(tm.get("JVM GC Time", 0) for tm in tms) / 1e3
        agg["shuffle_write_bytes"] += sum(
            (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for tm in tms
        )
        agg["spill_bytes"] += sum(
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for tm in tms
        )
        med = statistics.median(run)
        if len(run) >= 2 and med > 0:
            skew_num[layer] = skew_num.get(layer, 0.0) + sum(run) * max(run) / med
            skew_den[layer] = skew_den.get(layer, 0.0) + sum(run)
    for layer, agg in out.items():
        for k in ("cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
            agg[k] /= per
        if skew_den.get(layer):
            agg["task_skew"] = skew_num[layer] / skew_den[layer]
    return out


def _is_layer(desc: str) -> bool:
    return any(desc == layer for _, _, layer in TARGETS) or desc == "bench"
