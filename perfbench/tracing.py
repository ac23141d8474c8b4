"""Spans around tiflow_spark's entry points, installed from outside the
package, and the Spark event-log analysis that turns them into per-layer
metrics.

A span wraps one call: name, start, end, and the span that was open on the
same thread when it began (its parent). While a span is open, the Spark
local property ``perfbench.span`` carries its id, so every job it submits
is attributed to it in the event log; shuffle bytes, task time and GC come
from the tasks of those jobs. A span's self time is its duration minus the
time its child spans cover.

Spans record only inside a tracing window (``Tracer.window`` or
``start_window``/``end_window``), so a traced run can interleave untraced
operations and report the tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from pathlib import Path

PROP = "perfbench.span"

# (module, class or None, attribute, span name). Three MERGE steps and the
# checksums have no public entry point; they are wrapped by attribute.
SPANS = [
    ("tiflow_spark.engine", None, "read_control", "engine.read_control"),
    ("tiflow_spark.engine", None, "validate_resolved_contract",
     "engine.validate_resolved_contract"),
    ("tiflow_spark.engine", "ChangefeedEngine", "run", "engine.run"),
    ("tiflow_spark.engine", "ChangefeedEngine", "apply_slice", "engine.apply_slice"),
    ("tiflow_spark.engine", "ChangefeedEngine", "advance_to", "engine.advance_to"),
    ("tiflow_spark.engine", "ChangefeedEngine", "validate_applied_rows",
     "engine.validate_applied_rows"),
    ("tiflow_spark.lake", "LakeTable", "create", "lake.create"),
    ("tiflow_spark.lake", "LakeTable", "merge", "lake.merge"),
    ("tiflow_spark.lake", "LakeTable", "_write_data", "lake.write_data"),
    ("tiflow_spark.lake", None, "_file_key_stats", "lake.file_key_stats"),
    ("tiflow_spark.lake", "LakeTable", "_commit", "lake.commit"),
    ("tiflow_spark.lake", "LakeTable", "_checksums_of_entries", "lake.checksums"),
    ("tiflow_spark.lake", "LakeTable", "_verify_entries", "lake.verify"),
    ("tiflow_spark.streaming.changefeed_stream", "StreamingChangefeed",
     "_apply_batch", "streaming.apply_batch"),
    ("tiflow_spark.sinks.mq", "MQChangefeed", "run", "mq.publish"),
    ("tiflow_spark.sinks.mq", "FileMQSink", "write_epoch", "mq.write_epoch"),
    ("tiflow_spark.sinks.mq", None, "topic_to_log", "mq.relay"),
]
CHECKSUM_SPANS = {"lake.checksums", "lake.verify"}

class Span:
    __slots__ = ("sid", "name", "parent", "t0", "t1")

    def __init__(self, sid, name, parent, t0):
        self.sid, self.name, self.parent, self.t0, self.t1 = sid, name, parent, t0, None


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self.window_s = 0.0
        self.gc_s = 0.0
        self._w0 = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._restore = []
        self.span_table: dict = {}

    # ------------------------------------------------------------ install
    def install(self) -> None:
        for mod, cls, attr, name in SPANS:
            owner = importlib.import_module(mod)
            if cls is not None:
                owner = getattr(owner, cls)
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))
            self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def _wrap(self, orig, name):
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        return traced

    @contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), name, stack[-1].sid if stack else None,
                     time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        self.sc.setLocalProperty(PROP, str(s.sid))
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(PROP, str(stack[-1].sid) if stack else None)

    # ------------------------------------------------------------ windows
    def _gc_total_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(max(b.getCollectionTime(), 0)
                   for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def start_window(self) -> None:
        self._w0 = (time.perf_counter(), self._gc_total_s())
        self.enabled = True

    def end_window(self) -> None:
        self.enabled = False
        if self._w0 is not None:
            t0, gc0 = self._w0
            self.window_s += time.perf_counter() - t0
            self.gc_s += self._gc_total_s() - gc0
            self._w0 = None

    @contextmanager
    def window(self):
        self.start_window()
        try:
            yield
        finally:
            self.end_window()

    # ----------------------------------------------------------- analysis
    def layer_metrics(self, eventlog_dir: Path, n_ops: int, cores: int) -> dict:
        """Per-layer metrics per traced operation, from the closed spans
        and the (finished) Spark event log."""
        spans = {s.sid: s for s in self.spans if s.t1 is not None}
        kids = defaultdict(list)
        for s in spans.values():
            if s.parent in spans:
                kids[s.parent].append(s)

        def self_time(s: Span) -> float:
            return (s.t1 - s.t0) - _covered(s.t0, s.t1, kids[s.sid])

        def chain(sid) -> list[str]:
            names = []
            while sid in spans:
                names.append(spans[sid].name)
                sid = spans[sid].parent
            return names

        total, own, calls = defaultdict(float), defaultdict(float), defaultdict(int)
        # the MERGE steps, counted only under lake.merge (bootstrap's
        # create() writes, harvests footers and commits too)
        merge_total, merge_own, merge_calls = (
            defaultdict(float), defaultdict(float), defaultdict(int))
        for s in spans.values():
            total[s.name] += s.t1 - s.t0
            own[s.name] += self_time(s)
            calls[s.name] += 1
            if "lake.merge" in chain(s.parent):
                merge_total[s.name] += s.t1 - s.t0
                merge_own[s.name] += self_time(s)
                merge_calls[s.name] += 1
        checksum = sum(
            s.t1 - s.t0 for s in spans.values()
            if s.name in CHECKSUM_SPANS
            and not CHECKSUM_SPANS & set(chain(s.parent))
        )

        jobs, stages = read_event_log(eventlog_dir)
        traced = {j: job for j, job in jobs.items() if job["span"] in spans}
        apply_jobs = fold_bytes = merge_bytes = busy_ms = 0
        skews = []
        for job in traced.values():
            names = chain(job["span"])
            busy_ms += job["run_ms"]
            if "engine.apply_slice" in names:
                apply_jobs += 1
            if names[0] == "engine.apply_slice":
                fold_bytes += job["shuffle_write"]
            if "lake.merge" in names and not CHECKSUM_SPANS & set(names):
                merge_bytes += job["shuffle_write"]
                for st in job["stages"]:
                    times = stages.get(st, {}).get("read_task_ms")
                    if times and statistics.median(times) > 0:
                        skews.append(max(times) / statistics.median(times))

        per = 1.0 / max(n_ops, 1)
        self.span_table = {
            name: {"calls": calls[name], "total_s": total[name],
                   "self_s": own[name], "per_op_s": total[name] * per}
            for name in sorted(total)
        }
        return {
            "engine.control_read.s": total["engine.read_control"] * per,
            "engine.contract_validate.s":
                total["engine.validate_resolved_contract"] * per,
            "engine.apply.self_s": own["engine.apply_slice"] * per,
            "engine.fold.shuffle_bytes": fold_bytes * per,
            "engine.apply.calls": calls["engine.apply_slice"] * per,
            "engine.apply.spark_jobs": apply_jobs * per,
            "engine.validate_rows.s": total["engine.validate_applied_rows"] * per,
            "lake.create.s": total["lake.create"] * per,
            "lake.merge.self_s": own["lake.merge"] * per,
            "lake.write.s": merge_own["lake.write_data"] * per,
            "lake.merge.shuffle_bytes": merge_bytes * per,
            "lake.merge.task_skew": statistics.median(skews) if skews else 0.0,
            "lake.footer_stats.s": merge_total["lake.file_key_stats"] * per,
            "lake.footer_stats.calls": merge_calls["lake.file_key_stats"] * per,
            "lake.commit.s": merge_total["lake.commit"] * per,
            "lake.checksum.s": checksum * per,
            "mq.publish.s": total["mq.publish"] * per,
            "mq.write_epoch.s": total["mq.write_epoch"] * per,
            "mq.relay.s": total["mq.relay"] * per,
            "spark.jobs": len(traced) * per,
            "spark.executor_busy_frac":
                busy_ms / 1000.0 / max(self.window_s * cores, 1e-9),
            "jvm.gc_s": self.gc_s * per,
        }


def maybe(tracer: Tracer | None, traced: bool):
    """A tracing window when ``traced``, else nothing."""
    return tracer.window() if tracer is not None and traced else nullcontext()


def _covered(t0: float, t1: float, children: list[Span]) -> float:
    """Length of [t0, t1] covered by the union of the children's spans."""
    out, end = 0.0, t0
    for c in sorted(children, key=lambda c: c.t0):
        lo, hi = max(c.t0, end), min(c.t1, t1)
        if hi > lo:
            out += hi - lo
            end = hi
    return out


def read_event_log(eventlog_dir: Path) -> tuple[dict, dict]:
    """Jobs (span id, stages, task run time, shuffle bytes written) and
    per-stage task times of exchange-reading tasks, from a finished,
    uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: {"read_task_ms": []})
    stage_job: dict[int, int] = {}
    for fp in sorted(p for p in Path(eventlog_dir).rglob("*") if p.is_file()):
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(PROP)
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "span": int(sid) if sid is not None else None,
                        "stages": list(ev.get("Stage IDs", [])),
                        "run_ms": 0, "shuffle_write": 0,
                    }
                    for st in jobs[jid]["stages"]:
                        stage_job[st] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    run_ms = m.get("Executor Run Time", 0)
                    job["run_ms"] += run_ms
                    job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    if sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0):
                        stages[ev["Stage ID"]]["read_task_ms"].append(run_ms)
    return jobs, dict(stages)
