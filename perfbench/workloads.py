"""The benchmark's workloads, their inputs, and their output checks.

Each workload is a function ``(ctx, res)`` that

1. sets up its seed-fixed inputs ``SETUP_REPS`` times (the median is
   ``setup_s``),
2. fetches the oracle digest of those inputs (computed once per feed and
   seed, then cached on disk),
3. runs one untimed warm-up operation, then timed operations for at least
   ``ctx.seconds``,
4. checks every operation's output against the oracle and counts each
   mismatch or error as a failed operation.

Only the public API of ``tiflow_spark`` is called; the engine sees nothing
but the generated files. See README.md in this directory for why each
workload exists and which layer metric should move on which of them.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import tracing
from tiflow_spark import generator
from tiflow_spark import oracle as tf_oracle
from tiflow_spark.engine import ChangefeedEngine, write_control_coverage
from tiflow_spark.lake import LakeTable
from tiflow_spark.session import get_spark
from tiflow_spark.sinks import mq as tf_mq
from tiflow_spark.streaming import StreamingChangefeed

KEY = ["conv_id", "turn_idx"]
DML = ["I", "U", "D"]
NUM_BUCKETS = 16
SETUP_REPS = 3
DRIVER_MEM = "2g"
# Spark task threads per workload. mq-relay's round trip is mostly
# driver-side work (job scheduling, the Python driver, the JVM's own
# threads). On a 4-core VM that shares its host, more task threads made it
# time the host: at local[2] a round trip took 6.1-11.2 s as other guests'
# load came and went, at local[1] 6.1-6.3 s over the same minutes.
# tail-lag's epochs rewrite every bucket of the table and need the task
# threads: at local[1] an epoch took 7-13 s, against 4-5 s at local[4].
SPARK_CORES = {"tail-lag": os.cpu_count() or 1, "mq-relay": 1}
ADD_NOTE = (0.5, {"action": "add_column", "name": "note", "type": "string",
                  "default": ""})
# mq-relay times one wire, so that its figures measure one codec. The binary
# wire costs 10-25 s a crossing, mostly fixed; it runs once, in trace mode
# only, and its figures go to the record.
MQ_WIRE = "open-json"
MQ_BINARY_WIRE = "craft"
# tail-lag has no DDL: a DDL epoch is slower than its neighbours, and where
# it falls among a run's few epochs would set the lag percentiles
DDL_PLANS = {"tail-lag": [], "mq-relay": [ADD_NOTE]}

# Feed shapes. Every feed: Zipf keys, 5% of events on one hot key.
FEEDS = {
    # one segment per resolved mark, all published on a fixed schedule
    "tail-lag": {
        "full": dict(n_convs=2_000, turns_per_conv=10, n_changes=11_250,
                     resolved_every=75),
        "tiny": dict(n_convs=60, turns_per_conv=4, n_changes=600,
                     resolved_every=50),
    },
    "mq-relay": {
        "full": dict(n_convs=2_000, turns_per_conv=10, n_changes=10_000,
                     resolved_every=1_000),
        "tiny": dict(n_convs=60, turns_per_conv=4, n_changes=600,
                     resolved_every=100),
    },
}
# tail-lag's schedule starts with a warm part of TAIL_WARM_TRIGGERS
# triggers of the stream below, whose marks are checked but not measured.
# The measured part is TAIL_SCHEDULE_X × --seconds, cut to whole triggers:
# two at --seconds 10.
TAIL_WARM_TRIGGERS = 1
TAIL_SCHEDULE_X = 2
# tail-lag's stream fires every TAIL_TRIGGER_S seconds, as a deployed tail
# would; trigger 0 busy-polls the driver. An epoch then takes in a fixed
# TAIL_TRIGGER_S of feed, and a mark's lag is its wait for the next trigger
# plus that epoch's time. With trigger 0, a slow stretch of the host made
# each epoch longer and so the next one bigger: lag grew faster than the
# host slowed, and its run-to-run spread exceeded 0.3 of the median. The
# interval leaves room for a fresh JVM's first epoch, about 7 s.
TAIL_TRIGGER_S = 10.0
MIN_OPS = 2          # mq-relay: timed operations per run, whatever
                     # ctx.seconds says
WARM_OPS = 2         # mq-relay: untimed round trips first. After one, the
                     # next round trip is still 10-40% slower than later
                     # ones, and it set latency_p90_s.
DRAIN_S = 45.0       # tail-lag: a mark not committed this long after the
                     # last scheduled publish counts as failed
LATE_LIMIT_S = 0.25  # tail-lag: producer lateness that makes a run invalid


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e_metrics: dict = field(default_factory=dict)    # name -> value
    layer_metrics: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)

    def check(self, ok: bool) -> bool:
        self.attempted += 1
        self.failed += 0 if ok else 1
        return ok


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    corrupt: bool
    run_dir: Path
    cache_dir: Path
    spark: object = None
    tracer: tracing.Tracer | None = None

    @property
    def size(self) -> str:
        return "tiny" if self.tiny else "full"

    def feed_spec(self) -> dict:
        """Every argument the workload's feed is generated from."""
        return dict(seed=self.seed, hot_key_frac=0.05,
                    ddl_plan=DDL_PLANS[self.workload],
                    **FEEDS[self.workload][self.size])

    def start_spark(self) -> float:
        t0 = time.perf_counter()
        conf = {
            "spark.driver.memory": DRIVER_MEM,
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            # the heap starts small and grows with use, so peak RSS shows
            # how much heap the engine needed
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData "
                "-XX:+UseParallelGC",
        }
        if self.trace:
            (self.run_dir / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.run_dir / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{self.workload}",
                               cpus=SPARK_CORES[self.workload],
                               extra_conf=conf)
        if self.trace:
            self.tracer = tracing.Tracer(self.spark)
            self.tracer.install()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, then end the JVM and wait for it: the gateway
        JVM exits when its stdin closes."""
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def generate(self, out_dir: Path) -> generator.GeneratedFeed:
        return generator.generate_changefeed(str(out_dir), **self.feed_spec())

    def cached(self, kind: str, compute):
        """Oracle results keyed by workload, feed spec and the sources of
        the generator and the oracle, cached across runs."""
        src = b"".join(
            Path(m.__file__).read_bytes()
            for m in (generator, tf_oracle)
        )
        key = hashlib.sha256(json.dumps(
            [kind, self.workload, self.feed_spec(), generator.FEED_VERSION,
             hashlib.sha256(src).hexdigest()],
            sort_keys=True,
        ).encode()).hexdigest()[:32]
        fp = self.cache_dir / f"{key}.json"
        if fp.exists():
            return json.loads(fp.read_text()), 0.0
        t0 = time.perf_counter()
        value = compute()
        elapsed = time.perf_counter() - t0
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = fp.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(value))
        os.replace(tmp, fp)
        return value, elapsed


# --------------------------------------------------------------- helpers
def setup_reps(one_rep) -> tuple[float, list]:
    """Run ``one_rep(i)`` SETUP_REPS times; median wall time + outputs."""
    times, outs = [], []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        outs.append(one_rep(i))
        times.append(time.perf_counter() - t0)
    return statistics.median(times), outs


def pctl(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def table_digest(pdf: pd.DataFrame) -> str:
    """Canonical form of a table: key-sorted rows, nulls as None,
    timestamps as second-resolution ISO strings; sha256 of its JSON."""
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].dt.strftime("%Y-%m-%dT%H:%M:%S")
    out = out.sort_values(KEY).reset_index(drop=True)
    out = out.astype(object).where(pd.notnull(out), None)
    rows = [list(out.columns)] + out.values.tolist()
    return hashlib.sha256(json.dumps(rows, default=str).encode()).hexdigest()


def lake_digest(ctx: Context, table: LakeTable) -> str:
    return table_digest(table.read(ctx.spark).toPandas())


def dml_events(log_path: str) -> pa.Table:
    t = pq.read_table(log_path, columns=["op", "commit_ts", *KEY])
    return t.filter(pc.is_in(t["op"], pa.array(DML)))


def dml_multiset_digest(t: pa.Table) -> tuple[int, str]:
    """(count, sha256) of the sorted (key, op, commit_ts) multiset."""
    pdf = t.select([*KEY, "op", "commit_ts"]).to_pandas()
    pdf = pdf.sort_values([*KEY, "op", "commit_ts"]).reset_index(drop=True)
    rows = pdf.astype(object).where(pd.notnull(pdf), None).values.tolist()
    return len(rows), hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def live_files(table: LakeTable) -> list[Path]:
    return [Path(table.path) / e["path"] for e in table.current_manifest()["files"]]


def corrupt_one_file(files: list[Path]) -> str:
    """Rewrite the first of ``files`` that has a non-key string value with
    that value changed — a silent, schema-valid corruption."""
    for fp in files:
        t = pq.read_table(fp)
        for i, f in enumerate(t.schema):
            if f.name in KEY or not pa.types.is_string(f.type) or not len(t):
                continue
            vals = t.column(i).to_pylist()
            vals[0] = f"corrupted-{vals[0]}"
            pq.write_table(t.set_column(i, f, pa.array(vals, f.type)), fp,
                           coerce_timestamps="us", allow_truncated_timestamps=True)
            # drop the Hadoop checksum sidecar so the change stays silent
            fp.with_name(f".{fp.name}.crc").unlink(missing_ok=True)
            return str(fp)
    raise RuntimeError("no corruptible data file")


def peak_rss_mb(ctx: Context) -> float:
    """VmHWM of this driver process plus the Spark JVM."""
    pids = [os.getpid()]
    proc = getattr(ctx.spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def jvm_peak_heap_mb(ctx: Context) -> float:
    """Sum of the JVM heap pools' peak used bytes, from MemoryPoolMXBeans."""
    mf = ctx.spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().name() == "HEAP") / 2**20


def manifest_epochs(table: LakeTable) -> list[dict]:
    """Per committed epoch, read from the manifests and the files they
    list (outside the program): buckets rewritten, files/bytes/rows
    written, manifest size, checkpoint range and commit (mtime) time."""
    mdir = Path(table.path) / "_manifests"
    names = sorted(mdir.glob("m*.json"))
    out, prev = [], None
    for fp in names:
        m = json.loads(fp.read_text())
        if prev is not None:
            old = {e["path"] for e in prev["files"]}
            new = [e for e in m["files"] if e["path"] not in old]
            rows = sum(pq.ParquetFile(Path(table.path) / e["path"]).metadata.num_rows
                       for e in new)
            out.append({
                "epoch": m["epoch"],
                "low_ts": prev["checkpoint_ts"], "high_ts": m["checkpoint_ts"],
                "commit_time": fp.stat().st_mtime,
                "buckets_rewritten": len({e["bucket"] for e in new}),
                "files_written": len(new),
                "bytes_written": sum((Path(table.path) / e["path"]).stat().st_size
                                     for e in new),
                "rows_written": rows,
                "manifest_bytes": fp.stat().st_size,
            })
        prev = m
    return out


class KeysChanged:
    """Distinct keys with a DML event in a commit_ts range, precomputed
    from the feed so rows_written_per_key_changed is an exact ratio."""

    def __init__(self, log_path: str):
        t = dml_events(log_path)
        ts = t["commit_ts"].to_numpy()
        keys = pd.factorize(pd.Series(t["conv_id"].to_pylist()) + "|"
                            + pd.Series(t["turn_idx"].to_pylist()).astype(str))[0]
        order = np.argsort(ts, kind="stable")
        self.ts, self.keys = ts[order], keys[order]

    def between(self, low_ts: int, high_ts: int) -> int:
        lo = np.searchsorted(self.ts, low_ts, side="right")
        hi = np.searchsorted(self.ts, high_ts, side="right")
        return int(np.unique(self.keys[lo:hi]).size)


def lake_counts(epochs: list[dict], keys: KeysChanged) -> dict:
    if not epochs:
        return {}
    changed = sum(keys.between(e["low_ts"], e["high_ts"]) for e in epochs)
    n = len(epochs)
    return {
        "lake.buckets_rewritten_frac":
            sum(e["buckets_rewritten"] for e in epochs) / (n * NUM_BUCKETS),
        "lake.rows_written_per_key_changed":
            sum(e["rows_written"] for e in epochs) / max(changed, 1),
        "lake.bytes_written": sum(e["bytes_written"] for e in epochs) / n,
        "lake.manifest_bytes": sum(e["manifest_bytes"] for e in epochs) / n,
        "lake.files_written": sum(e["files_written"] for e in epochs) / n,
    }


def finish(ctx: Context, res: Result, *, throughput, lat, setup_s, ops,
           untraced_lat=None, traced_lat=None, extra_layer=None) -> None:
    """Fill the end-to-end metrics, and in trace mode the per-layer ones."""
    res.record["jvm_peak_heap_mb"] = jvm_peak_heap_mb(ctx)
    res.e2e_metrics = {
        "throughput_per_s": throughput,
        "latency_p50_s": pctl(lat, 50),
        "latency_p90_s": pctl(lat, 90),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb(ctx),
    }
    res.record["latency_samples"] = len(lat)
    if len(lat) <= 32:
        res.record["latencies_s"] = [round(x, 3) for x in lat]
    res.record["e2e"] = dict(res.e2e_metrics)
    tracer = ctx.tracer
    ctx.stop()
    if tracer is None:
        return
    layer = tracer.layer_metrics(ctx.run_dir / "eventlog", ops,
                                 SPARK_CORES[ctx.workload])
    layer.update(extra_layer or {})
    res.record["traced_ops"] = ops
    res.record["spans"] = tracer.span_table
    if traced_lat and untraced_lat:
        traced, untraced = statistics.median(traced_lat), statistics.median(untraced_lat)
        layer["trace.overhead_frac"] = traced / untraced - 1
        res.record["trace_overhead"] = {
            "untraced_latency_p50_s": untraced,
            "traced_latency_p50_s": traced,
            "traced_minus_untraced_s": traced - untraced,
        }
    res.layer_metrics = layer


def _guard(res: Result, what: str, fn) -> bool:
    """Run one checked operation; an exception is a failed operation."""
    try:
        ok = fn()
    except Exception:
        print(f"perfbench: {what} failed:", flush=True)
        traceback.print_exc()
        ok = False
    return res.check(ok)


def _trace_op(ctx: Context, i: int) -> bool:
    """Trace mode alternates untraced and traced operations."""
    return ctx.tracer is not None and i % 2 == 1


# -------------------------------------------------------------- tail-lag
def split_segments(log_path: str, staging: Path) -> list[dict]:
    """Cut the generated log after every R row: one data segment plus its
    control rows per resolved mark, written to ``staging`` for the
    producer to publish by rename."""
    staging.mkdir(parents=True)
    t = pq.read_table(log_path)
    ops = t["op"].to_pylist()
    ends = [i for i, op in enumerate(ops) if op == "R"]
    segs, start = [], 0
    for k, end in enumerate(ends):
        seg = t.slice(start, end + 1 - start)
        seg_fp = staging / f"changefeed-{k:05d}.parquet"
        ctl_fp = staging / f"control-{k:05d}.parquet"
        pq.write_table(seg, seg_fp)
        pq.write_table(seg.filter(pc.is_in(seg["op"], pa.array(["R", "DDL"]))),
                       ctl_fp)
        segs.append({
            "seg": seg_fp, "ctl": ctl_fp,
            "mark_ts": t["commit_ts"][end].as_py(),
            "dml": int(pc.sum(pc.is_in(seg["op"], pa.array(DML))).as_py()),
        })
        start = end + 1
    return segs


class Producer(threading.Thread):
    """Open-loop publisher: segment i goes live at ``t0 + i * interval``
    (wall clock) by atomic rename, its control rows are mirrored into
    ``_control`` and the coverage mark is refreshed. Records how late it
    ran against that schedule."""

    def __init__(self, log_dir: Path, segs: list[dict], t0: float,
                 interval: float, on_publish=None):
        super().__init__(name="perfbench-producer", daemon=True)
        self.log_dir, self.segs = log_dir, segs
        self.t0, self.interval = t0, interval
        self.on_publish = on_publish
        self.due: list[float] = []
        self.lateness: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for i, s in enumerate(self.segs):
                due = self.t0 + i * self.interval
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                if self.on_publish is not None:
                    self.on_publish(i)
                publish_segment(self.log_dir, s)
                self.due.append(due)
                self.lateness.append(time.time() - due)
        except Exception as e:  # surfaced by the main thread after join
            self.error = e


def publish_segment(log_dir: Path, s: dict) -> None:
    os.rename(s["ctl"], log_dir / "_control" / s["ctl"].name)
    os.rename(s["seg"], log_dir / s["seg"].name)
    write_control_coverage(str(log_dir))


def checkpoint_ts(table: LakeTable) -> int:
    m = table.current_manifest()
    return -1 if m is None else m["checkpoint_ts"]


def tail_lag(ctx: Context, res: Result) -> None:
    """Checkpoint lag while tailing: a Structured Streaming tail
    (processing-time trigger every ``TAIL_TRIGGER_S``, continuous validator
    on) over a log that a producer thread extends one resolved mark at a
    time on a fixed schedule (open loop)."""
    spark = ctx.spark

    def one_setup(i):
        d = ctx.run_dir / f"setup{i}"
        feed = ctx.generate(d / "gen")
        log_dir = d / "log"
        (log_dir / "_control").mkdir(parents=True)
        eng = ChangefeedEngine(
            str(log_dir), LakeTable(str(d / "target"), num_buckets=NUM_BUCKETS),
            validate_after_apply=True, validate_rows=True,
        )
        eng.bootstrap(spark, feed.base_path)
        return feed, eng, d

    setup_s, setups = setup_reps(one_setup)
    feed, eng, d = setups[-1]
    if ctx.corrupt:
        corrupt_one_file(live_files(eng.table))
    trigger = TAIL_TRIGGER_S
    t0 = time.time()
    stream = StreamingChangefeed(eng, str(d / "stream-checkpoint"))
    q = stream.start(spark, trigger_seconds=trigger)
    segs = split_segments(feed.log_path, d / "staging")
    want, oracle_s = ctx.cached("table", lambda: table_digest(
        tf_oracle.sequential_apply(feed.base_path, feed.log_path)))
    measured = max(1, int(TAIL_SCHEDULE_X * ctx.seconds / trigger))
    warm_s = TAIL_WARM_TRIGGERS * trigger
    schedule_s = warm_s + measured * trigger
    interval = schedule_s / len(segs)
    n_warm = round(warm_s / interval)
    trace_at = n_warm + (len(segs) - n_warm) // 2
    res.record.update(
        oracle_s=oracle_s, base_rows=feed.n_base_rows, marks_offered=len(segs),
        schedule_s=schedule_s, warm_s=warm_s, trigger_s=trigger,
        offered_marks_per_s=1 / interval,
        offered_events_per_s=sum(s["dml"] for s in segs) / schedule_s,
        shape="open loop, fixed schedule",
    )
    try:
        # The trigger fires on wall-clock multiples of its interval, and the
        # stream lists the log a little later. The schedule puts a mark a
        # quarter interval before each trigger and the next one three
        # quarters after, so every run splits its marks into the same epochs
        # with the same waits. A slow start of the stream only moves the
        # warm part's first epoch.
        start = (time.time() // trigger + 1) * trigger + interval * 0.75
        res.record["warmup_s"] = start - t0

        def on_publish(i):
            # trace mode: the second half of the measured part runs traced
            if ctx.tracer is not None and i == trace_at:
                ctx.tracer.start_window()

        prod = Producer(d / "log", segs, start, interval, on_publish)
        prod.start()
        prod.join()
        if prod.error is not None:
            raise prod.error
        last_due = prod.due[-1]
        while (checkpoint_ts(eng.table) < segs[-1]["mark_ts"]
               and time.time() < last_due + DRAIN_S and q.isActive):
            time.sleep(0.02)
        if ctx.tracer is not None:
            ctx.tracer.end_window()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
    finally:
        if q.exception() is not None:
            print(f"perfbench: stream failed: {q.exception()}", flush=True)
        q.stop()

    epochs = manifest_epochs(eng.table)
    sched_epochs = [e for e in epochs if e["commit_time"] >= start]
    # The warm part's marks are checked but not measured: epoch times keep
    # falling over a fresh JVM's first epochs.
    # Throughput is the DML of the measured marks committed after the last
    # warm mark, over the time from that commit to the last one: the
    # offered rate while the engine keeps up, less once a backlog grows.
    lags, measured_dml, traced_lags, untraced_lags = [], 0, [], []
    committed, since, until = 0, start + warm_s, start + warm_s
    for i, s in enumerate(segs):
        t = min((e["commit_time"] for e in epochs if e["high_ts"] >= s["mark_ts"]),
                default=None)
        if not res.check(t is not None):
            continue
        committed += 1
        if i < n_warm:
            since = until = t
            continue
        if t > since:
            measured_dml += s["dml"]
            until = max(until, t)
        lag = t - prod.due[i]
        lags.append(lag)
        if ctx.tracer is not None:
            (traced_lags if i >= trace_at else untraced_lags).append(lag)
    _guard(res, "final state check", lambda: lake_digest(ctx, eng.table) == want)

    keys = KeysChanged(feed.log_path)
    counts = lake_counts(sched_epochs, keys)
    late = max(prod.lateness)
    stream_stats = streaming_stats(progress, committed, len(sched_epochs))
    res.record.update({
        "lag_p50_s": {"value": pctl(lags, 50) if lags else None, "unit": "s"},
        "lag_p90_s": {"value": pctl(lags, 90) if lags else None, "unit": "s"},
        "marks_committed": committed,
        "epochs": len(sched_epochs),
        "epoch_commit_times_s": [round(e["commit_time"] - start, 3)
                                 for e in sched_epochs],
        "producer_late_max_s": late,
        "valid": late <= LATE_LIMIT_S,
        "lake_counts": counts,
        "streaming": stream_stats,
    })
    if not lags:
        ctx.stop()
        return
    # a traced operation is one micro-batch the tracing window saw whole
    traced_epochs = sum(
        1 for sp in (ctx.tracer.spans if ctx.tracer is not None else [])
        if sp.name == "streaming.apply_batch" and sp.t1 is not None
    )
    finish(ctx, res, throughput=measured_dml / max(until - since, 1e-3),
           lat=lags, setup_s=setup_s, ops=max(traced_epochs, 1),
           untraced_lat=untraced_lags, traced_lat=traced_lags,
           extra_layer={**counts, **stream_stats})


def streaming_stats(progress, marks: int, epochs: int) -> dict:
    """Medians over the micro-batches that read data, from
    ``StreamingQuery.recentProgress``."""
    trig = [p.durationMs.get("triggerExecution", 0) for p in progress]
    add = [p.durationMs.get("addBatch", 0) for p in progress]
    if not trig:
        return {}
    return {
        "streaming.trigger_ms": statistics.median(trig),
        "streaming.add_batch_ms": statistics.median(add),
        "streaming.overhead_ms": statistics.median(
            [t - a for t, a in zip(trig, add)]),
        "streaming.marks_per_epoch": marks / max(epochs, 1),
    }


# -------------------------------------------------------------- mq-relay
def mq_relay(ctx: Context, res: Result) -> None:
    """The MQ round trip, closed loop, one operation at a time: publish the
    feed to a file-backed topic over ``MQ_WIRE`` (``MQChangefeed.run``),
    rebuild a log from the topic (``topic_to_log``), and replay that log as
    one coalesced epoch (``barrier_stride=0``) into a freshly bootstrapped
    table. Trace mode adds one crossing over ``MQ_BINARY_WIRE`` for the
    record."""
    spark = ctx.spark
    setup_s, feeds = setup_reps(lambda i: ctx.generate(ctx.run_dir / f"setup{i}"))
    feed = feeds[0]
    want, oracle_s = ctx.cached("table+dml-multiset", lambda: {
        "table": table_digest(
            tf_oracle.sequential_apply(feed.base_path, feed.log_path)),
        "dml": dml_multiset_digest(dml_events(feed.log_path)),
    })
    n_dml = want["dml"][0]
    res.record.update(oracle_s=oracle_s, events=n_dml, base_rows=feed.n_base_rows,
                      shape="closed loop, 1 client", wire=MQ_WIRE)

    def crossing(tag: str, wire: str) -> tuple[float, float, tf_mq.FileMQSink, Path]:
        sink = tf_mq.FileMQSink(str(ctx.run_dir / f"topic-{tag}"))
        relay = ctx.run_dir / f"relay-{tag}"
        t0 = time.perf_counter()
        tf_mq.MQChangefeed(feed.log_path, sink, protocol=wire).run(spark)
        t1 = time.perf_counter()
        tf_mq.topic_to_log(spark, sink, str(relay))
        return t1 - t0, time.perf_counter() - t1, sink, relay

    def round_trip(tag: str, traced: bool) -> tuple[dict, ChangefeedEngine]:
        """One operation: the times of its steps, and its engine."""
        with tracing.maybe(ctx.tracer, traced):
            pub, rel, sink, relay = crossing(tag, MQ_WIRE)
            table = LakeTable(str(ctx.run_dir / f"target-{tag}"),
                              num_buckets=NUM_BUCKETS)
            eng = ChangefeedEngine(str(relay), table)
            t0 = time.perf_counter()
            eng.bootstrap(spark, feed.base_path)
            t1 = time.perf_counter()
            eng.run(spark, barrier_stride=0)
            t2 = time.perf_counter()
        topic_bytes = sum(p.stat().st_size for p in Path(sink.path).rglob("*")
                          if p.is_file())
        times = {"bootstrap": t1 - t0, "publish": pub, "relay": rel,
                 "replay": t2 - t1, "op": pub + rel + t2 - t1,
                 "topic_bytes": topic_bytes}
        return times, eng

    def check(eng: ChangefeedEngine) -> bool:
        """The relayed events and the replayed table match the oracle."""
        if dml_multiset_digest(dml_events(eng.log_path)) != tuple(want["dml"]):
            return False
        if ctx.corrupt:
            corrupt_one_file(live_files(eng.table))
        return lake_digest(ctx, eng.table) == want["table"]

    t0 = time.perf_counter()
    for i in range(WARM_OPS):
        _guard(res, "warm-up round trip",
               lambda: check(round_trip(f"warm{i}", False)[1]))
    res.record["warmup_s"] = time.perf_counter() - t0
    steps, by_trace, last = [], {False: [], True: []}, None
    t_end = time.perf_counter() + ctx.seconds
    min_ops = MIN_OPS * (2 if ctx.tracer else 1)
    i = 0
    while i < min_ops or time.perf_counter() < t_end:
        traced = _trace_op(ctx, i)

        def op():
            nonlocal last
            times, last = round_trip(str(i), traced)
            steps.append(times)
            by_trace[traced].append(times["op"])
            return check(last)

        _guard(res, f"round trip {i}", op)
        i += 1
    if not steps:
        ctx.stop()
        return

    def median(step: str) -> float:
        return statistics.median(t[step] for t in steps)

    def rate(value: float) -> dict:
        return {"value": value, "unit": "1/s"}

    res.record.update({
        "ops": len(steps),
        f"publish_msgs_per_s.{MQ_WIRE}": rate(n_dml / median("publish")),
        f"relay_msgs_per_s.{MQ_WIRE}": rate(n_dml / median("relay")),
        "replay_events_per_s": rate(n_dml / median("replay")),
        "bootstrap_rows_per_s": rate(feed.n_base_rows / median("bootstrap")),
    })
    if ctx.tracer is not None:
        def binary() -> bool:
            pub, rel, _, relay = crossing("binary", MQ_BINARY_WIRE)
            res.record[f"publish_msgs_per_s.{MQ_BINARY_WIRE}"] = rate(n_dml / pub)
            res.record[f"relay_msgs_per_s.{MQ_BINARY_WIRE}"] = rate(n_dml / rel)
            return dml_multiset_digest(dml_events(str(relay))) == tuple(want["dml"])

        _guard(res, f"{MQ_BINARY_WIRE} crossing", binary)
    fallbacks = sum("64 KB" in line for line in
                    (ctx.run_dir / "driver.log").read_text(errors="replace")
                    .splitlines())
    res.record["codegen_fallback_lines"] = fallbacks
    lat = [t["op"] for t in steps]
    counts = lake_counts(manifest_epochs(last.table), KeysChanged(feed.log_path))
    res.record["lake_counts"] = counts
    finish(ctx, res, throughput=n_dml / statistics.median(lat), lat=lat,
           setup_s=setup_s, ops=len(by_trace[True]),
           untraced_lat=by_trace[False], traced_lat=by_trace[True],
           extra_layer={
               **counts,
               "mq.codegen_fallbacks": fallbacks,
               "mq.topic_bytes": statistics.median(
                   t["topic_bytes"] for t in steps),
           })


WORKLOADS = {
    "tail-lag": tail_lag,
    "mq-relay": mq_relay,
}


def run(ctx: Context) -> Result:
    res = Result()
    res.record["session_start_s"] = ctx.start_spark()
    WORKLOADS[ctx.workload](ctx, res)
    ctx.stop()
    return res
