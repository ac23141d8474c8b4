"""Changefeed configuration file — the TOML surface a TiCDC/DM user writes.

Mirrors the public shape of the reference's per-changefeed config: TiCDC's
replica config (pkg/config/replica_config.go:56-70 — `[filter]` with
`rules` / `ignore-txn-start-ts`, pkg/config/filter.go:22-27; sink options)
and DM's task routes (dm/dm/config/task.go:122-129 route-rules), plus the
`cdc cli changefeed create` flags (pkg/cmd/cli/cli_changefeed_create.go:
75-77,136 — start-ts/target-ts/sink-uri/config). Loaded with stdlib
``tomllib`` — no dependency.

Example::

    # changefeed.toml
    log = "/data/feed/log"                 # changefeed source (the WAL)
    target = "/data/lake/transcripts"      # sink: lake table directory
    base = "/data/feed/base/transcripts.parquet"  # optional bootstrap dump
    target-ts = 0                          # 0 = no finish barrier
    barrier-stride = 0                     # 0 = coalesce all marks
    syncpoint-every = 0                    # 0 = no sync points
    num-buckets = 32

    [filter]
    ignore-txn-start-ts = [1, 2]
    event-filter = "turn_idx < 0"          # drop DML rows matching
    sql-patterns = ["ADD COLUMN secret"]   # skip DDLs whose statement matches

    [[routes]]                             # presence => multi-table mode
    source = "shard_*"
    target = "merged"
"""

from __future__ import annotations

import os
import re
import tomllib
from dataclasses import dataclass, field


@dataclass
class RouteRule:
    source: str  # glob over source table names (DM route-rules)
    target: str  # target table name
    base: str | None = None  # optional bootstrap dump for this target


@dataclass
class ChangefeedConfig:
    log: str
    target: str
    base: str | None = None
    start_ts: int = 0  # replay begins after this ts (create --start-ts)
    target_ts: int | None = None
    gc_keep_last: int = 2  # manifests kept by the gc verb (C4 safepoint)
    barrier_stride: int = 0
    syncpoint_every: int | None = None
    num_buckets: int = 32
    validate_resolved: bool = True
    validate_state: bool = False  # per-epoch downstream checksum validation
    validate_rows: bool = False  # per-epoch row-image compare (DM validator)
    bootstrap_chunk_files: int | None = None  # resumable dump restore (S5)
    ignore_txn_start_ts: list[int] = field(default_factory=list)
    event_filter: str | None = None
    # DM sql-pattern statement filter (dm/syncer/filter.go:95-110): DDLs
    # whose canonical statement text matches any of these case-insensitive
    # regexes are skipped on the apply path (lake sinks only — the MQ sink
    # is TiCDC-side, which has no sql-pattern vocabulary)
    sql_patterns: list[str] = field(default_factory=list)
    # online-DDL plugin scheme (dm/dm/config/task.go online-ddl /
    # online-ddl-scheme): 'gh-ost' | 'pt-osc'; multi-table (routes) only
    online_ddl: str | None = None
    routes: list[RouteRule] = field(default_factory=list)
    stream_checkpoint: str | None = None  # Spark streaming checkpoint dir
    max_files_per_trigger: int | None = None  # FC1 flow-control quota
    sink_type: str = "lake"  # "lake" (MERGE upsert) | "mq" (topic publish)
    sink_partitions: int = 4  # MQ topic partition count
    sink_protocol: str = "open-json"  # MQ codec: open-json|maxwell|canal-json

    @property
    def multi_table(self) -> bool:
        return bool(self.routes)


# top-level keys a changefeed mode refuses when set
_REFUSED = {
    # a topic has no full dump, no per-table barriers and no lake state to
    # validate
    "mq": ("target-ts", "syncpoint-every", "start-ts", "base",
           "validate-state", "validate-rows", "routes"),
    # multi-table dumps restore per table, and barriers are changefeed-wide
    "multi-table": ("bootstrap-chunk-files", "target-ts", "syncpoint-every"),
}


def load_config(path: str) -> ChangefeedConfig:
    """Parse and validate a changefeed TOML file; unknown keys are an error
    (the reference's strictDecodeConfig,
    pkg/cmd/cli/cli_changefeed_create.go:90)."""
    with open(path, "rb") as f:
        raw = tomllib.load(f)

    top_keys = {
        "log", "target", "base", "start-ts", "target-ts", "barrier-stride",
        "syncpoint-every", "num-buckets", "validate-resolved",
        "validate-state", "validate-rows", "bootstrap-chunk-files",
        "gc-keep-last", "filter", "routes", "online-ddl", "stream-checkpoint",
        "max-files-per-trigger", "sink",
    }
    unknown = set(raw) - top_keys
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")

    sink = raw.get("sink", {})
    s_unknown = set(sink) - {"type", "partitions", "protocol"}
    if s_unknown:
        raise ValueError(f"unknown [sink] keys: {sorted(s_unknown)}")
    sink_type = sink.get("type", "lake")
    if sink_type not in ("lake", "mq"):
        raise ValueError(f"[sink] type must be 'lake' or 'mq', got {sink_type!r}")

    filt = raw.get("filter", {})
    f_unknown = set(filt) - {"ignore-txn-start-ts", "event-filter",
                             "sql-patterns"}
    if f_unknown:
        raise ValueError(f"unknown [filter] keys: {sorted(f_unknown)}")
    sql_patterns = [str(p) for p in filt.get("sql-patterns", [])]
    for pat in sql_patterns:
        try:
            re.compile(pat)
        except re.error as e:
            raise ValueError(
                f"[filter] sql-patterns: bad regex {pat!r}: {e}"
            ) from None
    if sql_patterns and sink_type == "mq":
        raise ValueError(
            "[filter] sql-patterns applies to the lake apply path only "
            "(DM syncer vocabulary); the MQ sink publishes every DDL"
        )
    # options a mode cannot honour are refused, not ignored: a user would
    # believe they took effect
    mode = ("mq" if sink_type == "mq"
            else "multi-table" if raw.get("routes") else "single-table")
    refused = [k for k in _REFUSED.get(mode, ()) if raw.get(k)]
    if refused:
        raise ValueError(f"{mode} changefeeds do not support: {', '.join(refused)}")

    routes = []
    for r in raw.get("routes", []):
        r_unknown = set(r) - {"source", "target", "base"}
        if r_unknown:
            raise ValueError(f"unknown [[routes]] keys: {sorted(r_unknown)}")
        routes.append(RouteRule(r["source"], r["target"], r.get("base")))

    online_ddl = raw.get("online-ddl") or None
    if online_ddl is not None:
        if online_ddl not in ("gh-ost", "pt-osc"):
            raise ValueError(
                f"online-ddl must be 'gh-ost' or 'pt-osc', got {online_ddl!r}"
            )
        if not routes:
            raise ValueError(
                "online-ddl requires [[routes]] (DM task mode: helper-table "
                "classification is per source table)"
            )

    for req in ("log", "target"):
        if req not in raw:
            raise ValueError(f"config missing required key: {req!r}")

    cfg = ChangefeedConfig(
        log=raw["log"],
        target=raw["target"],
        base=raw.get("base"),
        start_ts=int(raw.get("start-ts", 0)),
        target_ts=raw.get("target-ts") or None,
        gc_keep_last=int(raw.get("gc-keep-last", 2)),
        barrier_stride=int(raw.get("barrier-stride", 0)),
        syncpoint_every=raw.get("syncpoint-every") or None,
        num_buckets=int(raw.get("num-buckets", 32)),
        validate_resolved=bool(raw.get("validate-resolved", True)),
        validate_state=bool(raw.get("validate-state", False)),
        validate_rows=bool(raw.get("validate-rows", False)),
        bootstrap_chunk_files=raw.get("bootstrap-chunk-files") or None,
        ignore_txn_start_ts=[int(x) for x in filt.get("ignore-txn-start-ts", [])],
        event_filter=filt.get("event-filter"),
        sql_patterns=sql_patterns,
        online_ddl=online_ddl,
        routes=routes,
        stream_checkpoint=raw.get("stream-checkpoint"),
        max_files_per_trigger=raw.get("max-files-per-trigger") or None,
        sink_type=sink_type,
        sink_partitions=int(sink.get("partitions", 4)),
        sink_protocol=sink.get("protocol", "open-json"),
    )
    if not os.path.exists(cfg.log):
        raise FileNotFoundError(f"changefeed log not found: {cfg.log}")
    return cfg


def build_engine(cfg: ChangefeedConfig):
    """Instantiate the engine a config describes: lake MERGE (single- or
    multi-table) or MQ topic publish."""
    from tiflow_spark.engine import ChangefeedEngine, MultiTableEngine
    from tiflow_spark.lake import LakeTable

    if cfg.sink_type == "mq":
        from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed

        return MQChangefeed(
            cfg.log,
            FileMQSink(cfg.target, n_partitions=cfg.sink_partitions),
            protocol=cfg.sink_protocol,
            ignore_txn_start_ts=cfg.ignore_txn_start_ts,
            event_filter=cfg.event_filter,
        )
    if not cfg.multi_table:
        return ChangefeedEngine(
            cfg.log,
            LakeTable(cfg.target, num_buckets=cfg.num_buckets),
            ignore_txn_start_ts=cfg.ignore_txn_start_ts,
            event_filter=cfg.event_filter,
            validate_after_apply=cfg.validate_state,
            validate_rows=cfg.validate_rows,
            sql_patterns=cfg.sql_patterns,
        )
    tables = {
        r.target: LakeTable(
            os.path.join(cfg.target, r.target),
            num_buckets=cfg.num_buckets,
            checksums=cfg.validate_state,
        )
        for r in cfg.routes
    }
    return MultiTableEngine(
        cfg.log,
        tables,
        rules=[(r.source, r.target) for r in cfg.routes],
        ignore_txn_start_ts=cfg.ignore_txn_start_ts,
        event_filter=cfg.event_filter,
        validate_rows=cfg.validate_rows,
        sql_patterns=cfg.sql_patterns,
        online_ddl=cfg.online_ddl,
    )
