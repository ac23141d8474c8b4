"""Changefeed replay engine: the deterministic epoch loop (SURVEY.md §3.2/§7).

Per epoch:

  read log slice (checkpoint < commit_ts <= barrier)   — S1/S2, pushdown
    → apply DDLs to the registry (driver-side, ordered) — S3/D1/D5/K9
    → decode payload JSON per schema version, project
      onto the barrier version with defaults           — M1/J1 (vectorized
                                                          from_json, JVM-side)
    → per-key compaction (LWW fold + I..D elimination)  — O1-O3/A1/W2
    → per-bucket lineage aggregation                    — A4/A6
    → bucketed copy-on-write MERGE + checkpoint +
      registry + lineage in ONE atomic manifest commit  — J2/K1/K2/C1/C2

All reference concurrency machinery (channels, sorter goroutines, causality
buckets, worker pools) collapses into shuffle partitioning: the key-hash
shuffle of the fold IS causality (same key → same partition,
cdc/sink/causality.go:29-142), and Spark's external sort/spill subsumes the
unified sorter (cdc/sorter/unified/*). The driver plays the owner: barrier
selection (``plan_epoch``, cdc/owner/changefeed.go:456-501) and DDL
serialization, in one epoch loop (``EpochDriver``) shared by the
single-table, multi-table and MQ front ends, batch and streaming alike.

Exactly-once: the epoch fence in the manifest commit makes re-running any
epoch a no-op, and resume reads the checkpoint from the committed manifest —
at-least-once delivery + idempotent apply, the reference's own formula
(SURVEY.md §2.15).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from tiflow_spark.lake import BUCKET_COL, LakeTable, bucket_expr
from tiflow_spark.model import (
    CHANGE_EVENT_SCHEMA,
    DEFAULT_TABLE,
    DML_OPS,
    KEY_COLS,
    OP_DDL,
    OP_RESOLVED,
    evolve_cast,
    transcript_struct,
)
from tiflow_spark.operators.compactor import compact_changes
from tiflow_spark.operators.filters import (
    REPLICABLE_DDL_ACTIONS,
    engine_event_filters,
    sql_pattern_skip,
)
from tiflow_spark.operators.watermark import watermark_cut
from tiflow_spark.registry import SchemaRegistry


class RowImageMismatch(Exception):
    """Applied downstream rows diverge from the fold's expected post-images
    — the apply/write/read path corrupted data in flight (the row-compare
    half of DM's continuous validator, dm/syncer/data_validator.go:62-196
    rowsEventProcessRoutine; the checksum half is lake.ChecksumDrift)."""


class ResolvedTsRegression(Exception):
    """A DML event carries commit_ts <= an earlier resolved-ts promise.

    The resolved-ts contract (cdc/model/kv.go:32): an R row at ts B
    guarantees no later event has commit_ts <= B. A violating feed could
    silently lose events (they fall below the committed checkpoint) or split
    a transaction across epochs; the reference panics on the same invariant
    (cdc/model/sink.go:527-536 Append commitTs-mismatch check)."""


def validate_resolved_contract(
    spark, log: DataFrame, marks: list[tuple[int, int]], seq_floor: int = -1
):
    """Raise ResolvedTsRegression if any DML with seq > mark_seq has
    commit_ts <= mark_ts for some mark (an R row, or the committed
    checkpoint).

    The constraint collapses to ``commit_ts <= bound(seq)`` where
    ``bound(seq) = max r_ts over marks with r_seq < seq`` — a MONOTONE step
    function, so it compiles to a chained CASE inside whole-stage codegen on
    a column-pruned scan (seq + commit_ts only; the payload is never read).
    ~10× cheaper than the equivalent broadcast nested-loop join, which
    evaluates every (row, mark) pair through join machinery. The join form
    is kept only as the fallback for pathologically fine-grained mark lists
    (CASE chains past ~512 branches fall out of codegen).
    """
    if not marks:
        return
    # prefix-max steps: (seq_threshold, bound), bound strictly increasing
    steps: list[tuple[int, int]] = []
    best = -1
    for s, t in sorted(marks):
        if t > best:
            best = t
            steps.append((s, best))
    dml = log.filter(F.col("op").isin(*DML_OPS)).select("seq", "commit_ts")
    if seq_floor >= 0:
        # rows at/below the floor were validated by an earlier run; seq is
        # write-ordered, so this predicate prunes whole row groups
        dml = dml.filter(F.col("seq") > seq_floor)
    if len(steps) <= 512:
        bound = None
        for s, b in reversed(steps):  # first match = largest threshold < seq
            cond = F.col("seq") > F.lit(s)
            bound = F.when(cond, F.lit(b)) if bound is None else bound.when(cond, F.lit(b))
        bad = dml.filter(F.col("commit_ts") <= bound.otherwise(F.lit(-1))).limit(1).collect()
    else:
        mdf = spark.createDataFrame(steps, "r_seq long, r_ts long")
        bad = (
            dml.join(
                F.broadcast(mdf),
                (F.col("seq") > F.col("r_seq")) & (F.col("commit_ts") <= F.col("r_ts")),
                "left_semi",
            )
            .limit(1)
            .collect()
        )
    if bad:
        raise ResolvedTsRegression(
            f"event seq={bad[0]['seq']} commit_ts={bad[0]['commit_ts']} arrived "
            "after a resolved-ts covering it — feed violates the resolved "
            "contract; refusing to continue (reference panics here)"
        )


def count_log_segments(log_path: str) -> int:
    """Number of data segments (.parquet) in a log tree, sidecars excluded.
    Name-listing only — no per-file stat — so it's one cheap LIST per
    directory on an object store."""
    import os

    n = 0
    for root, dirs, files in os.walk(log_path):
        dirs[:] = [x for x in dirs if not x.startswith("_")]
        n += sum(1 for fn in files if fn.endswith(".parquet"))
    return n


def write_control_coverage(log_path: str) -> None:
    """Record the sidecar's high-watermark: how many log segments existed
    when the ``_control`` sidecar was last written. ``read_control`` compares
    the current segment count against it — a constant-size read plus one
    name listing — instead of stat'ing every file for mtimes (unreliable on
    object stores, and the walk itself dominates at 10^10-event logs).
    Producers call this after appending sidecar segments."""
    import os

    ctl_dir = os.path.join(log_path, "_control")
    cov = {"n_segments": count_log_segments(log_path)}
    tmp = os.path.join(ctl_dir, f"_COVERAGE.tmp-{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(cov, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(ctl_dir, "_COVERAGE"))


def read_control(spark, log_path: str, low_ts: int, cols) -> list:
    """Control rows (R + DDL) above ``low_ts``, ordered by (commit_ts,
    seq); ``cols`` must include both. Prefers the ``log/_control`` sidecar
    — the producer mirrors control rows there, and the underscore prefix
    hides it from the main data scan — so the control plane reads a
    handful of rows instead of scanning the whole log for them (at 10^10
    events the full scan would dominate the epoch loop). The sidecar is
    trusted only while its ``_COVERAGE`` high-watermark (the segment count
    ``write_control_coverage`` recorded) still covers every log segment:
    a log with no sidecar or no ``_COVERAGE``, or one that grew segments
    after the sidecar was written (a raw tail appended without mirroring
    its control rows), takes the full scan — otherwise its R/DDL rows would
    be invisible and the checkpoint would silently stall."""
    import os

    ctl_dir = os.path.join(log_path, "_control")
    cov_fp = os.path.join(ctl_dir, "_COVERAGE")
    src_path = log_path
    if os.path.exists(cov_fp):
        with open(cov_fp) as f:
            covered = int(json.load(f).get("n_segments", -1))
        if count_log_segments(log_path) <= covered:
            src_path = ctl_dir
    src = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(src_path)
    rows = (
        src.filter(
            F.col("op").isin(OP_RESOLVED, OP_DDL) & (F.col("commit_ts") > low_ts)
        )
        .select(*cols)
        .collect()
    )
    # ordered on the driver: the rows are collected anyway, and a Spark sort
    # of this tiny set costs extra jobs (sampling + exchange) on every call
    return sorted(rows, key=lambda r: (r["commit_ts"], r["seq"]))


@dataclass
class EpochStats:
    """One epoch applied to one target, by any front end. For an MQ topic,
    ``dml_events`` counts the row messages published, ``ddl_events`` the
    DDLs broadcast, and ``committed`` whether the epoch was published."""

    epoch: int
    barrier_ts: int
    dml_events: int
    ddl_events: int
    committed: bool
    # the target the epoch loop applied it to (its ``_states`` key): a lake
    # table path, a routed table name or a topic path
    target: str | None = None


@dataclass
class RunStats:
    epochs: list[EpochStats] = field(default_factory=list)

    @property
    def total_events(self) -> int:
        return sum(e.dml_events + e.ddl_events for e in self.epochs)


def schema_version_expr(registry: SchemaRegistry):
    """Vectorized as-of version resolution (J1): the registry is tiny, so the
    binary search (cdc/entry/schema_storage.go:767-774) compiles to a chained
    CASE WHEN on ``commit_ts - 1`` — constant-folded per row, no join at all.
    Falls back to the event's own schema_version when present AND known to
    THIS registry: a version the registry never saw (its DDL was
    sql-pattern-filtered, so the downstream schema never evolved) resolves
    by the as-of rule instead — the closest schema the downstream actually
    has, exactly DM's skipped-statement behavior."""
    asof = F.lit(registry.versions[0].version)
    for v in registry.versions[1:]:
        asof = F.when(
            F.col("commit_ts") - 1 >= F.lit(v.active_from_ts), F.lit(v.version)
        ).otherwise(asof)
    known = [v.version for v in registry.versions]
    return F.coalesce(
        F.when(F.col("schema_version").isin(known), F.col("schema_version")),
        asof,
    )


def decode_events(
    dml: DataFrame,
    registry: SchemaRegistry,
    target_version: int,
    envelope_cols: tuple[str, ...] = ("seq", "op", "commit_ts", "start_ts"),
) -> DataFrame:
    """Mounter (M1): payload JSON → typed columns, projected onto
    ``target_version`` with field-id mapping and defaults for later-added
    columns (cdc/entry/mounter.go:187-237, 311-349, 515-551).

    Single-pass decode: ONE ``from_json`` against the union of all live
    versions' field names (a field name absent from a payload parses to
    null), then a per-field CASE on the resolved version picks the right
    source name / default. One scan, no per-version union — all JVM-side,
    whole-stage-codegen'd; no Python in the hot path (the reference needs a
    32-worker decode pool for this, cdc/entry/mounter.go:107).

    ``envelope_cols`` are passed through unchanged.

    Type-recycled names (modify_column, or drop + re-add at a new type)
    stay single-pass: the union struct parses such a field as a raw STRING
    (JSON lexeme passthrough) and every branch casts to the target field's
    type — semantically "decode raw, CAST once at the final projection",
    which is exactly the sequential oracle's rule and Spark CAST semantics
    (int payload under a now-string column renders its digits; a non-numeric
    string under a now-int column nulls). This also makes decode independent
    of DDL-vs-DML seq ordering at a shared commit_ts: the version only picks
    the NAME mapping, never the type.
    """
    # union struct: every (name, type) ever live; recycled name → string
    union_fields: dict[str, str] = {}
    for v in registry.versions:
        for f in v.fields:
            if union_fields.setdefault(f.name, f.type) != f.type:
                union_fields[f.name] = "string"

    dml = dml.withColumn("_ver", schema_version_expr(registry))
    struct_u = transcript_struct(
        [(i, name, typ, None) for i, (name, typ) in enumerate(union_fields.items())]
    )
    parsed = dml.withColumn("_p", F.from_json("payload", struct_u))

    tgt = registry.get(target_version)
    cols = [
        *[F.col(c) for c in envelope_cols],
        *[F.col(k) for k in KEY_COLS],
    ]
    for f in tgt.fields:
        # per-version source name for this field id (None = not present yet)
        expr = None
        default_lit = F.lit(f.default).cast(f.type)
        for v in registry.versions:
            src = next((vf.name for vf in v.fields if vf.fid == f.fid), None)
            # evolve_cast covers modify_column and the raw-string union
            # fields: old-version payloads evolve to the target type at
            # decode time, malformed values null out, and numeric→integral
            # modifies truncate through double (oracle _coerce parity)
            branch = (
                evolve_cast(F.col(f"_p.{src}"), f.type)
                if src is not None
                else default_lit
            )
            cond = F.col("_ver") == v.version
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
        cols.append(expr.otherwise(default_lit).alias(f.name))
    return parsed.select(*cols)


@dataclass(frozen=True)
class EpochPlan:
    """The next epoch of a changefeed, as ``plan_epoch`` picks it."""

    barrier_ts: int
    # the earliest resolved-ts promise covering the barrier: events at or
    # below it all have seq <= this (the resume guard, and the next run's
    # validation floor once committed); None = no promise to record
    barrier_seq: int | None
    syncpoint: bool
    # DDL rows in (min checkpoint, barrier], commit order, one shape: Rows
    # with op/commit_ts/seq/ddl/tbl (tbl None when the read carried none)
    ddl_rows: list
    # targets still behind the barrier, in checkpoint-dict order; a target
    # already past it (it committed before a crash, others did not) skips
    targets: tuple[str, ...]


def _ddl_row(r) -> Row:
    d = r if isinstance(r, dict) else r.asDict()
    return Row(op=OP_DDL, commit_ts=d["commit_ts"], seq=d["seq"],
               ddl=d["ddl"], tbl=d.get("tbl"))


def plan_epoch(
    control: list,
    checkpoints: dict[str, int],
    stride: int = 0,
    target_ts: int | None = None,
    syncpoint_every: int | None = None,
) -> EpochPlan | None:
    """The barrier policy of every front end — the owner's one barrier for
    the whole changefeed, min(DDL, sync-point, finish)
    (cdc/owner/changefeed.go:456-501). Pure: ``control`` is the ordered R +
    DDL rows (read_control's shape), ``checkpoints`` each target's committed
    checkpoint_ts. Returns None when nothing is outstanding.

    - stride: ``<= 0`` coalesces every outstanding resolved mark into one
      epoch (max throughput), k takes the k-th (1 = one epoch per mark).
    - target_ts: the finish barrier; marks beyond it are never taken, and
      the cut at target_ts itself only happens when some mark covers it
      (completeness at target is otherwise unknown).
    - syncpoint_every: never coalesce past the next sync target (TiCDC's
      syncPointBarrier, cdc/owner/barrier.go:28-29) — the sync snapshot
      must land exactly on a resolved mark; the epoch that does is flagged.
    """
    chk = min(checkpoints.values())
    if target_ts is not None and chk >= target_ts:
        return None
    resolved = [(r["seq"], r["commit_ts"]) for r in control if r["op"] == OP_RESOLVED]
    barriers = sorted({ts for _seq, ts in resolved if ts > chk})
    if target_ts is not None and barriers:
        covered = barriers[-1] >= target_ts
        barriers = [b for b in barriers if b < target_ts]
        if covered:
            barriers.append(target_ts)
    if not barriers:
        return None
    barrier = barriers[-1] if stride <= 0 else barriers[min(stride, len(barriers)) - 1]
    is_syncpoint = False
    if syncpoint_every:
        next_sp = (chk // syncpoint_every + 1) * syncpoint_every
        sp_barrier = next((b for b in barriers if b >= next_sp), None)
        if sp_barrier is not None:
            barrier = min(barrier, sp_barrier)
            is_syncpoint = barrier == sp_barrier
    return EpochPlan(
        barrier_ts=barrier,
        barrier_seq=min((seq for seq, ts in resolved if ts >= barrier), default=None),
        syncpoint=is_syncpoint,
        ddl_rows=[
            _ddl_row(r) for r in control
            if r["op"] == OP_DDL and chk < r["commit_ts"] <= barrier
        ],
        targets=tuple(n for n, ts in checkpoints.items() if ts < barrier),
    )


def _promises(states: dict[str, dict | None]) -> list[tuple[int, int]]:
    return [
        (st["checkpoint_seq"], st["checkpoint_ts"])
        for st in states.values()
        if st is not None and st.get("checkpoint_seq", -1) >= 0
    ]


class EpochDriver:
    """The one epoch loop behind every front end: lake single-table
    (ChangefeedEngine), routed multi-table (MultiTableEngine) and MQ publish
    (MQChangefeed), batch ``run`` and streaming ``advance_to`` alike. A
    front end supplies each target's committed state (``_states``) and one
    epoch's apply to one target (``_apply_epoch``); the barrier policy is
    ``plan_epoch``."""

    log_path: str
    online_ddl: str | None = None
    CONTROL_COLS: tuple[str, ...] = ("op", "commit_ts", "seq", "ddl")

    def _states(self) -> dict[str, dict | None]:
        """Committed state per target (None = not bootstrapped), carrying
        ``checkpoint_ts`` and ``checkpoint_seq``."""
        raise NotImplementedError

    def _apply_epoch(self, spark, log: DataFrame, name: str, state: dict,
                     plan: EpochPlan, ddl_rows: list):
        """Apply ``plan`` to target ``name``; ``ddl_rows`` are the plan's
        DDL rows above this target's own checkpoint."""
        raise NotImplementedError

    def _control_plan(self, control: list) -> list:
        return control

    def read_log(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(self.log_path)

    def committed_promises(self) -> list[tuple[int, int]]:
        """The committed resolved-ts promises ``(checkpoint_seq,
        checkpoint_ts)``, seq >= 0 only — the marks a front end validating
        incrementally adds to the ones it discovered."""
        return _promises(self._states())

    def advance_to(
        self, spark: SparkSession, barrier_ts: int, barrier_seq: int | None = None
    ) -> list:
        """Apply exactly one epoch up to ``barrier_ts`` to every target that
        has not passed it (no-op when all have; per-target fences make
        partial progress exact), recording ``barrier_seq`` as its promise
        (None records none). The streaming tick's unit: it discovers and
        validates its marks itself (StreamingChangefeed._apply_batch), so
        nothing is validated here."""
        return self._drive(spark, max_epochs=1, mark=(barrier_seq, barrier_ts))

    def checkpoint_ts(self) -> int | None:
        """The changefeed checkpoint: the min over its targets' committed
        checkpoints (the owner's view, cdc/owner/changefeed.go:125-170);
        None until every target is bootstrapped."""
        states = self._states().values()
        if any(st is None for st in states):
            return None
        return min(st["checkpoint_ts"] for st in states)

    def run(
        self,
        spark: SparkSession,
        max_epochs: int | None = None,
        barrier_stride: int = 0,
        target_ts: int | None = None,
        validate_resolved: bool = True,
        syncpoint_every: int | None = None,
    ) -> RunStats:
        """Process outstanding barriers (the epoch loop is ``_drive``'s,
        the policy ``plan_epoch``'s); one EpochStats per (epoch, target)
        applied. ``barrier_stride=0`` coalesces ALL outstanding resolved-ts
        marks into one epoch (max throughput); ``barrier_stride=1`` takes
        one epoch per resolved-ts mark (max granularity / latency); k>1
        coalesces k marks per epoch. A target already at/ahead of a barrier
        (it committed before a crash; others did not) skips that barrier —
        the per-target fence makes mixed-progress resume exact.

        ``syncpoint_every``: emit a sync point at least every that many ts
        units of progress (TiCDC's syncPointBarrier,
        cdc/owner/barrier.go:28-29 + cdc/owner/changefeed.go:271-272,483):
        epoch coalescing never skips past the next sync target; the epoch
        that lands on it records ``(primary_ts=barrier, epoch)`` in the
        manifest's ``syncpoints`` list, so upstream at primary_ts and the
        downstream snapshot at that epoch can be diffed exactly (the
        ``syncpoint_v1`` table analogue — the manifest IS our downstream
        metadata table).

        ``target_ts``: finish barrier (cdc/owner/changefeed.go:456-501
        min(ddl, sync-point, finish)): replay stops once the checkpoint
        reaches target_ts; events beyond it are never applied. The cut at
        target_ts itself only happens when some resolved-ts covers it
        (completeness at target is otherwise unknown).

        ``validate_resolved``: enforce the resolved-ts contract before
        applying (see ResolvedTsRegression) — one extra column-pruned scan
        per run; a feed that violates it is refused, not applied.
        """
        return RunStats(self._drive(
            spark, max_epochs=max_epochs, barrier_stride=barrier_stride,
            target_ts=target_ts, validate_resolved=validate_resolved,
            syncpoint_every=syncpoint_every,
        ))

    def _drive(
        self,
        spark: SparkSession,
        max_epochs: int | None = None,
        barrier_stride: int = 0,
        target_ts: int | None = None,
        validate_resolved: bool = False,
        syncpoint_every: int | None = None,
        mark: tuple[int | None, int] | None = None,
    ) -> list[EpochStats]:
        """Plan and apply epochs until none is outstanding (or
        ``max_epochs`` rounds); returns one EpochStats per apply, tagged
        with its target.

        ONE control-plane read per call: R barriers + DDL rows above the
        lowest checkpoint (from 0 with online-DDL on: the stash plan needs
        ghost DDLs that may precede it), sliced in Python per epoch — the
        owner's barrier bookkeeping and the DDL puller share a read
        (cdc/owner/ddl_puller.go wiring). ``validate_resolved`` enforces the
        resolved-ts contract once per call over the discovered marks plus
        the committed promises (a corrupt tail below a checkpoint is caught
        even though its R row is below the read's cut), incrementally:
        events at or below the lowest committed promise seq were validated
        by the run that committed it, and the seq predicate prunes whole
        row groups since seq is write-ordered.

        ``mark``: a caller-discovered resolved mark ``(seq, ts)`` that
        replaces the feed's own — the streaming tick: one epoch to exactly
        ``ts``, recording ``seq`` as the promise (None records none)."""
        states = self._states()
        for name, st in states.items():
            if st is None:
                raise FileNotFoundError(f"target {name!r} not bootstrapped")
        if mark is not None and all(
            st["checkpoint_ts"] >= mark[1] for st in states.values()
        ):
            return []  # every target already covers the tick's barrier
        low = min(st["checkpoint_ts"] for st in states.values())
        control = self._control_plan(read_control(
            spark, self.log_path, 0 if self.online_ddl else low, self.CONTROL_COLS
        ))
        log = self.read_log(spark)
        if validate_resolved:
            marks = [(r["seq"], r["commit_ts"]) for r in control if r["op"] == OP_RESOLVED]
            validate_resolved_contract(
                spark, log, marks + _promises(states),
                seq_floor=min(st.get("checkpoint_seq", -1) for st in states.values()),
            )
        if mark is not None:
            control = [r for r in control if r["op"] == OP_DDL]
            control.append(Row(op=OP_RESOLVED, commit_ts=mark[1], seq=mark[0]))
        out: list[EpochStats] = []
        rounds, last = 0, None
        while max_epochs is None or rounds < max_epochs:
            plan = plan_epoch(
                control, {n: st["checkpoint_ts"] for n, st in states.items()},
                barrier_stride, target_ts, syncpoint_every,
            )
            if plan is None or plan.barrier_ts == last:
                break  # drained (or a fenced commit made no progress)
            for name in plan.targets:
                chk = states[name]["checkpoint_ts"]
                ddl_rows = [r for r in plan.ddl_rows if r["commit_ts"] > chk]
                out.append(replace(self._apply_epoch(
                    spark, log, name, states[name], plan, ddl_rows
                ), target=name))
            rounds, last = rounds + 1, plan.barrier_ts
            states = self._states()
        return out


class ChangefeedEngine(EpochDriver):
    """Replays a changefeed log into a LakeTable, epoch by epoch.

    ``ignore_txn_start_ts``: drop whole transactions by start_ts before the
    fold (TiCDC FilterConfig.IgnoreTxnStartTs, pkg/config/filter.go:25 +
    pkg/filter/filter.go:72-79). ``event_filter``: SQL predicate over the
    raw event columns; matching DML rows are dropped (DM's expression
    filter, dm/syncer/dml.go:182-194 shape). Both are Catalyst predicates
    applied to the epoch slice — they push to the scan and never touch
    control rows, so resolved-ts progression and the contract validation
    are unaffected (filtered events are still covered by their resolved
    promise; they are simply not applied, exactly as in the reference)."""

    def __init__(
        self,
        log_path: str,
        table: LakeTable,
        ignore_txn_start_ts: list[int] | None = None,
        event_filter: str | None = None,
        validate_after_apply: bool = False,
        validate_rows: bool = False,
        sql_patterns: list[str] | None = None,
        shard_merge: bool = False,
    ):
        self.log_path = log_path
        self.table = table
        self.ignore_txn_start_ts = list(ignore_txn_start_ts or [])
        self.event_filter = event_filter
        # optimist-mode shard-DDL coordination (registry.reconcile_shard_ddl,
        # dm/master/shardddl/optimist.go): in shard-merge tasks every shard
        # replays its own copy of each DDL — identical re-arrivals dedupe to
        # one schema apply, incompatible ones raise ShardDDLConflict. On for
        # MultiTableEngine sub-applies (DM task mode), off for single-table
        # feeds where a duplicate DDL is a producer bug worth failing on.
        self.shard_merge = shard_merge
        # DM sql-pattern statement filter (dm/syncer/filter.go:95-110):
        # DDLs whose canonical statement text matches any of these
        # case-insensitive regexes are skipped on the driver-side DDL path
        # (never applied to the registry or the table), like any other
        # unreplicable DDL
        self.sql_patterns = list(sql_patterns or [])
        # row-compare half of the continuous validator: after each commit,
        # re-read the touched buckets and compare every applied key's row
        # against the fold's expected post-image (upsert present+equal,
        # delete absent) — RowImageMismatch on divergence. Costs one
        # bucket-pruned read + key join per epoch when on.
        self.validate_rows = validate_rows
        if validate_after_apply:
            # continuous downstream validation (DM data_validator,
            # dm/syncer/data_validator.go:62-196): every commit records
            # per-bucket content checksums, and every epoch re-verifies the
            # buckets it touches against the digests the previous apply
            # committed — drift injected between epochs (a corrupted or
            # out-of-band-edited target file) raises ChecksumDrift at the
            # next epoch instead of silently folding into new state.
            self.table.checksums = True

    # ------------------------------------------------------------ bootstrap
    def bootstrap(
        self,
        spark: SparkSession,
        base_parquet: str,
        registry: SchemaRegistry | None = None,
        start_ts: int = 0,
        chunk_files: int | None = None,
    ) -> None:
        """Initial full dump → target (S5, dm/loader/loader.go:710): a CTAS.
        checkpoint_ts = start_ts so replay begins after the snapshot.

        ``chunk_files``: resumable mode (DM loader checkpoints,
        dm/loader/checkpoint.go) — the dump's parquet files are restored in
        groups of this many, each group checkpointed on completion, so a
        crashed restore resumes at the failed chunk instead of restarting
        the whole dump (see LakeTable.create_resumable)."""
        if self.table.exists():
            return
        registry = registry or SchemaRegistry.initial()
        if chunk_files:
            import os

            if os.path.isdir(base_parquet):
                files = sorted(
                    os.path.join(base_parquet, fn)
                    for fn in os.listdir(base_parquet)
                    if fn.endswith(".parquet")
                )
            else:
                files = [base_parquet]
            chunks = [
                files[i : i + chunk_files]
                for i in range(0, len(files), chunk_files)
            ]
            self.table.create_resumable(
                spark, chunks, registry, checkpoint_ts=start_ts
            )
            return
        base = spark.read.parquet(base_parquet)
        self.table.create(spark, base, registry, checkpoint_ts=start_ts)

    # ------------------------------------------------------------------ run
    def _states(self) -> dict[str, dict | None]:
        return {self.table.path: self.table.current_manifest()}

    def _apply_epoch(self, spark, log, name, state, plan, ddl_rows):
        return self.run_epoch(
            spark, log, state, plan.barrier_ts, ddl_rows=ddl_rows,
            barrier_seq=plan.barrier_seq, syncpoint=plan.syncpoint,
        )

    def run_epoch(
        self,
        spark: SparkSession,
        log: DataFrame,
        manifest: dict,
        barrier_ts: int,
        ddl_rows: list | None = None,
        barrier_seq: int | None = None,
        syncpoint: bool = False,
    ) -> EpochStats:
        chk = manifest["checkpoint_ts"]
        sliced = watermark_cut(log, low_ts=chk, high_ts=barrier_ts)
        return self.apply_slice(
            spark, sliced, manifest, barrier_ts, ddl_rows=ddl_rows,
            barrier_seq=barrier_seq, syncpoint=syncpoint,
        )

    def apply_slice(
        self,
        spark: SparkSession,
        sliced: DataFrame,
        manifest: dict,
        barrier_ts: int,
        ddl_rows: list | None = None,
        barrier_seq: int | None = None,
        syncpoint: bool = False,
    ) -> EpochStats:
        """Apply one epoch's worth of events (already cut to
        ``checkpoint < commit_ts <= barrier``) as a single fenced commit.
        Shared by the batch replay loop and the Structured Streaming
        ``foreachBatch`` front-end (micro-batch == epoch).

        ``ddl_rows``: pre-collected DDL events for the slice, in the
        planner's row shape (op/commit_ts/seq/ddl/tbl, see ``EpochPlan``);
        None → collected here with an extra job.
        """
        epoch = manifest["epoch"] + 1
        registry = SchemaRegistry.from_json(manifest["registry"])

        # --- DDL path (driver-side, ordered; S3/K9). The DDL stream is tiny.
        if ddl_rows is None:
            ddl_rows = [
                _ddl_row(r) for r in
                sliced.filter(F.col("op") == OP_DDL)
                .select("commit_ts", "seq", "ddl")
                .orderBy("commit_ts", "seq")
                .collect()
            ]
        applied_ddls = 0
        truncate_ts = None
        partition_cuts: list[tuple[int, str]] = []
        for r in ddl_rows:
            d = json.loads(r["ddl"])
            if d.get("action") not in REPLICABLE_DDL_ACTIONS:
                continue  # F2: unreplicable DDL types are skipped, not fatal
            if self.sql_patterns and sql_pattern_skip(
                d, self.sql_patterns, table=r["tbl"] or DEFAULT_TABLE
            ):
                continue  # DM sql-pattern filter: statement-text skip
            if self.shard_merge:
                from tiflow_spark.registry import reconcile_shard_ddl

                if reconcile_shard_ddl(registry, d) == "noop":
                    continue  # another shard's copy already evolved the schema
            registry.apply_ddl(d, r["commit_ts"])
            if d["action"] == "truncate_table":
                # only the LAST truncate matters: everything at/before it is
                # wiped (DML at the truncate's own ts applies first per the
                # ordering contract, then is wiped with the rest)
                truncate_ts = r["commit_ts"]
                # partition cuts at/before the full truncate are subsumed
                partition_cuts = []
            elif d["action"] in ("drop_partition", "truncate_partition"):
                # partial tombstone over a key-column predicate
                # (cdc/entry/schema_storage.go:632-636 partition swap):
                # rows matching the predicate at/before this ts are wiped
                partition_cuts.append((r["commit_ts"], d["where"]))
            applied_ddls += 1
        target_version = registry.version_at_barrier(barrier_ts).version

        # --- DML path (distributed). ONE scan of the epoch slice, and the
        # LWW fold runs BEFORE the mounter: the compactor only needs the
        # ordering prefix and the key, so it folds raw events with the
        # payload as an opaque string, and from_json decodes only the ≤
        # |touched keys| survivors instead of the whole slice (legal because
        # decode is a pure per-row projection — reversing TiCDC's
        # mounter→sink order is the columnar-friendly equivalent of DM's
        # compact-then-apply, dm/syncer/syncer.go:1429). No explicit cache:
        # the fold's shuffle files are reused across the merge's actions
        # (Spark stage reuse), so each extra action only re-runs the cheap
        # post-shuffle projection — measured ~20× cheaper than building a
        # columnar cache of the folded set.
        dml = sliced.filter(F.col("op").isin(*DML_OPS))
        # F3 + F5, scan-pushed, NULL-evaluating predicates keep the row
        dml = engine_event_filters(
            dml, self.ignore_txn_start_ts, self.event_filter
        )
        if truncate_ts is not None:
            # pre-truncate events cannot survive — drop them before the fold
            # (pushdown: the predicate reaches the scan)
            dml = dml.filter(F.col("commit_ts") > truncate_ts)
        for cut_ts, cut_where in partition_cuts:
            # events at/before the cut whose key falls in the dropped
            # partition cannot survive; the predicate is over key columns,
            # which are top-level log columns, so it stays in the scan.
            # NULL-keep via coalesce: a key the predicate cannot evaluate is
            # not in the partition (matches the oracle's DuckDB
            # _keys_matching, where a NULL predicate keeps the key)
            dml = dml.filter(
                ~F.coalesce(
                    (F.col("commit_ts") <= cut_ts) & F.expr(cut_where),
                    F.lit(False),
                )
            )
        folded = compact_changes(
            dml, KEY_COLS, ["payload", "schema_version"], stats=True
        )
        # the winner is the chain tail, so its commit_ts == _max_commit_ts
        # (commit_ts leads the fold's sort key) — reattach it for the as-of
        # version resolution of the survivor's payload
        folded = folded.withColumn("commit_ts", F.col("_max_commit_ts"))
        changes = decode_events(
            folded,
            registry,
            target_version,
            envelope_cols=("op", "_n_events", "_max_commit_ts"),
        )
        changes = changes.withColumn(
            BUCKET_COL, bucket_expr(list(KEY_COLS), self.table.num_buckets)
        )
        # lineage over the tiny folded set (A4/A6, fused with the fold)
        lineage_rows = [
            {
                "bucket": r["bucket"],
                "applied_events": r["applied_events"],
                "max_commit_ts": r["max_commit_ts"],
            }
            for r in (
                changes.groupBy(F.col(BUCKET_COL).alias("bucket"))
                .agg(
                    F.sum("_n_events").alias("applied_events"),
                    F.max("_max_commit_ts").alias("max_commit_ts"),
                )
                .collect()
            )
        ]
        n_dml = sum(r["applied_events"] for r in lineage_rows)

        committed = self.table.merge(
            spark,
            changes.drop("_n_events", "_max_commit_ts"),
            epoch=epoch,
            checkpoint_ts=barrier_ts,
            checkpoint_seq=barrier_seq,
            registry=registry,
            lineage_rows=lineage_rows,
            # the lineage buckets ARE the affected-bucket set — saves the
            # merge its own distinct-collect job over the folded set
            affected_buckets=[r["bucket"] for r in lineage_rows],
            truncate=truncate_ts is not None,
            # pre-existing lake rows all predate every cut in the slice, so
            # each cut's predicate applies to all of them (when the epoch
            # also carries a full truncate the old rows are wiped anyway)
            delete_where=(
                " OR ".join(f"({w})" for _, w in partition_cuts)
                if partition_cuts and truncate_ts is None
                else None
            ),
            syncpoint=syncpoint,
        )
        if committed and self.validate_rows and lineage_rows:
            self.validate_applied_rows(
                spark,
                changes.drop("_n_events", "_max_commit_ts"),
                [r["bucket"] for r in lineage_rows],
            )
        return EpochStats(
            epoch=epoch,
            barrier_ts=barrier_ts,
            dml_events=int(n_dml),
            ddl_events=applied_ddls,
            committed=committed,
        )

    def validate_applied_rows(
        self, spark: SparkSession, expected: DataFrame, buckets: list[int]
    ) -> int:
        """Row-compare validation of one applied epoch (DM's
        rowsEventProcessRoutine, dm/syncer/data_validator.go:62-196): for
        every key the epoch touched, the committed table must hold exactly
        the fold's post-image — upserted keys present with equal payloads,
        deleted keys absent. Like the reference, only CHANGED rows are
        compared (full-table checks are the checksum validator's job).

        Distributed shape: the table read is pruned to the touched buckets
        via the manifest file list; expected and actual rows canonicalize to
        one JSON string each and compare on a single key join; the driver
        sees one bounded mismatch sample. Returns rows checked."""
        m = self.table.current_manifest()
        files = [e for e in m["files"] if e["bucket"] in set(buckets)]
        actual = self.table.read(spark, {**m, "files": files})
        payload_names = [
            f.name for f in SchemaRegistry.from_json(m["registry"]).current.fields
        ]

        def canon(df: DataFrame):
            return F.to_json(
                F.struct(*[df[c] for c in payload_names]),
                {"ignoreNullFields": "false"},
            )

        exp = expected.select(*KEY_COLS, "op", canon(expected).alias("_want"))
        act = actual.select(*KEY_COLS, canon(actual).alias("_got"))
        joined = exp.join(act, on=list(KEY_COLS), how="left")
        bad = joined.filter(
            F.when(F.col("op") == "D", F.col("_got").isNotNull()).otherwise(
                F.col("_got").isNull() | (F.col("_got") != F.col("_want"))
            )
        )
        sample = bad.limit(5).collect()
        if sample:
            raise RowImageMismatch(
                f"{self.table.path}: applied key(s) diverge from their "
                f"expected post-images after commit (first: "
                f"{[tuple(r[k] for k in KEY_COLS) + (r['op'],) for r in sample]})"
            )
        return exp.count()

    # ---------------------------------------------------------------- reads
    def final_state(self, spark: SparkSession) -> DataFrame:
        return self.table.read(spark)


class MultiTableEngine(EpochDriver):
    """Multi-table changefeed: route source tables onto per-target LakeTables.

    The reference replicates per table end-to-end — per-table pipelines
    (cdc/processor/processor.go:284-400), per-table checkpoints + table_info
    (dm/syncer/checkpoint.go:611-751), per-table schema snapshots. Here each
    target LakeTable carries its OWN manifest (registry + checkpoint +
    lineage), so tables commit and resume independently; the changefeed
    checkpoint is the min over table checkpoints (the owner's view,
    cdc/owner/changefeed.go:125-170). Resolved-ts (R) rows are
    changefeed-global, exactly as in TiCDC.

    Routing follows DM's route rules (dm/syncer/syncer.go:2450 route +
    pkg/filter glob allow-rules): ordered ``(source-glob, target-name)``
    pairs; an event's source table (``tbl``, null → default_table) takes the
    FIRST matching rule's target; unmatched tables are not replicated.
    Several source globs may share one target — DM's shard-merge topology
    (keys collide across shards under LWW, the documented merge semantics).

    The epoch loop is EpochDriver's: one barrier per round for the whole
    changefeed, applied to each table still behind it by a sub-engine built
    once per target. One Spark-side scan per (table, epoch): each target's
    slice is the shared log filtered by its routing predicate — predicate +
    column pruning push to the scan, so a 3-table changefeed costs 3 pruned
    scans of the same files, not 3 full reads.
    """

    CONTROL_COLS = (*EpochDriver.CONTROL_COLS, "tbl")

    def __init__(
        self,
        log_path: str,
        tables: dict[str, LakeTable],
        rules: list[tuple[str, str]] | None = None,
        default_table: str | None = None,
        ignore_txn_start_ts: list[int] | None = None,
        event_filter: str | None = None,
        validate_rows: bool = False,
        sql_patterns: list[str] | None = None,
        online_ddl: str | None = None,
    ):
        self.log_path = log_path
        self.tables = dict(tables)
        self.rules = list(rules) if rules is not None else [(n, n) for n in tables]
        self.default_table = default_table or DEFAULT_TABLE
        self.ignore_txn_start_ts = list(ignore_txn_start_ts or [])
        self.event_filter = event_filter
        self.validate_rows = validate_rows
        self.sql_patterns = list(sql_patterns or [])
        # online-DDL plugin (D2, dm/syncer/online-ddl-tools/online_ddl.go):
        # scheme name ('gh-ost' | 'pt-osc') or None. When set, helper-table
        # DML is dropped, ghost-table DDLs stash, and the cut-over
        # rename_table applies the stash to the real table (see
        # _control_plan).
        if online_ddl is not None:
            from tiflow_spark.operators.filters import ONLINE_DDL_SCHEMES

            if online_ddl not in ONLINE_DDL_SCHEMES:
                raise ValueError(
                    f"online_ddl must be one of {sorted(ONLINE_DDL_SCHEMES)}"
                )
        self.online_ddl = online_ddl
        unknown = {tgt for _, tgt in self.rules} - set(self.tables)
        if unknown:
            raise ValueError(f"route rules target unknown tables: {sorted(unknown)}")
        # per-target apply: same filter config as a single-table feed, plus
        # optimist shard-DDL dedup (DM task mode)
        self._subs = {
            name: ChangefeedEngine(
                log_path, table,
                ignore_txn_start_ts=self.ignore_txn_start_ts,
                event_filter=event_filter,
                validate_rows=validate_rows,
                sql_patterns=self.sql_patterns,
                shard_merge=True,
            )
            for name, table in self.tables.items()
        }

    # ------------------------------------------------------------- routing
    def route_name(self, src: str | None) -> str | None:
        """Driver-side router: first matching rule's target, else None."""
        import fnmatch

        src = (src or self.default_table).lower()
        for pat, tgt in self.rules:
            if fnmatch.fnmatch(src, pat.lower()):
                return tgt
        return None

    def _route_pred(self, target: str):
        """Column predicate: rows whose source table routes to ``target``
        under first-match-wins (earlier rules with other targets exclude)."""
        import fnmatch

        src = F.lower(F.coalesce(F.col("tbl"), F.lit(self.default_table)))
        not_earlier = F.lit(True)
        pred = F.lit(False)
        for pat, tgt in self.rules:
            # anchor BOTH ends: rlike matches anywhere in the string, so an
            # unanchored fnmatch.translate() regex would let rule
            # 'transcripts' claim source 'old_transcripts' (suffix match) —
            # diverging from the driver-side route_name (fnmatch.fnmatch,
            # whole-name). '^' + ...$ makes executor routing exact.
            m = src.rlike("^" + fnmatch.translate(pat.lower()).replace("\\Z", "$"))
            if tgt == target:
                pred = pred | (m & not_earlier)
            not_earlier = not_earlier & ~m
        return pred

    # ---------------------------------------------------------- online DDL
    def _control_plan(self, control: list) -> list:
        """Online-DDL plugin (D2, dm/syncer/online-ddl-tools/online_ddl.go:
        46-88,195-260): walk the full control stream in order and return it
        with the DDL rows REPLICATED — trash-table DDLs dropped, ghost-table
        DDLs stashed per real table, and each cut-over ``rename_table``
        (ghost → real) expanded into its ghost's stashed DDLs re-timed to
        the rename's commit_ts and tagged with the real table, which is
        gh-ost's contract: the ALTER takes effect on the real table at the
        atomic rename. The rename itself is not replicated (the downstream
        never has the helper tables). A rename consumes its stash, so
        back-to-back migrations of the same table never double-apply. Pure
        function of the immutable control stream — a resumed run
        reconstructs the identical plan, so no stash persistence is needed
        (DM persists its stash only because it cannot re-read the purged
        binlog; this log is the durable WAL). R rows pass through."""
        if not self.online_ddl:
            return control
        from tiflow_spark.operators.filters import classify_online_ddl

        out = []
        stash: dict[str, list] = {}
        for r in control:
            if r["op"] != OP_DDL:
                out.append(r)
                continue
            d = json.loads(r["ddl"])
            kind, real = classify_online_ddl(r["tbl"], self.online_ddl)
            if kind == "trash":
                continue
            if kind == "ghost":
                stash.setdefault(real, []).append(d)
                continue
            if d.get("action") == "rename_table":
                gkind, greal = classify_online_ddl(
                    d.get("from"), self.online_ddl
                )
                if gkind == "ghost" and greal == (d.get("to") or r["tbl"]):
                    for sd in stash.pop(greal, []):
                        out.append(_ddl_row({
                            "commit_ts": r["commit_ts"], "seq": r["seq"],
                            "ddl": json.dumps(sd), "tbl": greal,
                        }))
                continue  # bare rename_table: not replicable downstream
            out.append(r)
        return out

    # ------------------------------------------------------------ lifecycle
    def bootstrap(
        self,
        spark: SparkSession,
        bases: dict[str, str],
        registries: dict[str, SchemaRegistry] | None = None,
        start_ts: int = 0,
    ) -> None:
        """Per-table full dump → target (S5): one CTAS per target table."""
        for name, base_parquet in bases.items():
            table = self.tables[name]
            if table.exists():
                continue
            reg = (registries or {}).get(name) or SchemaRegistry.initial()
            table.create(
                spark, spark.read.parquet(base_parquet), reg, checkpoint_ts=start_ts
            )

    # ------------------------------------------------------------------ run
    def _states(self) -> dict[str, dict | None]:
        return {name: t.current_manifest() for name, t in self.tables.items()}

    def _apply_epoch(self, spark, log, name, state, plan, ddl_rows):
        routed = log.filter(self._route_pred(name))
        if self.online_ddl:
            from tiflow_spark.operators.filters import online_ddl_dml_filter

            routed = online_ddl_dml_filter(routed, self.online_ddl)
        return self._subs[name].run_epoch(
            spark, routed, state, plan.barrier_ts,
            ddl_rows=[r for r in ddl_rows if self.route_name(r["tbl"]) == name],
            barrier_seq=plan.barrier_seq, syncpoint=plan.syncpoint,
        )

    def final_state(self, spark: SparkSession, name: str) -> DataFrame:
        return self.tables[name].read(spark)
