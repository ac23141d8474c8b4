"""Structured Streaming front-end (SURVEY.md §2.15, §7 step 7).

``readStream`` tails the changefeed log directory (file source — new log
segments appear as the upstream appends them, exactly how TiCDC tails new
binlog/redo segments) and ``foreachBatch`` drives the SAME epoch apply as
the batch replay loop.

Design: a micro-batch is a DISCOVERY unit, not a completeness unit. The
file source does not guarantee segment delivery order (same-mtime files can
surface in any order), and a commit_ts/txn can span a segment boundary — so
neither the batch's row set nor its max ts is a safe epoch cut. The only
safe close points are the feed's own in-band resolved-ts rows
(cdc/model/kv.go:32): each micro-batch takes the max R mark it discovered
as the barrier and replays ``checkpoint < commit_ts <= barrier`` from the
LOG DIRECTORY itself (a ts-pruned scan; row-group stats skip everything
else). Any segment the source discovered late but the upstream wrote early
is on disk and included — file discovery order becomes irrelevant, exactly
like the batch path.

    micro-batch  == barrier-advance tick
    barrier      == max in-band resolved-ts discovered so far
    exactly-once == at-least-once delivery + epoch-fenced idempotent MERGE —
                    the reference's own formula (SURVEY.md §2.15); a batch
                    replayed after a crash re-runs the epoch and the fence
                    turns it into a no-op.

Late/duplicate data: events at or below the committed checkpoint are
excluded by the same ``commit_ts > checkpoint`` slice the batch path uses
(dm/syncer/checkpoint.go:611-631 IsOlderThanTablePoint).

Backpressure: ``maxFilesPerTrigger`` bounds how many new segments (and so
how many R marks) a tick may discover — the flow-control quota of
cdc/sink/common/flow_control.go:142-229 expressed as a source option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflow_spark.engine import EpochDriver, EpochStats
from tiflow_spark.model import CHANGE_EVENT_SCHEMA, OP_RESOLVED


class StreamingChangefeed:
    """Continuous tail of a changefeed log directory into one LakeTable
    (``ChangefeedEngine``), a routed set of them (``MultiTableEngine``) or
    an MQ topic (``MQChangefeed``)."""

    def __init__(self, engine: EpochDriver,
                 checkpoint_dir: str,
                 max_files_per_trigger: int | None = None,
                 validate_resolved: bool = True):
        self.engine = engine
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.validate_resolved = validate_resolved
        self.epochs: list[EpochStats] = []

    # ------------------------------------------------------------- internals
    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """One tick: take the newest resolved mark this batch discovered as
        the barrier and advance the engine to it. Works for every front end
        — ``ChangefeedEngine``, ``MultiTableEngine`` (one epoch per behind
        table) and ``MQChangefeed`` — through the shared
        ``EpochDriver.advance_to``; already-covered barriers no-op via the
        committed checkpoint."""
        from tiflow_spark.engine import validate_resolved_contract

        spark = batch.sparkSession
        # barrier = the newest resolved mark this tick discovered; everything
        # at or below it is complete BY THE FEED'S OWN CONTRACT, regardless
        # of which segment carried it or in which order segments surfaced
        marks = (
            batch.filter(F.col("op") == OP_RESOLVED)
            .select("seq", "commit_ts")
            .collect()
        )
        barrier = max((r["commit_ts"] for r in marks), default=None)
        if barrier is None:
            return  # no new close point yet — events wait for their R mark
        barrier_seq = min(r["seq"] for r in marks if r["commit_ts"] >= barrier)
        if self.validate_resolved:
            # front-end parity with the batch run(): a feed that violates its
            # resolved promise is REFUSED, not silently applied. Marks = this
            # tick's discovered R rows + the committed promise(s) from the
            # manifest (detects a corrupt tail below the checkpoint);
            # floor = min committed promise seq, so each tick validates only
            # the seqs no earlier tick/run has validated (incremental, the
            # same seq_floor pruning as the batch path).
            vmarks = [(r["seq"], r["commit_ts"]) for r in marks]
            promises = self.engine.committed_promises()
            vmarks.extend(promises)
            floor = min((s for s, _ in promises), default=-1)
            validate_resolved_contract(
                spark, self.engine.read_log(spark), vmarks, seq_floor=floor
            )
        self.epochs.extend(
            self.engine.advance_to(spark, int(barrier), barrier_seq)
        )

    # ------------------------------------------------------------------- api
    def start(self, spark: SparkSession, trigger_seconds: float | None = None,
              available_now: bool = False):
        reader = (
            spark.readStream.schema(CHANGE_EVENT_SCHEMA)
            .format("parquet")
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.load(self.engine.log_path)
        writer = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds is not None:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def run_available(self, spark: SparkSession) -> list[EpochStats]:
        """Process everything currently in the log, then stop (the
        streaming twin of EpochDriver.run — both drain exactly up to the
        last in-band resolved mark); returns the epochs applied so far."""
        q = self.start(spark, available_now=True)
        q.awaitTermination()
        return self.epochs
