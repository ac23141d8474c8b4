"""File-backed MQ sink (K4): Kafka semantics without a broker.

Pins: same key → same partition across epochs; per-partition offsets dense,
ascending, continuous across epochs; per-partition order = canonical event
order for that key; checkpoint control message broadcast to EVERY partition
after the epoch's rows (cdc/sink/mq.go:136-166); epoch fence makes
re-publishing a no-op.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tiflow_spark.sinks.mq import FileMQSink


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, commit_ts long, start_ts long, "
              "conv_id string, turn_idx int, envelope string"
    )


def _mk(seq, op, cts, conv, turn):
    return (seq, op, cts, cts - 1, conv, turn, f"{op}:{conv}/{turn}@{cts}")


def test_mq_sink_offsets_order_and_checkpoints(spark, tmp_path):
    sink = FileMQSink(str(tmp_path / "topic"), n_partitions=3)

    e1 = _events(spark, [
        _mk(0, "I", 100, "a", 0), _mk(1, "U", 101, "a", 0),
        _mk(2, "I", 102, "b", 0), _mk(3, "D", 103, "c", 1),
    ])
    e2 = _events(spark, [
        _mk(4, "U", 110, "a", 0), _mk(5, "I", 111, "d", 2),
    ])
    assert sink.write_epoch(e1, epoch=1, barrier_ts=105)
    assert sink.write_epoch(e2, epoch=2, barrier_ts=115)
    # fence: re-publishing epoch 2 is a no-op
    assert not sink.write_epoch(e2, epoch=2, barrier_ts=115)

    msgs = sink.read_topic(spark).collect()
    by_part: dict[int, list] = {}
    for m in sorted(msgs, key=lambda m: (m["partition"], m["offset"])):
        by_part.setdefault(m["partition"], []).append(m)

    # offsets dense + ascending per partition, across both epochs
    for p, ms in by_part.items():
        assert [m["offset"] for m in ms] == list(range(len(ms)))
    # every partition got a checkpoint message per epoch that touched it...
    state = sink.topic_state()
    assert state["epoch"] == 2 and state["barrier_ts"] == 115
    for p in range(3):
        cks = [json.loads(m["value"])["resolved_ts"]
               for m in by_part.get(p, []) if m["kind"] == "checkpoint"]
        assert cks == [105, 115]  # broadcast to ALL partitions, in order

    # same key lands in one partition, rows in commit order
    a_rows = [m for ms in by_part.values() for m in ms
              if m["kind"] == "row" and ":a/0@" in m["value"]]
    assert len({m["partition"] for m in a_rows}) == 1
    assert [m["value"][-3:] for m in a_rows] == ["100", "101", "110"]


def test_mq_dispatch_matches_offsets_tail(spark, tmp_path):
    sink = FileMQSink(str(tmp_path / "t2"), n_partitions=2)
    e = _events(spark, [_mk(i, "I", 100 + i, f"c{i}", 0) for i in range(10)])
    sink.write_epoch(e, epoch=1, barrier_ts=200)
    state = sink.topic_state()
    n_msgs = sink.read_topic(spark).count()
    # tail offsets == total messages (rows + one checkpoint per partition)
    assert sum(state["offsets"].values()) == n_msgs == 10 + 2


def test_mq_dense_partitions_beyond_cores(spark, tmp_path):
    """Partition count is the MQ parallelism unit (the documented scale
    knob): publishing with n_partitions=64 — far above the local core count
    — keeps per-partition offsets dense from 0, broadcasts the checkpoint
    to all 64 partitions, and the relayed topic still byte-matches the
    sequential oracle end to end."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.generator import generate_changefeed
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tiflow_spark.sinks.mq import MQChangefeed, topic_to_log
    from tests.helpers import assert_tables_equal

    feed = generate_changefeed(
        str(tmp_path / "feed64"), n_convs=80, turns_per_conv=4,
        n_changes=3000, seed=9, resolved_every=1500,
    )
    sink = FileMQSink(str(tmp_path / "topic64"), n_partitions=64)
    epochs = MQChangefeed(feed.log_path, sink).run(spark).epochs
    assert epochs and epochs[-1].barrier_ts == feed.max_commit_ts

    state = sink.topic_state()
    agg = (
        sink.read_topic(spark)
        .withColumn("partition", F.regexp_extract(
            F.input_file_name(), r"partition=(\d+)", 1).cast("int"))
        .groupBy("partition")
        .agg(F.count("*").alias("n"), F.min("offset").alias("mn"),
             F.max("offset").alias("mx"))
        .collect()
    )
    assert {r["partition"] for r in agg} == set(range(64))  # ckpt broadcast
    for r in agg:
        # dense: offsets are exactly 0..n-1 and the manifest tail agrees
        assert (r["mn"], r["mx"]) == (0, r["n"] - 1), r
        assert state["offsets"][str(r["partition"])] == r["n"]

    log2 = topic_to_log(spark, sink, str(tmp_path / "relay64"))
    eng = ChangefeedEngine(log2, LakeTable(str(tmp_path / "t64"), num_buckets=8))
    eng.bootstrap(spark, feed.base_path)
    eng.run(spark)
    assert_tables_equal(
        eng.final_state(spark).toPandas(),
        sequential_apply(feed.base_path, feed.log_path),
    )
