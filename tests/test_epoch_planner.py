"""The epoch planner: one barrier policy for every front end.

``plan_epoch`` is pure (no Spark), so its policy is pinned as a table:
stride, the target_ts cut, the sync-point clamp, the promise seq recorded
with each barrier and the skip of targets already past it. The parity test
then runs one feed through the three front ends that share it — the
single-table lake engine, a one-route multi-table engine and the MQ
publisher — and requires the same barrier sequence and final promise.
"""

from __future__ import annotations

import json
import os

import pytest

from tiflow_spark.engine import EpochPlan, plan_epoch

from tests.helpers import ev, pl, write_feed


def _r(seq, ts):
    return {"op": "R", "seq": seq, "commit_ts": ts, "ddl": None}


def _d(seq, ts, tbl=None):
    return {"op": "DDL", "seq": seq, "commit_ts": ts,
            "ddl": json.dumps({"action": "add_column"}), "tbl": tbl}


# R marks at 100, 200, 300, 400 (seqs 10, 20, 30, 40), DDLs at 150 and 300;
# a duplicated mark at 200 with a later seq must not move the promise
CONTROL = [
    _r(10, 100), _d(12, 150), _r(20, 200), _r(25, 200),
    _d(28, 300, tbl="app.t"), _r(30, 300), _r(40, 400),
]


@pytest.mark.parametrize(
    "checkpoints, kwargs, barrier, seq, syncpoint, ddl_seqs, targets",
    [
        # stride 0 coalesces every outstanding mark
        ({"a": 0}, {}, 400, 40, False, [12, 28], ("a",)),
        # stride 1: one epoch per mark; the promise is the earliest covering
        ({"a": 0}, {"stride": 1}, 100, 10, False, [], ("a",)),
        ({"a": 100}, {"stride": 1}, 200, 20, False, [12], ("a",)),
        # stride k takes the k-th outstanding mark, clamped to the last
        ({"a": 100}, {"stride": 2}, 300, 30, False, [12, 28], ("a",)),
        ({"a": 300}, {"stride": 5}, 400, 40, False, [], ("a",)),
        # target_ts covered by a later mark: cut exactly at target
        ({"a": 0}, {"target_ts": 250}, 250, 30, False, [12], ("a",)),
        ({"a": 0}, {"target_ts": 250, "stride": 1}, 100, 10, False, [], ("a",)),
        # target_ts not covered: stop at the last mark below it
        ({"a": 0}, {"target_ts": 450}, 400, 40, False, [12, 28], ("a",)),
        # sync-point clamp: never coalesce past the first mark >= 250
        ({"a": 0}, {"syncpoint_every": 250}, 300, 30, True, [12, 28], ("a",)),
        ({"a": 0}, {"syncpoint_every": 250, "stride": 1}, 100, 10, False, [],
         ("a",)),
        ({"a": 300}, {"syncpoint_every": 250}, 400, 40, False, [], ("a",)),
        # several targets: the barrier follows the laggiest; a target
        # already past it is skipped; DDLs start above the lowest checkpoint
        ({"a": 100, "b": 300, "c": 0}, {"stride": 2}, 200, 20, False, [12],
         ("a", "c")),
        ({"a": 200, "b": 100}, {"stride": 1}, 200, 20, False, [12], ("b",)),
    ],
)
def test_plan_epoch_table(checkpoints, kwargs, barrier, seq, syncpoint,
                          ddl_seqs, targets):
    plan = plan_epoch(CONTROL, checkpoints, **kwargs)
    assert isinstance(plan, EpochPlan)
    assert plan.barrier_ts == barrier
    assert plan.barrier_seq == seq
    assert plan.syncpoint is syncpoint
    assert [r["seq"] for r in plan.ddl_rows] == ddl_seqs
    assert plan.targets == targets


def test_plan_epoch_nothing_outstanding_and_row_shape():
    assert plan_epoch(CONTROL, {"a": 400}) is None
    assert plan_epoch(CONTROL, {"a": 0}, target_ts=0) is None
    assert plan_epoch(CONTROL, {"a": 250}, target_ts=250) is None
    assert plan_epoch([_d(1, 50)], {"a": 0}) is None  # no mark, no barrier
    # a caller-supplied mark with no seq records no promise
    plan = plan_epoch([_d(1, 50), {"op": "R", "seq": None, "commit_ts": 60}],
                      {"a": 0})
    assert (plan.barrier_ts, plan.barrier_seq) == (60, None)
    # DDL rows come out in one shape whatever came in: tbl always present
    plan = plan_epoch(
        [{"op": "DDL", "seq": 1, "commit_ts": 50, "ddl": "{}"}, _r(2, 60)],
        {"a": 0},
    )
    (row,) = plan.ddl_rows
    assert (row["op"], row["commit_ts"], row["seq"], row["tbl"]) == (
        "DDL", 50, 1, None)


def test_front_end_parity_one_barrier_schedule(spark, tmp_path):
    """At barrier_stride=1 the single-table engine, a one-route multi-table
    engine and the MQ publisher — all on the one inherited ``run`` — commit
    the same barrier sequence and the same promises over one feed with a
    mid-stream ADD COLUMN: first up to a ``target_ts`` no mark lands on,
    then, resumed without one, to the end of the feed."""
    from tiflow_spark.engine import ChangefeedEngine, MultiTableEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed

    base = [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")]
    events = [
        ev(0, "U", 101, "c1", 0, pl("v1")),
        ev(1, "R", 110),
        ev(2, "I", 115, "c2", 0, pl("new")),
        ev(3, "DDL", 120, ddl={"action": "add_column", "name": "note",
                               "type": "string", "default": "d"}),
        ev(4, "U", 125, "c1", 0, pl("v2", note="n"), ver=None),
        ev(5, "R", 130),
        ev(6, "D", 135, "c2", 0),
        ev(7, "R", 140),
    ]
    base_fp, log_dir = write_feed(tmp_path, events, base, final_resolved=False)
    base_dir = os.path.dirname(base_fp)

    single = ChangefeedEngine(log_dir, LakeTable(str(tmp_path / "s"), num_buckets=2))
    single.bootstrap(spark, base_fp)
    multi = MultiTableEngine(
        log_dir, {"transcripts": LakeTable(str(tmp_path / "m"), num_buckets=2)}
    )
    multi.bootstrap(spark, {"transcripts": base_dir})
    sink = FileMQSink(str(tmp_path / "topic"), n_partitions=2)
    front_ends = (single, multi, MQChangefeed(log_dir, sink))

    def schedules(target_ts):
        return [
            [e.barrier_ts for e in fe.run(
                spark, barrier_stride=1, target_ts=target_ts).epochs]
            for fe in front_ends
        ]

    def promises():
        return {
            single.table.current_manifest()["checkpoint_seq"],
            multi.tables["transcripts"].current_manifest()["checkpoint_seq"],
            sink.topic_state()["checkpoint_seq"],
        }

    # the finish barrier cuts between marks; its promise is the first mark
    # covering it (R@130, seq 5)
    assert schedules(125) == [[110, 125]] * 3
    assert [fe.checkpoint_ts() for fe in front_ends] == [125] * 3
    assert promises() == {5}
    assert schedules(None) == [[130, 140]] * 3
    assert promises() == {7}
