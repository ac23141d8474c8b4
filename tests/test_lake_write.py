"""Lake write-path invariants: file-count discipline, checkpoint_seq
hygiene, sync-point snapshots, and control-sidecar staleness fallback."""

from __future__ import annotations

import glob
import os

import pytest

from tiflow_spark.engine import ChangefeedEngine
from tiflow_spark.lake import LakeTable
from tiflow_spark.oracle import sequential_apply
from tiflow_spark.registry import SchemaRegistry

from tests.helpers import assert_tables_equal, ev, pl, write_feed


def _parquet_count(root: str) -> int:
    return len(glob.glob(os.path.join(root, "data", "*", "_bucket=*", "*.parquet")))


def test_files_per_commit_bounded(spark, tmp_path):
    """Files per commit stay ~= max(cores, num_buckets): the within-bucket
    salt splits a bucket into at most ceil(cores/buckets) files, never
    tasks x buckets (the round-2 fan-out regression: 32 -> 1024 files)."""
    from pyspark.sql import functions as F

    rows = [
        (f"c{i}", t, "user", f"text {i}/{t}", None, "2024-01-01T00:00:00")
        for i in range(200)
        for t in range(3)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    table = LakeTable(str(tmp_path / "t"), num_buckets=4)
    table.create(spark, df, SchemaRegistry.initial())
    cores = spark.sparkContext.defaultParallelism
    assert _parquet_count(table.path) <= max(cores, table.num_buckets)


def test_checkpoint_seq_not_inherited_across_ts_advance(spark, tmp_path):
    """merge() with checkpoint_seq=None while checkpoint_ts advances must
    NOT carry the old seq forward — that would fabricate a resolved-ts
    promise (old_seq, new_ts) never made, tripping a false
    ResolvedTsRegression on the next validated run."""
    base = [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")]
    events = [
        ev(0, "U", 120, "c1", 0, pl("e1")),
        ev(1, "R", 150),
        # events between the first and second checkpoint, seq > 0
        ev(2, "U", 160, "c1", 0, pl("e2")),
        ev(3, "R", 200),
    ]
    base_fp, log_dir = write_feed(tmp_path, events, base, final_resolved=False)
    table = LakeTable(str(tmp_path / "tgt"), num_buckets=2)
    eng = ChangefeedEngine(log_dir, table)
    eng.bootstrap(spark, base_fp)
    eng.run(spark, max_epochs=1, barrier_stride=1)  # commit @150, seq promise 1
    assert table.current_manifest()["checkpoint_seq"] == 1

    # advance to 200 through the public default (barrier_seq=None)
    eng.advance_to(spark, 200)
    m = table.current_manifest()
    assert m["checkpoint_ts"] == 200
    # stale seq NOT inherited: (1, 200) was never promised by the feed
    assert m["checkpoint_seq"] == -1

    # a validated run over the same feed must not raise a false regression
    stats = ChangefeedEngine(log_dir, table).run(spark, validate_resolved=True)
    assert stats.epochs == []  # nothing left, and no ResolvedTsRegression


def test_syncpoint_barrier_snapshots(spark, tmp_path):
    """syncpoint_every: epoch coalescing stops at each sync target; the
    manifest records (primary_ts, epoch) pairs and read_at_syncpoint()
    reproduces the state the sequential oracle has at exactly that ts
    (TiCDC syncPointBarrier, cdc/owner/barrier.go:28-29)."""
    base = [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")]
    events = [
        ev(0, "U", 90, "c1", 0, pl("v90")),
        ev(1, "R", 100),
        ev(2, "I", 180, "c2", 0, pl("v180")),
        ev(3, "R", 190),
        ev(4, "U", 250, "c1", 0, pl("v250")),
        ev(5, "R", 260),
        ev(6, "I", 390, "c3", 0, pl("v390")),
        ev(7, "R", 400),
    ]
    base_fp, log_dir = write_feed(tmp_path, events, base, final_resolved=False)
    table = LakeTable(str(tmp_path / "tgt"), num_buckets=2)
    eng = ChangefeedEngine(log_dir, table)
    eng.bootstrap(spark, base_fp)
    stats = eng.run(spark, syncpoint_every=200)
    assert all(e.committed for e in stats.epochs)
    sps = table.current_manifest()["syncpoints"]
    # first barrier >= 200 is 260; then >= 400 is 400
    assert [s["primary_ts"] for s in sps] == [260, 400]
    for sp in sps:
        got = table.read_at_syncpoint(spark, sp["primary_ts"]).toPandas()
        exp = sequential_apply(base_fp, log_dir, barrier_ts=sp["primary_ts"])
        assert_tables_equal(got, exp)
    with pytest.raises(KeyError):
        table.read_at_syncpoint(spark, 123)


def test_stale_control_sidecar_falls_back_to_full_scan(spark, tmp_path):
    """Segments appended to the log AFTER the control sidecar was written
    must still drive the checkpoint forward: read_control sees the log
    holding more segments than the sidecar's ``_COVERAGE`` high-watermark
    and falls back to the full scan, instead of silently stalling at the
    old barrier."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.helpers import EVENT_COLS

    base = [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")]
    events = [ev(0, "U", 120, "c1", 0, pl("e1")), ev(1, "R", 150)]
    base_fp, log_dir = write_feed(
        tmp_path, events, base, final_resolved=False, control_sidecar=True
    )
    table = LakeTable(str(tmp_path / "tgt"), num_buckets=2)
    eng = ChangefeedEngine(log_dir, table)
    eng.bootstrap(spark, base_fp)
    eng.run(spark)
    assert table.current_manifest()["checkpoint_ts"] == 150

    # raw tail append: data + R beyond the sidecar's knowledge
    late = [ev(2, "U", 220, "c1", 0, pl("e2")), ev(3, "R", 300)]
    pq.write_table(
        pa.Table.from_pylist(late, schema=pa.schema(EVENT_COLS)),
        os.path.join(log_dir, "changefeed-00001.parquet"),
    )
    stats = ChangefeedEngine(log_dir, table).run(spark)
    assert [e.barrier_ts for e in stats.epochs] == [300]
    assert_tables_equal(
        table.read(spark).toPandas(), sequential_apply(base_fp, log_dir)
    )


def test_control_coverage_high_watermark(spark, tmp_path):
    """read_control trusts the sidecar via the ``_COVERAGE`` segment-count
    high-watermark (one name listing, no per-file stats — mtimes are
    unreliable on object stores): a sentinel row present ONLY in the
    sidecar proves the sidecar was read; appending a raw log segment makes
    the count exceed the watermark and forces the full scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.helpers import EVENT_COLS
    from tiflow_spark.engine import read_control, write_control_coverage

    base = [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")]
    events = [ev(0, "U", 120, "c1", 0, pl("e1")), ev(1, "R", 150)]
    _, log_dir = write_feed(
        tmp_path, events, base, final_resolved=False, control_sidecar=True
    )
    schema = pa.schema(EVENT_COLS)
    # sentinel R mark only the sidecar knows about
    pq.write_table(
        pa.Table.from_pylist([ev(99, "R", 999)], schema=schema),
        os.path.join(log_dir, "_control", "control-00001.parquet"),
    )
    write_control_coverage(log_dir)
    rows = read_control(spark, log_dir, 0, ["op", "commit_ts", "seq"])
    assert any(r["commit_ts"] == 999 for r in rows)  # sidecar path taken

    # raw tail append -> segment count exceeds the watermark -> full scan
    pq.write_table(
        pa.Table.from_pylist([ev(2, "R", 500)], schema=schema),
        os.path.join(log_dir, "changefeed-00001.parquet"),
    )
    rows = read_control(spark, log_dir, 0, ["op", "commit_ts", "seq"])
    assert any(r["commit_ts"] == 500 for r in rows)  # new R visible
    assert not any(r["commit_ts"] == 999 for r in rows)  # sidecar distrusted


def test_lineage_compaction_bounded_and_conservation_exact(spark, tmp_path):
    """Manifest lineage detail stays O(lineage_keep x buckets) — the full
    history would make every commit rewrite an O(epochs x buckets)
    manifest — while totals + detail keep the event accounting exact."""
    base = [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")]
    events, seq = [], 0
    n_epochs = 7
    for e in range(n_epochs):
        ts = 100 + e * 10
        events.append(ev(seq, "U", ts, "c1", 0, pl(f"v{e}"))); seq += 1
        events.append(ev(seq, "R", ts + 5)); seq += 1
    base_fp, log_dir = write_feed(tmp_path, events, base, final_resolved=False)

    table = LakeTable(str(tmp_path / "tgt"), num_buckets=2, lineage_keep=2)
    eng = ChangefeedEngine(log_dir, table)
    eng.bootstrap(spark, base_fp)
    eng.run(spark, barrier_stride=1)

    m = table.current_manifest()
    assert m["epoch"] == n_epochs
    detail_epochs = {r["epoch"] for r in m["lineage"]}
    assert detail_epochs == {n_epochs - 1, n_epochs}  # window of 2
    totals = table.lineage_totals()
    assert totals and all(t["through_epoch"] <= n_epochs - 2
                          for t in totals.values())
    # conservation: totals + detail == one event per epoch
    total_events = sum(t["applied_events"] for t in totals.values()) + sum(
        r["applied_events"] for r in m["lineage"]
    )
    assert total_events == n_epochs
    # max_commit_ts monotonicity: the newest ts lives in the detail rows
    assert max(r["max_commit_ts"] for r in m["lineage"]) == 100 + (n_epochs - 1) * 10
    assert_tables_equal(
        eng.final_state(spark).toPandas(), sequential_apply(base_fp, log_dir)
    )
