"""Unit tests for the round-1 coverage additions: cyclic-replication filter
(F6), data-validator checksums, quality scoring, batch reduction."""

from __future__ import annotations

from pyspark.sql import functions as F

from tiflow_spark.functions import text
from tiflow_spark.operators.filters import cyclic_mark_filter
from tiflow_spark.operators.validator import table_checksums


def _feed(spark):
    rows = [
        # (op, commit_ts, start_ts, seq, user_id, value)
        ("I", 10, 10, 0, 1, "a"),
        ("U", 20, 20, 1, 1, "b"),
        ("I", 30, 30, 2, 2, "c"),
        ("D", 40, 40, 3, 2, "d"),
        ("U", 50, 50, 4, 3, "e"),
    ]
    return spark.createDataFrame(
        rows, "op string, commit_ts long, start_ts long, seq long, user_id long, value string"
    )


def test_cyclic_filter_drops_marked_replica_keeps_unmarked(spark):
    feed = _feed(spark)
    marks = spark.createDataFrame(
        [(10, 1), (30, 2)], "start_ts long, replica_id int"
    )
    kept = cyclic_mark_filter(feed, marks, filter_replica_ids=[2])
    got = {r.start_ts for r in kept.collect()}
    # txn 30 originated from replica 2 → dropped; txn 10 (replica 1) and all
    # unmarked local txns pass
    assert got == {10, 20, 40, 50}


def test_cyclic_filter_no_marks_is_identity(spark):
    feed = _feed(spark)
    marks = spark.createDataFrame([], "start_ts long, replica_id int")
    assert cyclic_mark_filter(feed, marks, [1, 2]).count() == feed.count()


def test_checksum_detects_single_cell_drift(spark):
    feed = _feed(spark)
    drifted = feed.withColumn(
        "value", F.when(F.col("commit_ts") == 30, "CORRUPT").otherwise(F.col("value"))
    )
    a = table_checksums(feed, "user_id", ["op", "value"], n_buckets=4)
    b = table_checksums(drifted, "user_id", ["op", "value"], n_buckets=4)
    diff = a.alias("a").join(b.alias("b"), "bucket").filter(
        (F.col("a.n_rows") != F.col("b.n_rows"))
        | (F.col("a.checksum") != F.col("b.checksum"))
    )
    assert diff.count() == 1  # exactly the drifted row's bucket flags


def test_checksum_partition_invariant(spark):
    feed = _feed(spark)
    a = table_checksums(feed.repartition(1), "user_id", ["op", "value"], 4)
    b = table_checksums(feed.repartition(7), "user_id", ["op", "value"], 4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ddl_type_filter(spark):
    """F2: unreplicable DDL actions are dropped; DML rows always pass."""
    from tiflow_spark.operators.filters import ddl_type_filter

    rows = [
        ("I", None),
        ("DDL", '{"action": "add_column", "name": "x"}'),
        ("DDL", '{"action": "create_view", "name": "v"}'),  # not replicable
        ("U", None),
    ]
    df = spark.createDataFrame(rows, "op string, ddl string")
    kept = ddl_type_filter(df).collect()
    assert len(kept) == 3
    assert all(
        r.op != "DDL" or "add_column" in r.ddl for r in kept
    )


def test_ineligible_ddl_rejected():
    """F7 guard: DDL may not introduce payload fields shadowing key or
    envelope columns (would make the table ineligible for replication)."""
    import pytest

    from tiflow_spark.registry import SchemaRegistry

    reg = SchemaRegistry.initial()
    with pytest.raises(ValueError, match="ineligible"):
        reg.apply_ddl({"action": "add_column", "name": "conv_id"}, 100)
    with pytest.raises(ValueError, match="ineligible"):
        reg.apply_ddl({"action": "add_column", "name": "commit_ts"}, 100)
    reg.apply_ddl({"action": "add_column", "name": "note"}, 100)
    with pytest.raises(ValueError, match="ineligible"):
        reg.apply_ddl(
            {"action": "rename_column", "name": "note", "new_name": "turn_idx"}, 200
        )
    # legal rename still works after the rejected attempts
    v = reg.apply_ddl(
        {"action": "rename_column", "name": "note", "new_name": "memo"}, 300
    )
    assert "memo" in v.names() and len(reg.versions) == 3


def test_unreplicable_ddl_skipped_in_replay(spark, tmp_path):
    """F2 end-to-end: a non-replicable DDL in the log is skipped by both the
    engine and the oracle; replay continues and a later replicable DDL still
    lands."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply

    from tests.helpers import assert_tables_equal, ev, pl, write_feed

    base = [("c1", 0, "user", "hello", None, "2024-01-01T00:00:00")]
    events = [
        ev(0, "U", 101, "c1", 0, pl("hello v2")),
        ev(1, "DDL", 102, ddl={"action": "create_index", "name": "ix"}),
        ev(2, "DDL", 103, ddl={"action": "add_column", "name": "note",
                               "type": "string", "default": "d"}),
        ev(3, "U", 104, "c1", 0, pl("hello v3", note="n"), ver=None),
    ]
    base_fp, log_dir = write_feed(tmp_path, events, base)
    table = LakeTable(str(tmp_path / "target"), num_buckets=2)
    eng = ChangefeedEngine(log_dir, table)
    eng.bootstrap(spark, base_fp, start_ts=0)
    stats = eng.run(spark)
    assert stats.epochs[-1].ddl_events == 1  # only the add_column counted
    got = eng.final_state(spark).toPandas()
    assert_tables_equal(got, sequential_apply(base_fp, log_dir))
    assert "note" in got.columns and got["note"].tolist() == ["n"]


def test_sql_pattern_filter_library(spark):
    """SQL-pattern statement filter (dm/syncer/filter.go:95-110): DDL rows
    whose canonical statement (or recorded ``query``) matches a configured
    case-insensitive regex are dropped; DML rows always pass; a NULL ddl
    column keeps the row (drop_matching)."""
    import json

    from tiflow_spark.operators.filters import (
        render_ddl_sql, sql_pattern_filter, sql_pattern_skip,
    )

    rows = [
        ("DDL", json.dumps({"action": "add_column", "name": "secret",
                            "type": "string"}), None),
        ("DDL", json.dumps({"action": "add_column", "name": "note",
                            "type": "string"}), None),
        ("DDL", json.dumps({"action": "truncate_table"}), "audit"),
        ("DDL", json.dumps({"action": "drop_column", "name": "x",
                            "query": "ALTER TABLE t DROP COLUMN x /*raw*/"}),
         None),
        ("U", None, None),
        # partial DDL: no column name
        ("DDL", json.dumps({"action": "add_column", "type": "string"}), None),
    ]
    df = spark.createDataFrame(rows, "op string, ddl string, tbl string")

    got = sql_pattern_filter(df, ["add column SECRET"]).collect()
    assert len(got) == 5  # only the secret add_column dropped (case-insens.)
    got = sql_pattern_filter(df, ["^TRUNCATE TABLE audit$"]).collect()
    assert len(got) == 5  # tbl column feeds the rendered statement
    got = sql_pattern_filter(df, [r"/\*raw\*/"]).collect()
    assert len(got) == 5  # the dict's own query field matches
    got = sql_pattern_filter(df, ["nomatch"]).collect()
    assert len(got) == 6  # DML row always kept, NULL-evaluating rows kept
    # a missing part is skipped on both paths, never rendered as "None"
    got = sql_pattern_filter(df, ["ADD COLUMN string$"]).collect()
    assert len(got) == 5

    # Python twin renders identically and matches the same statements
    d = {"action": "add_column", "name": "secret", "type": "string"}
    assert render_ddl_sql(d) == "ALTER TABLE transcripts ADD COLUMN secret string"
    assert sql_pattern_skip(d, ["add column SECRET"])
    assert not sql_pattern_skip(d, ["nomatch"])
    assert sql_pattern_skip({"action": "truncate_table"},
                            ["^TRUNCATE TABLE audit$"], table="audit")
    nameless = {"action": "add_column", "type": "string"}
    assert render_ddl_sql(nameless) == "ALTER TABLE transcripts ADD COLUMN string"
    assert sql_pattern_skip(nameless, ["ADD COLUMN string$"])


def test_sql_pattern_filter_replay_matches_filtered_oracle(spark, tmp_path):
    """DM sql-pattern end-to-end (mirrors the F2/F3/F5 replay pattern): a
    replay configured to skip 'ADD COLUMN secret' must byte-match the
    sequential oracle under the SAME skip — the matching DDL never lands
    (no column), later DDLs and all DML still apply."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply

    from tests.helpers import assert_tables_equal, ev, pl, write_feed

    base = [("c1", 0, "user", "hello", None, "2024-01-01T00:00:00")]
    events = [
        ev(0, "U", 101, "c1", 0, pl("v2")),
        ev(1, "DDL", 102, ddl={"action": "add_column", "name": "secret",
                               "type": "string", "default": "s"}),
        ev(2, "DDL", 103, ddl={"action": "add_column", "name": "note",
                               "type": "string", "default": "d"}),
        # event written under the full (secret+note) schema: the filtered
        # replay must decode it under ITS registry (no secret column)
        ev(3, "U", 104, "c1", 0, pl("v3", secret="x", note="n"), ver=None),
    ]
    base_fp, log_dir = write_feed(tmp_path, events, base)
    pats = ["ADD COLUMN secret"]
    eng = ChangefeedEngine(
        log_dir, LakeTable(str(tmp_path / "t"), num_buckets=2),
        sql_patterns=pats,
    )
    eng.bootstrap(spark, base_fp)
    stats = eng.run(spark)
    assert stats.epochs[-1].ddl_events == 1  # secret skipped, note applied
    got = eng.final_state(spark).toPandas()
    assert "secret" not in got.columns and "note" in got.columns
    assert_tables_equal(
        got, sequential_apply(base_fp, log_dir, sql_patterns=pats)
    )
    # and WITHOUT the filter the same feed lands both columns
    eng2 = ChangefeedEngine(log_dir, LakeTable(str(tmp_path / "t2"),
                                               num_buckets=2))
    eng2.bootstrap(spark, base_fp)
    eng2.run(spark)
    got2 = eng2.final_state(spark).toPandas()
    assert "secret" in got2.columns
    assert_tables_equal(got2, sequential_apply(base_fp, log_dir))


def test_quality_scores_gate(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today, really."),
            (1, "ok"),  # too short → dropped
            (2, ""),    # empty → no division error, dropped
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.quality_scores(docs).collect()}
    assert rows[0].keep and not rows[1].keep and not rows[2].keep
    assert rows[0].stop_permille > 0 and rows[0].punct_permille > 0
    assert rows[2].punct_permille == 0


def test_expr_filter_per_op(spark):
    from tiflow_spark.operators.filters import expr_filter_per_op

    feed = spark.createDataFrame(
        [("I", 5, 0), ("I", 50, 0), ("U", 5, 99), ("U", 5, 1),
         ("D", 5, 0), ("D", 500, 0)],
        "op string, value long, pre_value long",
    )
    kept = expr_filter_per_op(
        feed, insert="value < 10", update_old="pre_value > 50",
        delete="value >= 100",
    ).collect()
    got = sorted((r.op, r.value) for r in kept)
    # dropped: I value=5 (insert rule), U pre=99 (update-old rule), D 500
    assert got == [("D", 5), ("I", 50), ("U", 5)]

    # both update predicates configured → AND (dm/syncer/dml.go:182-194
    # skip1 && skip2): drop only when pre-image AND post-image both match
    both = spark.createDataFrame(
        [("U", 99, 99), ("U", 99, 1), ("U", 1, 99), ("U", 1, 1)],
        "op string, value long, pre_value long",
    )
    kept2 = expr_filter_per_op(
        both, update_old="pre_value > 50", update_new="value > 50"
    ).collect()
    got2 = sorted((r.value, r.pre_value) for r in kept2)
    assert got2 == [(1, 1), (1, 99), (99, 1)]  # only (99,99) dropped


def test_canal_pb_wire_parses_as_protobuf(spark):
    """cdc_encode_canal_pb emits genuine protobuf wire format: a minimal
    independent TLV/varint reader (written here, sharing no code with the
    encoder) must round-trip the header and the RowData column images of
    real rows — a DELETE's image in beforeColumns only."""
    import json

    from tiflow_spark.queries import cdc_encode_canal_pb

    def rd_varint(b, i):
        v, shift = 0, 0
        while True:
            v |= (b[i] & 0x7F) << shift
            i += 1
            if not b[i - 1] & 0x80:
                return v, i
            shift += 7

    def rd_fields(b):
        i, out = 0, []
        while i < len(b):
            tag, i = rd_varint(b, i)
            fno, wt = tag >> 3, tag & 7
            if wt == 0:
                v, i = rd_varint(b, i)
            elif wt == 2:
                ln, i = rd_varint(b, i)
                v = b[i:i + ln]
                i += ln
            else:
                raise AssertionError(f"unexpected wire type {wt}")
            out.append((fno, v))
        return out

    rows = cdc_encode_canal_pb(spark, "/root/testdata/sf0.001").limit(5).collect()
    assert rows
    names = [(0, b"conv_id"), (1, b"turn_idx"), (2, b"payload")]
    saw_delete = False
    for r in rows:
        wire = bytes.fromhex(r["envelope"])
        ln, i = rd_varint(wire, 0)
        assert ln == len(wire) - i  # length-prefixed framing
        entry = dict(rd_fields(wire[i:]))
        header = dict(rd_fields(entry[1]))
        assert header[1] == b"app" and 1 <= header[4] <= 3
        assert entry[2] == 0  # isDdl = false
        images = {1: [], 2: []}  # beforeColumns, afterColumns
        for fno, c in rd_fields(entry[3]):
            cf = dict(rd_fields(c))
            images[fno].append((cf[1], cf[2], cf[3]))
        row = images[1] if header[4] == 3 else images[2]
        assert [(idx, name) for idx, name, _ in row] == names
        assert int(row[1][2]) == 0  # turn_idx
        image = json.loads(row[2][2])
        assert image["user_id"] == int(row[0][2])  # conv_id is the user
        if header[4] == 3:
            assert images[2] == []
            saw_delete = True
    assert saw_delete


def test_craft_wire_round_trips(spark):
    """cdc_encode_craft emits the craft wire layout for real: an
    independent reader locates the size tables via the tail's REVERSED
    uvarint (read backward from the last byte), validates every recorded
    segment size against the actual layout, and decodes the term
    dictionary and both column groups' values."""
    import json

    from tiflow_spark.queries import cdc_encode_craft

    def uvar(b, i):
        v, shift = 0, 0
        while True:
            v |= (b[i] & 0x7F) << shift
            i += 1
            if not b[i - 1] & 0x80:
                return v, i
            shift += 7

    def zig(b, i):
        u, i = uvar(b, i)
        return (u >> 1) ^ -(u & 1), i

    def group(g, ncols_want, types):
        ncols, i = uvar(g, 1)
        refs, ref = [], 0
        for k in range(ncols):
            d, i = zig(g, i)
            ref = d if k == 0 else ref + d
            refs.append(ref)
        assert ncols == ncols_want and g[i:i + ncols] == types
        i += ncols
        mask = g[i]
        i += 1
        lens = []
        for _ in range(ncols):
            ln, i = uvar(g, i)
            lens.append(ln)
        vals = []
        for ln in lens:
            vals.append(g[i:i + ln])
            i += ln
        assert i == len(g)
        return refs, mask, vals

    rows = cdc_encode_craft(spark, "/root/testdata/sf0.001").limit(5).collect()
    assert rows
    for r in rows:
        b = bytes.fromhex(r["envelope"])
        # tail-first reversed uvarint: read bytes backward as a varint
        j, v, shift = len(b) - 1, 0, 0
        while True:
            v |= (b[j] & 0x7F) << shift
            shift += 7
            j -= 1
            if not b[j + 1] & 0x80:
                break
        tables = b[j + 1 - v:j + 1]
        # size tables: meta [header, dict(delta)], body, column groups
        i = 0
        n, i = uvar(tables, i)
        assert n == 2
        hsize, i = zig(tables, i)
        ddelta, i = zig(tables, i)
        dsize = hsize + ddelta
        n, i = uvar(tables, i)
        bsize, i = zig(tables, i)
        n, i = uvar(tables, i)
        g1size, i = zig(tables, i)
        g2size, i = zig(tables, i)
        assert n == 2 and i == len(tables) and bsize == g1size + g2size
        assert b[0] == 0x01  # craft Version1
        assert 1 + hsize + bsize + dsize == j + 1 - v  # layout adds up
        # term dictionary
        d = b[1 + hsize + bsize:1 + hsize + bsize + dsize]
        i = 0
        cnt, i = uvar(d, i)
        lens = []
        for _ in range(cnt):
            ln, i = uvar(d, i)
            lens.append(ln)
        terms = []
        for ln in lens:
            terms.append(d[i:i + ln])
            i += ln
        assert terms[0] == b"app"
        assert terms[2:] == [b"conv_id", b"turn_idx", b"payload"]
        # new-values group: conv_id, turn_idx, payload (null-mask bit 2)
        body = b[1 + hsize:1 + hsize + bsize]
        assert body[0] == 0x01 and body[g1size] == 0x02
        refs, mask, (conv, turn, pay) = group(body[:g1size], 3, b"\x0f\x08\x0f")
        assert refs == [2, 3, 4] and zig(turn, 0) == (0, len(turn))
        if not mask & 4:
            assert json.loads(pay)["user_id"] == int(conv)
        # old-values group: the pre-image payload
        refs, mask, (pre,) = group(body[g1size:], 1, b"\x0f")
        assert refs == [4]
        if not mask & 1:
            assert json.loads(pre)["user_id"] == int(conv)


def test_library_filters_null_keep(spark):
    """The standalone filter library shares the engine's NULL-keep
    semantics (drop_matching): a drop-predicate evaluating to NULL keeps
    the row, for every library form — not just the engine_event_filters
    composition."""
    from tiflow_spark.operators.filters import (
        expr_filter,
        expr_filter_per_op,
        ignore_start_ts_filter,
        op_class_filter,
    )

    df = spark.createDataFrame(
        [(1, "U", 5, "spam"), (2, "U", 6, "ok"), (3, "D", 7, None),
         (4, "U", None, "ok2")],
        "seq long, op string, start_ts long, payload string",
    )
    # NULL payload (the delete) is kept under a payload predicate
    kept = expr_filter(df, "payload LIKE '%spam%'")
    assert sorted(r.seq for r in kept.collect()) == [2, 3, 4]
    # NULL start_ts never matches an ignore list
    kept = ignore_start_ts_filter(df, [5])
    assert sorted(r.seq for r in kept.collect()) == [2, 3, 4]
    # op is non-null by contract but the same rule holds
    kept = op_class_filter(
        df.withColumn("op", F.expr("CASE WHEN seq = 4 THEN NULL ELSE op END")),
        ["D"],
    )
    assert sorted(r.seq for r in kept.collect()) == [1, 2, 4]
    # per-op: a NULL-evaluating per-op predicate keeps the row
    kept = expr_filter_per_op(df, delete="payload LIKE '%x%'")
    assert sorted(r.seq for r in kept.collect()) == [1, 2, 3, 4]
