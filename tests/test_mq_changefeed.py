"""Changefeed → MQ topic flow (the reference's kafka changefeed,
cdc/sink/mq.go): full ordered event stream published with envelopes, DDL
broadcast to every partition, checkpoint broadcast per epoch, topic-manifest
fence for resume — plus the CLI [sink] type='mq' wiring."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    from tiflow_spark.generator import generate_changefeed

    d = tmp_path_factory.mktemp("mqcf_feed")
    return generate_changefeed(
        str(d), n_convs=30, turns_per_conv=4, n_changes=1500, seed=5,
        resolved_every=300,
        ddl_plan=[(0.5, {"action": "add_column", "name": "note",
                         "type": "string", "default": ""})],
    )


def _dml_rows(log_path):
    rows = pq.read_table(log_path).to_pylist()
    return [r for r in rows if r["op"] in ("I", "U", "D")]


def test_mq_changefeed_lossless_ordered_with_ddl_broadcast(feed, tmp_path, spark):
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed

    sink = FileMQSink(str(tmp_path / "topic"), n_partitions=4)
    cf = MQChangefeed(feed.log_path, sink)
    epochs = cf.run(spark).epochs
    assert len(epochs) == 1 and epochs[0].committed

    dml = _dml_rows(feed.log_path)
    topic = cf.sink.read_topic(spark)
    rows = topic.filter(F.col("kind") == "row").collect()
    assert len(rows) == len(dml)  # lossless: every DML event delivered

    # every delivered envelope matches a source event exactly (ts+key+payload)
    want = {(r["commit_ts"], r["conv_id"], r["turn_idx"], r["payload"])
            for r in dml}
    got = set()
    for r in rows:
        v = json.loads(r["value"])
        # to_json omits null fields — deletes carry no payload
        got.add((v["ts"], v["conv_id"], v["turn_idx"], v.get("payload")))
    assert got == want

    # per-partition offset order == canonical event order (consumer view)
    part = topic.withColumn(
        "partition",
        F.regexp_extract(F.input_file_name(), r"partition=(\d+)", 1).cast("int"),
    )
    for p in range(4):
        seq = [json.loads(r["value"])["ts"]
               for r in part.filter((F.col("kind") == "row") & (F.col("partition") == p))
               .orderBy("offset").collect()]
        assert seq == sorted(seq)

    # DDL broadcast: one 'ddl' message per partition per DDL
    ddls = part.filter(F.col("kind") == "ddl").collect()
    n_ddl_src = sum(1 for r in pq.read_table(feed.log_path).to_pylist()
                    if r["op"] == "DDL")
    assert len(ddls) == 4 * n_ddl_src
    assert {json.loads(r["value"])["ddl"]["action"] for r in ddls} == {"add_column"}

    # checkpoint broadcast carries the final barrier on every partition
    cks = part.filter(F.col("kind") == "checkpoint").collect()
    assert len(cks) == 4
    assert {json.loads(r["value"])["resolved_ts"] for r in cks} == {
        epochs[0].barrier_ts
    }

    # offsets are dense: manifest tail == max offset + 1 per partition
    state = sink.topic_state()
    for p in range(4):
        tail = max(r["offset"] for r in part.filter(F.col("partition") == p).collect())
        assert state["offsets"][str(p)] == tail + 1

    # resume: everything published => no new epochs
    assert cf.run(spark).epochs == []


@pytest.mark.parametrize("protocol", ["open-json", "maxwell", "canal-json", "avro", "canal-pb", "craft"])
def test_topic_relay_replays_to_same_table(feed, tmp_path, spark, protocol):
    """The full relay chain per envelope codec: log → MQ topic →
    consumer-reconstructed log → engine replay must land the exact table
    the direct replay lands (the TiCDC → Kafka → canal-consumer → table
    pairing, end to end). maxwell carries no seq on the wire — the decoder
    synthesizes per-key order from the partition offsets; canal-json
    carries it as ``id``; both must still byte-match."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed, topic_to_log
    from tests.helpers import assert_tables_equal

    sink = FileMQSink(str(tmp_path / f"relay_topic_{protocol}"), n_partitions=4)
    src_epochs = MQChangefeed(feed.log_path, sink, protocol=protocol).run(
        spark, barrier_stride=1
    ).epochs
    assert len(src_epochs) > 1  # multi-epoch publish

    log2 = topic_to_log(spark, sink, str(tmp_path / f"relay_log_{protocol}"))
    # the relay mirrors its (driver-side) control rows into a sidecar with a
    # coverage watermark, so replaying a relayed log takes the fast
    # control-plane path just like a generated one
    assert os.path.exists(os.path.join(log2, "_control", "_COVERAGE"))
    eng = ChangefeedEngine(
        log2, LakeTable(str(tmp_path / f"relay_t_{protocol}"), num_buckets=8)
    )
    eng.bootstrap(spark, feed.base_path)
    # epoch granularity survives the relay: one R mark per source epoch
    stats = eng.run(spark, barrier_stride=1)
    assert len(stats.epochs) == len(src_epochs)
    assert sum(e.ddl_events for e in stats.epochs) >= 1  # DDL relayed

    got = eng.final_state(spark).toPandas()
    want = sequential_apply(feed.base_path, feed.log_path)
    assert_tables_equal(got, want)


@pytest.mark.parametrize("protocol,op_names", [
    ("maxwell", {"insert", "update", "delete"}),
    ("canal-json", {"INSERT", "UPDATE", "DELETE"}),
])
def test_mq_protocol_envelopes(feed, tmp_path, spark, protocol, op_names):
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed

    sink = FileMQSink(str(tmp_path / f"topic_{protocol}"), n_partitions=2)
    cf = MQChangefeed(feed.log_path, sink, protocol=protocol)
    epochs = cf.run(spark).epochs
    assert epochs and epochs[0].committed
    rows = cf.sink.read_topic(spark).filter(F.col("kind") == "row").collect()
    assert len(rows) == len(_dml_rows(feed.log_path))
    types = {json.loads(r["value"])["type"] for r in rows}
    assert types <= op_names and "insert".upper() in {t.upper() for t in types}
    one = json.loads(rows[0]["value"])
    assert one["table"] == "transcripts"
    data = one["data"][0] if protocol == "canal-json" else one["data"]
    assert "conv_id" in data and "turn_idx" in data

    with pytest.raises(ValueError, match="unknown MQ protocol"):
        MQChangefeed(feed.log_path, sink, protocol="debezium")


def test_cli_mq_sink(feed, tmp_path):
    cfg_path = str(tmp_path / "mq.toml")
    topic = str(tmp_path / "cli_topic")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{feed.log_path}"
target = "{topic}"

[sink]
type = "mq"
partitions = 2
""")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "run",
         "--config", cfg_path, "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert res["result"]["epochs"] == 1
    assert res["result"]["barrier_ts"] == feed.max_commit_ts

    q = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "query", "--config", cfg_path],
        capture_output=True, text=True, timeout=120, env=env, cwd=str(tmp_path),
    )
    assert q.returncode == 0, q.stderr[-2000:]
    state = json.loads(q.stdout)
    assert state["barrier_ts"] == feed.max_commit_ts
    assert sum(state["offsets"].values()) > 0

    # stream verb on a FRESH topic drains the feed through the Structured
    # Streaming front-end; on the already-published topic it's a no-op
    cfg2 = str(tmp_path / "mq_stream.toml")
    with open(cfg2, "w") as fh:
        fh.write(f"""
log = "{feed.log_path}"
target = "{tmp_path / 'cli_stream_topic'}"

[sink]
type = "mq"
partitions = 2
""")
    st = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "stream",
         "--config", cfg2, "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert st.returncode == 0, st.stderr[-2000:]
    res = json.loads([l for l in st.stdout.splitlines() if l.startswith("{")][-1])
    assert res["result"]["epochs"] >= 1
    assert res["result"]["barrier_ts"] == feed.max_commit_ts


def test_topic_to_log_refuses_undecodable_topic(feed, tmp_path, spark):
    """A topic published with a CUSTOM envelope records no protocol; the
    default open-json decode yields NULL-op rows — the relay must refuse
    rather than reconstruct a silently-empty change stream."""
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed, topic_to_log

    sink = FileMQSink(str(tmp_path / "cx_topic"), n_partitions=2)
    custom = F.concat(F.lit("k|"), F.col("conv_id"), F.lit("|"),
                      F.col("commit_ts").cast("string"))
    MQChangefeed(feed.log_path, sink, envelope=custom).run(spark)
    with pytest.raises(ValueError, match="did not decode"):
        topic_to_log(spark, sink, str(tmp_path / "cx_log"))


def test_cli_mq_rejects_unsupported_options(feed, tmp_path):
    cfg_path = str(tmp_path / "mq_bad.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{feed.log_path}"
target = "{tmp_path / 'topic_bad'}"
target-ts = 5000

[sink]
type = "mq"
""")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "query", "--config", cfg_path],
        capture_output=True, text=True, timeout=120, env=env, cwd=str(tmp_path),
    )
    assert out.returncode != 0
    assert "target-ts" in (out.stderr + out.stdout)


def test_cli_rejects_cluster_master(feed, tmp_path):
    cfg_path = str(tmp_path / "m.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f'log = "{feed.log_path}"\ntarget = "{tmp_path / "t"}"\n'
                 f'base = "{feed.base_path}"\n')
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "run",
         "--config", cfg_path, "--master", "yarn"],
        capture_output=True, text=True, timeout=120, env=env, cwd=str(tmp_path),
    )
    assert out.returncode != 0
    assert "unsupported --master" in (out.stderr + out.stdout)


def test_mq_publish_validation_floor_and_restart_detection(tmp_path, spark, monkeypatch):
    """The topic manifest persists the barrier's resolved promise seq
    (checkpoint_seq): the next publish run validates with it as seq_floor —
    pruning the scan below what earlier runs already validated instead of
    re-reading the whole DML log per run — and a corrupt tail below the
    published barrier is detected across the restart even though its R row
    is below the control read's cut (engine checkpoint_seq twin)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import tiflow_spark.engine as engine_mod
    from tiflow_spark.engine import ResolvedTsRegression
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed
    from tests.helpers import EVENT_COLS, ev, pl, write_feed

    events = [
        ev(0, "U", 120, "c1", 0, pl("a")),
        ev(1, "R", 150),
        ev(2, "I", 160, "c2", 0, pl("b")),
        ev(3, "R", 180),
    ]
    _, log_dir = write_feed(tmp_path, events, [], final_resolved=False,
                            control_sidecar=False)
    sink = FileMQSink(str(tmp_path / "topic"), n_partitions=2)
    cf = MQChangefeed(log_dir, sink)
    epochs = cf.run(spark).epochs
    assert [e.barrier_ts for e in epochs] == [180]
    state = sink.topic_state()
    assert state["checkpoint_seq"] == 3  # the R@180 promise seq

    # second run validates with the committed promise as the floor
    seen = {}
    real = engine_mod.validate_resolved_contract

    def spy(spark_, log, marks, seq_floor=-1):
        seen["floor"] = seq_floor
        seen["marks"] = sorted(marks)
        return real(spark_, log, marks, seq_floor=seq_floor)

    monkeypatch.setattr(engine_mod, "validate_resolved_contract", spy)
    assert cf.run(spark).epochs == []  # nothing new to publish
    assert seen["floor"] == 3
    assert (3, 180) in seen["marks"]  # committed promise re-enters the marks

    # corrupt tail below the published barrier → refused on the next run
    late = [ev(4, "U", 170, "c1", 0, pl("below the promise")),
            ev(5, "R", 200)]
    pq.write_table(
        pa.Table.from_pylist(late, schema=pa.schema(EVENT_COLS)),
        os.path.join(log_dir, "changefeed-00001.parquet"),
    )
    with pytest.raises(ResolvedTsRegression):
        MQChangefeed(log_dir, sink).run(spark)


def test_avro_wire_roundtrip_bytes(feed, spark):
    """Every field of every DML event survives the versioned Avro wire
    (JVM-expression encode → relay decode), including the null branches of
    the optional fields, under a registry with an integral (``n``, spliced
    into each row image as -seq), a string (``text``) and a timestamp
    (``ts``) field; and the wire header is real Confluent framing."""
    from tiflow_spark.model import CHANGE_EVENT_SCHEMA
    from tiflow_spark.sinks.mq import _decode_avro
    from tests.helpers import avro_roundtrip

    def with_n(c):
        return F.when(F.col(c).isNotNull(), F.concat(
            F.expr(f"substring({c}, 1, length({c}) - 1)"),
            F.lit(',"n":'), (-F.col("seq")).cast("string"), F.lit("}")))

    log = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(feed.log_path)
    dml = log.filter(F.col("op").isin("I", "U", "D")).withColumn(
        "payload", with_n("payload")).withColumn(
        "pre_payload", with_n("pre_payload"))
    fields = [(1, "n", "bigint", None), (2, "text", "string", None),
              (3, "ts", "timestamp", None)]

    def image(text):
        row = json.loads(text or "null")
        return row and {name: row.get(name) for _, name, _, _ in fields}

    pairs = avro_roundtrip(dml, fields)
    assert pairs
    saw_pre = False
    for r, got in pairs:
        assert r["envelope"].startswith("00" + f"{1:08x}")  # magic, schema id
        assert (got.seq, got.op, got.commit_ts, got.start_ts) == (
            r["seq"], r["op"], r["commit_ts"], r["start_ts"])
        assert got.schema_version == 1  # the id's one registry version
        assert (got.conv_id, got.turn_idx, got.tbl) == (
            r["conv_id"], r["turn_idx"], r["tbl"])
        assert image(got.payload) == image(r["payload"])
        assert image(got.pre_payload) == image(r["pre_payload"])
        saw_pre = saw_pre or got.pre_payload is not None
    assert saw_pre  # updates carry a pre-image on this feed

    bad = spark.createDataFrame([("01" + "00000001" + "00",)], "value string")
    with pytest.raises(Exception, match="bad magic"):
        _decode_avro(bad, {}).collect()


def test_avro_schema_registry_versioning(tmp_path, spark):
    """Schema-registry-versioned avro (cdc/sink/codec/schema_registry.go:
    119-131, 274-299 + avro.go): a mid-stream ADD COLUMN registers a NEW
    writer schema in the topic manifest; pre-DDL messages carry the old
    schema id on the Confluent header and post-DDL messages the new one;
    the relay decodes each message under ITS OWN writer schema (the new
    field only exists post-DDL); and replaying the relayed log byte-matches
    the sequential oracle."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tiflow_spark.sinks.mq import (
        FileMQSink, MQChangefeed, _decode_avro, topic_to_log,
    )
    from tests.helpers import assert_tables_equal, ev, pl, write_feed

    ddl = {"action": "add_column", "name": "note", "type": "string",
           "default": ""}
    events = [
        ev(0, "I", 100, "c1", 0, pl("pre-ddl")),
        ev(1, "R", 150),
        ev(2, "DDL", 200, ddl=ddl),
        ev(3, "I", 250, "c2", 0, pl("post-ddl", note="hello"), ver=2),
        ev(4, "U", 260, "c1", 0, pl("pre2")),  # NULL ver → as-of resolves v2
        ev(5, "R", 300),
    ]
    events[4]["schema_version"] = None
    base_fp, log_dir = write_feed(tmp_path, events, [], final_resolved=False)
    sink = FileMQSink(str(tmp_path / "topic"), n_partitions=2)
    epochs = MQChangefeed(log_dir, sink, protocol="avro").run(
        spark, barrier_stride=1
    ).epochs
    assert [e.barrier_ts for e in epochs] == [150, 300]

    # the manifest IS the registry: both versions registered, distinct ids,
    # and version 2's writer schema carries the added column
    state = sink.topic_state()
    assert state["avro_ids"] == {"1": 1, "2": 2}
    assert set(state["avro_schemas"]) == {"1", "2"}
    row_v2 = next(
        f for f in json.loads(state["avro_schemas"]["2"])["fields"]
        if f["name"] == "payload"
    )["type"][1]
    assert [f["name"] for f in row_v2["fields"]] == [
        "role", "text", "tool", "ts", "note"]
    reg = json.loads(state["registry_json"])
    assert [v["version"] for v in reg] == [1, 2]

    # wire headers: pre-DDL message under id 1, post-DDL under id 2
    rows = sink.read_topic(spark).filter(F.col("kind") == "row").collect()
    ids = {bytes.fromhex(r["value"])[1:5].hex(): r["value"] for r in rows}
    by_id = {int(k, 16): v for k, v in ids.items()}
    assert set(by_id) == {1, 2}

    # each message decodes under its own writer schema: the note field only
    # exists in post-DDL payloads
    decoded = {
        r["commit_ts"]: r
        for r in _decode_avro(
            sink.read_topic(spark).filter(F.col("kind") == "row"), state
        ).collect()
    }
    assert "note" not in json.loads(decoded[100]["payload"])
    assert json.loads(decoded[250]["payload"])["note"] == "hello"
    assert decoded[100]["schema_version"] == 1
    assert decoded[250]["schema_version"] == 2
    assert decoded[260]["schema_version"] == 2  # id → version recovered

    # relay → replay byte-matches the sequential oracle across the DDL
    log2 = topic_to_log(spark, sink, str(tmp_path / "relay_log"))
    eng = ChangefeedEngine(log2, LakeTable(str(tmp_path / "t"), num_buckets=4))
    eng.bootstrap(spark, base_fp)
    eng.run(spark)
    assert_tables_equal(
        eng.final_state(spark).toPandas(), sequential_apply(base_fp, log_dir)
    )

    # resume restores the registry from the manifest: nothing new → no-op,
    # registry state untouched
    assert MQChangefeed(log_dir, sink, protocol="avro").run(spark).epochs == []
    assert sink.topic_state()["avro_ids"] == {"1": 1, "2": 2}


def test_avro_registry_dedupes_identical_schemas():
    """Field-identical registry versions (truncate/partition bumps) register
    the SAME schema id — Confluent semantics: registering an identical
    canonical schema returns the existing id."""
    from tiflow_spark.registry import SchemaRegistry
    from tiflow_spark.sinks.mq import register_avro_schemas

    reg = SchemaRegistry.initial()
    reg.apply_ddl({"action": "truncate_table"}, 500)  # fields unchanged
    reg.apply_ddl({"action": "add_column", "name": "x", "type": "int"}, 900)
    ids: dict = {}
    schemas: dict = {}
    register_avro_schemas(reg, ids, schemas)
    assert ids == {"1": 1, "2": 1, "3": 2}
    assert set(schemas) == {"1", "2"}
    # integral columns are typed long on the wire, annotated with sparkType
    x = next(f for f in json.loads(schemas["2"])["fields"]
             if f["name"] == "payload")["type"][1]["fields"][-1]
    assert x == {"name": "x", "type": ["null", "long"], "sparkType": "int"}


def test_avro_relay_refuses_unregistered_schema_id(tmp_path, spark):
    """A row message whose schema id the topic manifest does not register —
    the shape a pre-registry topic's messages have — is refused, not
    decoded under some other writer schema: ``topic_to_log`` raises a
    ValueError naming the id and leaves no half-built log. The message is
    a real id-1 message re-headed as id 7, so any fallback to a registered
    schema would decode it cleanly."""
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed, topic_to_log
    from tests.helpers import ev, pl, write_feed

    _, log_dir = write_feed(
        tmp_path, [ev(0, "I", 100, "c1", 0, pl("a")), ev(1, "R", 150)], [],
        final_resolved=False)
    sink = FileMQSink(str(tmp_path / "topic"), n_partitions=1)
    MQChangefeed(log_dir, sink, protocol="avro").run(spark)
    assert sink.topic_state()["avro_ids"] == {"1": 1}
    msg = sink.read_topic(spark).filter(F.col("kind") == "row").first()
    seg = tmp_path / "topic" / "epoch=000001" / "partition=0"
    (seg / "part-unregistered.json").write_text(json.dumps({
        "offset": 99, "kind": "row",
        "value": msg["value"][:2] + f"{7:08x}" + msg["value"][10:],
    }) + "\n")

    out = tmp_path / "relay_log"
    with pytest.raises(ValueError, match="avro schema id 7 "):
        topic_to_log(spark, sink, str(out))
    assert not out.exists()


def test_canal_pb_wire_roundtrip_bytes(feed, spark):
    """Canal protobuf wire: JVM staged encode → Python TLV decode recovers
    header fields, before/after column images, and null-column omission;
    a real protobuf reader sees valid tag/varint/length-delimited framing.
    Row-image routing follows the reference canal wire: a DELETE's image
    rides in beforeColumns with afterColumns EMPTY (canal.go buildRowData)
    — a canal consumer reading deletes from beforeColumns sees them."""
    from tiflow_spark.model import CHANGE_EVENT_SCHEMA
    from tiflow_spark.sinks.mq import (
        _canal_pb_parse_row, _pb_read_fields, _pb_read_uvarint,
        canal_pb_envelope,
    )

    log = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(feed.log_path)
    dml = log.filter(F.col("op").isin("I", "U", "D")).limit(200)
    rows = canal_pb_envelope()(dml).collect()
    assert rows
    saw_pre, saw_delete = False, False
    for r in rows:
        (seq, op, commit_ts, start_ts, schema_version, conv_id, turn_idx,
         payload, pre_payload, ddl, hint, tbl) = _canal_pb_parse_row(r["envelope"])
        assert seq is None and start_ts is None  # not on the canal wire
        assert (op, commit_ts) == (r["op"], r["commit_ts"])
        assert (conv_id, turn_idx) == (r["conv_id"], r["turn_idx"])
        assert payload == r["payload"]
        assert pre_payload == r["pre_payload"]
        assert tbl == (r["tbl"] or "transcripts")
        saw_pre = saw_pre or pre_payload is not None
        if r["op"] == "D":
            # structural pin: RowData carries before (f1) only, never after
            buf = bytes.fromhex(r["envelope"])
            n, pos = _pb_read_uvarint(buf, 0)
            entry = dict(_pb_read_fields(buf[pos:pos + n]))
            groups = [fno for fno, _ in _pb_read_fields(entry.get(3, b""))]
            assert groups and set(groups) == {1}
            saw_delete = True
    assert saw_pre and saw_delete


def test_streaming_mq_publish_drains_and_relays(feed, tmp_path, spark):
    """The Structured-Streaming front-end drives the MQ publish exactly like
    the lake sink (same StreamingChangefeed, same validation path): draining
    the log publishes every barrier, a relay of the streamed topic replays
    to the oracle table, and a second drain is a no-op."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed, topic_to_log
    from tiflow_spark.streaming.changefeed_stream import StreamingChangefeed
    from tests.helpers import assert_tables_equal

    sink = FileMQSink(str(tmp_path / "stream_topic"), n_partitions=4)
    cf = MQChangefeed(feed.log_path, sink)
    sc = StreamingChangefeed(cf, str(tmp_path / "stream_ckpt"))
    epochs = sc.run_available(spark)
    # dml_events counts exactly the row messages published
    assert epochs and sum(e.dml_events for e in epochs) == len(
        _dml_rows(feed.log_path)
    )
    rows = sink.read_topic(spark).filter(F.col("kind") == "row")
    assert rows.count() == len(_dml_rows(feed.log_path))  # lossless
    assert sink.topic_state()["barrier_ts"] == feed.max_commit_ts

    # relay the STREAMED topic and replay: byte-match the sequential oracle
    log2 = topic_to_log(spark, sink, str(tmp_path / "stream_relay_log"))
    eng = ChangefeedEngine(
        log2, LakeTable(str(tmp_path / "stream_relay_t"), num_buckets=8)
    )
    eng.bootstrap(spark, feed.base_path)
    eng.run(spark)
    assert_tables_equal(
        eng.final_state(spark).toPandas(),
        sequential_apply(feed.base_path, feed.log_path),
    )

    # everything published — a fresh drain discovers nothing new
    sc2 = StreamingChangefeed(cf, str(tmp_path / "stream_ckpt2"))
    assert sum(e.dml_events for e in sc2.run_available(spark)) == 0


def test_binary_wire_roundtrip_edge_strings(spark):
    """Unicode, empty strings, embedded quotes/newlines, and multi-byte
    UTF-8 survive both binary wires byte-exactly — string lengths are OCTET
    lengths on the wire (a char-length encode would corrupt multi-byte
    payloads)."""
    from tiflow_spark.sinks.mq import _canal_pb_parse_row, canal_pb_envelope
    from tests.helpers import avro_roundtrip

    payloads = ['{"text": "héllo wörld 你好 🚀"}', "", '{"q": "\\"quoted\\""}',
                '{"nl": "a\\nb"}', "日本語テキスト"]
    rows = [
        (i, "U", 100 + i, 90, 1, f"conv-é{i}", i, p, None, None, None, None)
        for i, p in enumerate(payloads)
    ]
    df = spark.createDataFrame(
        rows,
        "seq long, op string, commit_ts long, start_ts long, "
        "schema_version int, conv_id string, turn_idx int, payload string, "
        "pre_payload string, ddl string, partition_hint int, tbl string",
    )
    # on the versioned Avro wire the same strings ride in a string field
    rows_s = df.withColumn(
        "payload", F.to_json(F.struct(F.col("payload").alias("s"))))
    for r, got in avro_roundtrip(rows_s):
        assert got.conv_id == r["conv_id"]
        assert json.loads(got.payload)["s"] == payloads[r["seq"]]
    for r in canal_pb_envelope()(df).collect():
        parsed = _canal_pb_parse_row(r["envelope"])
        assert parsed[5] == r["conv_id"] and parsed[7] == r["payload"]


def test_craft_mq_wire_roundtrip_bytes(feed, spark):
    """Craft MQ envelope: staged JVM encode → tail-first Python decode
    recovers header, both column groups, the term dictionary routing, and
    null masks (delete payloads, absent pre-images)."""
    from tiflow_spark.model import CHANGE_EVENT_SCHEMA
    from tiflow_spark.sinks.mq import _craft_parse_row, craft_envelope

    log = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(feed.log_path)
    dml = log.filter(F.col("op").isin("I", "U", "D")).limit(200)
    rows = craft_envelope()(dml).collect()
    assert rows
    saw_pre, saw_delete = False, False
    for r in rows:
        (seq, op, commit_ts, start_ts, schema_version, conv_id, turn_idx,
         payload, pre_payload, ddl, hint, tbl) = _craft_parse_row(r["envelope"])
        assert seq is None and start_ts is None  # not on the craft wire
        assert (op, commit_ts) == (r["op"], r["commit_ts"])
        assert (conv_id, turn_idx) == (r["conv_id"], r["turn_idx"])
        assert payload == r["payload"]
        assert pre_payload == r["pre_payload"]
        assert tbl == (r["tbl"] or "transcripts")
        saw_pre = saw_pre or pre_payload is not None
        saw_delete = saw_delete or (op == "D" and payload is None)
    assert saw_pre and saw_delete


def test_streaming_versioned_avro_publish_and_relay(feed, tmp_path, spark):
    """The streaming front-end drives the VERSIONED avro wire: the ticks
    before the mid-stream ADD COLUMN publish under schema id 1, the ticks
    after it register and use id 2 (the topic manifest is the registry),
    the relay decodes each era under its own writer schema, and the relayed
    replay byte-matches the sequential oracle — identical to the batch
    publish of the same feed."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tiflow_spark.sinks.mq import FileMQSink, MQChangefeed, topic_to_log
    from tiflow_spark.streaming.changefeed_stream import StreamingChangefeed
    from tests.helpers import assert_tables_equal

    sink = FileMQSink(str(tmp_path / "sv_topic"), n_partitions=4)
    cf = MQChangefeed(feed.log_path, sink, protocol="avro")
    epochs = StreamingChangefeed(
        cf, str(tmp_path / "sv_ckpt")
    ).run_available(spark)
    assert epochs and sink.topic_state()["barrier_ts"] == feed.max_commit_ts

    state = sink.topic_state()
    assert state["avro_ids"] == {"1": 1, "2": 2}  # registry grew mid-stream
    ids = {
        int.from_bytes(bytes.fromhex(r["value"])[1:5], "big")
        for r in sink.read_topic(spark)
        .filter(F.col("kind") == "row").collect()
    }
    assert ids == {1, 2}  # both writer schemas actually on the wire

    log2 = topic_to_log(spark, sink, str(tmp_path / "sv_relay"))
    eng = ChangefeedEngine(
        log2, LakeTable(str(tmp_path / "sv_t"), num_buckets=4)
    )
    eng.bootstrap(spark, feed.base_path)
    eng.run(spark)
    assert_tables_equal(
        eng.final_state(spark).toPandas(),
        sequential_apply(feed.base_path, feed.log_path),
    )
