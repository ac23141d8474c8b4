"""MQ sink (K4): Kafka-semantics changefeed egress against a file topic.

The reference's MQ sink (cdc/sink/mq.go:55-220 + mq_flush_worker.go) routes
each event to a (topic, partition) via a dispatcher, encodes it with a
pluggable codec, flushes on resolved-ts, and broadcasts the checkpoint to
EVERY partition so consumers on any partition learn the global watermark.
This module reproduces those semantics with a directory standing in for the
topic (the sandbox has no Kafka broker; a real deployment swaps the
``write`` call for ``df.write.format("kafka")`` — the dispatch, ordering,
codec, and checkpoint logic are identical):

- partition  = index-value dispatcher: portable md5 hash of the key columns
  mod partition count (cdc/sink/dispatcher/partition/index_value.go:36-56);
- offset     = dense per-partition sequence in canonical event order,
  continued across epochs (per-partition tail offsets live in the topic
  manifest — the Kafka log-end-offset analogue);
- flush unit = one epoch (resolved-ts barrier), appended as one segment
  directory per epoch: ``<topic>/epoch=<N>/partition=<P>/*.json``;
- checkpoint = after the data rows, one control message per partition
  carrying the barrier ts (cdc/sink/mq.go:136-166 flushes row batches then
  broadcasts the checkpoint event to all partitions);
- exactly-once: the epoch segment is fenced by the topic manifest exactly
  like the lake table's commit — re-writing an applied epoch is a no-op.

Scale shape: ONE shuffle on the partition id (what any Kafka producer
round-trip needs anyway), a per-partition window for offsets (partition
count is the parallelism unit — the window partitions by it, so no global
sort), and a partitioned write.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tiflow_spark.engine import EpochDriver, EpochStats
from tiflow_spark.functions.hashing import md5_bucket
from tiflow_spark.model import DML_OPS, event_order_cols
from tiflow_spark.operators.filters import engine_event_filters
from tiflow_spark.operators.watermark import watermark_cut
from tiflow_spark.registry import SchemaRegistry


# topic-manifest keys that persist across epochs even when a later epoch's
# write doesn't re-supply them (the avro schema-registry store)
_PERSISTED_EXTRAS = ("registry_json", "avro_ids", "avro_schemas")


def mq_dispatch(df: DataFrame, key_cols, n_partitions: int) -> DataFrame:
    """Index-value partition dispatch: same key → same partition, portable
    md5 hash (the DuckDB oracle recomputes it bit-exactly)."""
    key_cols = list(key_cols)
    key = F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in key_cols])
    return df.withColumn("partition", md5_bucket(key, n_partitions))


class FileMQSink:
    def __init__(self, path: str, key_cols=("conv_id", "turn_idx"),
                 n_partitions: int = 4):
        self.path = path
        self.key_cols = list(key_cols)
        self.n_partitions = n_partitions
        self._manifest = os.path.join(path, "_TOPIC")

    # ---------------------------------------------------------- manifest
    def topic_state(self) -> dict:
        if not os.path.exists(self._manifest):
            return {"epoch": 0, "offsets": {str(p): 0 for p in range(self.n_partitions)}}
        with open(self._manifest) as f:
            return json.load(f)

    def _commit_state(self, state: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._manifest + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(state, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._manifest)

    # ------------------------------------------------------------- write
    def write_epoch(
        self,
        events: DataFrame,
        epoch: int,
        barrier_ts: int,
        envelope_col: str = "envelope",
        ddl_rows: list | None = None,
        protocol: str | None = None,
        barrier_seq: int | None = None,
        extra_state: dict | None = None,
    ) -> bool:
        """Append one epoch's events (already cut to the barrier) as an
        offset-ordered segment + per-partition checkpoint messages.
        ``events`` must carry the key columns and an ``envelope_col`` with
        the codec output (any cdc_encode_* shape). ``ddl_rows``:
        ``(commit_ts, ddl_json)`` pairs to broadcast to EVERY partition as
        ``kind='ddl'`` messages (cdc/sink/mq.go EmitDDLEvent), emitted in
        commit-ts order after the epoch's data rows — consumers order DDL
        against rows by the carried ts, offsets order everything else.
        Returns False when the epoch was already published (fence)."""
        state = self.topic_state()
        if state["epoch"] >= epoch:
            return False
        spark = events.sparkSession
        dispatched = mq_dispatch(events, self.key_cols, self.n_partitions)
        w = Window.partitionBy("partition").orderBy(*event_order_cols())
        base = F.create_map(
            *[
                x
                for p, off in state["offsets"].items()
                for x in (F.lit(int(p)), F.lit(off))
            ]
        )
        msgs = dispatched.select(
            "partition",
            (F.row_number().over(w) - 1 + base[F.col("partition")]).alias("offset"),
            F.lit("row").alias("kind"),
            F.col(envelope_col).alias("value"),
        )
        out = os.path.join(self.path, f"epoch={epoch:06d}")
        msgs.repartition("partition").write.partitionBy("partition").mode(
            "overwrite"  # replay of a crashed attempt overwrites its orphan
        ).json(out)

        # per-partition tail offsets from this epoch's counts (tiny collect)
        counts = {
            str(r["partition"]): r["n"]
            for r in msgs.groupBy("partition").agg(F.count("*").alias("n")).collect()
        }
        offsets = {
            p: state["offsets"][p] + counts.get(p, 0) for p in state["offsets"]
        }
        # control broadcast, ONE write job for all of it: every partition
        # gets every DDL (mq.go EmitDDLEvent) in commit-ts order after the
        # data rows, then the checkpoint message carrying the global
        # barrier — all offsets are precomputable driver-side, so a
        # per-DDL write loop would just pay one Spark job per DDL
        ctl_rows = []
        for cts, ddl in sorted(ddl_rows or []):
            ctl_rows.append(
                ("ddl", json.dumps({"commit_ts": cts, "ddl": json.loads(ddl)}))
            )
        ctl_rows.append(("checkpoint", json.dumps({"resolved_ts": barrier_ts})))
        bcast = [
            (int(p), offsets[p] + i, kind, value)
            for p in offsets
            for i, (kind, value) in enumerate(ctl_rows)
        ]
        spark.createDataFrame(
            bcast, "partition int, offset long, kind string, value string"
        ).repartition(1).write.partitionBy("partition").mode("append").json(out)
        offsets = {p: offsets[p] + len(ctl_rows) for p in offsets}

        state_out = {"epoch": epoch, "offsets": offsets, "barrier_ts": barrier_ts}
        # record the codec so consumers (topic_to_log) can refuse topics
        # they cannot decode instead of silently producing NULL events
        state_out["protocol"] = protocol or state.get("protocol")
        # schema-registry state (avro) and any other durable sidecar keys
        # survive epochs that don't update them
        for k in _PERSISTED_EXTRAS:
            if k in state:
                state_out[k] = state[k]
        if extra_state:
            state_out.update(extra_state)
        # seq of the resolved-ts promise backing this barrier: the next
        # publish run validates the contract with this as seq_floor, so the
        # scan prunes everything an earlier run already validated instead of
        # re-reading the whole DML log per run (engine checkpoint_seq twin);
        # no seq supplied = no promise recorded (never inherit a stale one)
        state_out["checkpoint_seq"] = barrier_seq if barrier_seq is not None else -1
        self._commit_state(state_out)
        return True

    # -------------------------------------------------------------- read
    def read_topic(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(
            "offset long, kind string, value string"
        ).option("basePath", self.path).json(os.path.join(self.path, "epoch=*"))


# ---------------------------------------------------------------- codecs
# Every wire's bytes are built here, once: the MQ changefeed publishes these
# envelopes and the catalog's cdc_encode_* queries apply the same functions
# (the DuckDB oracles byte-check them). The binary wires are lowercase hex
# strings on the JSON-lines file topic; a Kafka sink publishes
# ``unhex(value)``.


def _hex_byte(b):
    return F.lower(F.lpad(F.hex(b), 2, "0"))


def _septet_hex(v, i: int):
    """Byte ``i`` of the base-128 varint of ``v`` as hex, or '' once ``v``
    has no septet ``i`` (the continuation bit set on every byte but the
    last)."""
    sept = F.shiftright(v, 7 * i).bitwiseAND(F.lit(0x7F))
    more = F.shiftright(v, 7 * (i + 1)) > 0
    byte = sept + F.when(more, F.lit(0x80)).otherwise(F.lit(0))
    present = F.lit(i == 0) | (v >= F.lit(1 << (7 * i)))
    return F.when(present, _hex_byte(byte)).otherwise(F.lit(""))


def _varint_hex(v, septets: int = 9):
    """Avro/protobuf base-128 varint of a nonnegative long, as a lowercase
    hex string — unrolled to ``septets`` septets (9 = 63 bits, the full
    nonnegative int64 domain; real TiDB TSOs are ~2^59, so a narrower
    unroll silently corrupts the wire), pure codegen arithmetic. Bounded
    values (byte lengths, dict refs) pass septets=5 to keep plans lean."""
    return F.concat(*[_septet_hex(v, i) for i in range(septets)])


def _zigzag_hex(v, septets: int = 9):
    """Craft/protobuf/Avro zigzag varint of a possibly-negative long, as hex
    (domain |v| < 2^62 — the zigzag doubling must fit a signed long)."""
    return _varint_hex(F.when(v >= 0, v * 2).otherwise(-v * 2 - 1), septets)


def _uvarint_rev_hex(v, septets: int = 9):
    """Craft's reversed uvarint (craft/encoder.go:59-75): the same varint
    bytes emitted highest-septet first, so a reader can parse it BACKWARD
    from the end of the message to locate the size tables."""
    return F.concat(*[_septet_hex(v, i) for i in reversed(range(septets))])


def _hexlen(h):
    """Byte length of a hex-string column."""
    return (F.length(h) / 2).cast("long")


def _pb_str_field(tag_byte: int, col):
    """Protobuf length-delimited string field as hex: 1-byte tag
    ((field_no << 3) | 2), varint BYTE length (octet_length — a char count
    corrupts the wire for multi-byte UTF-8), UTF-8 bytes."""
    return F.concat(
        F.lit(f"{tag_byte:02x}"),
        _varint_hex(F.octet_length(col).cast("long"), septets=5),
        F.lower(F.hex(col)),
    )


def _pb_msg_field(tag_byte: int, body_hex):
    """Protobuf embedded-message field as hex: tag, varint of the nested
    message's BYTE length, then the nested bytes."""
    return F.concat(
        F.lit(f"{tag_byte:02x}"), _varint_hex(_hexlen(body_hex), septets=5),
        body_hex,
    )


def with_envelope(df: DataFrame, envelope) -> DataFrame:
    """``df`` plus the codec's ``envelope`` column. A codec is either a
    Column (single envelope expression) or a DataFrame transformer (staged
    construction for deep wire formats whose one-expression form blows up
    the plan)."""
    if isinstance(envelope, Column):
        return df.withColumn("envelope", envelope)
    return envelope(df)


def open_json_envelope() -> "F.Column":
    """Default codec for the MQ changefeed: TiCDC open-protocol-style JSON
    envelope over the raw event columns (cdc/sink/codec/json.go shape —
    type from op, ts, key columns, full payload; pre-image when present)."""
    return F.to_json(
        F.struct(
            F.col("op").alias("t"),
            F.col("commit_ts").alias("ts"),
            F.col("start_ts").alias("sts"),
            F.col("seq"),
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("payload"),
            F.col("pre_payload"),
            F.col("schema_version").alias("v"),
        )
    )


def maxwell_envelope(database: str = "app", table: str = "transcripts"):
    """Maxwell wire shape (cdc/sink/codec/maxwell.go):
    database/table/type/ts envelope with the key columns and raw payload
    under ``data`` (old image under ``old`` for updates)."""
    op_name = (
        F.when(F.col("op") == "I", "insert")
        .when(F.col("op") == "D", "delete")
        .otherwise("update")
    )
    return F.to_json(
        F.struct(
            F.lit(database).alias("database"),
            F.coalesce(F.col("tbl"), F.lit(table)).alias("table"),
            op_name.alias("type"),
            F.col("commit_ts").alias("ts"),
            F.struct(
                F.col("conv_id"), F.col("turn_idx"), F.col("payload"),
            ).alias("data"),
            F.when(
                F.col("pre_payload").isNotNull(),
                F.struct(F.col("pre_payload").alias("payload")),
            ).alias("old"),
        )
    )


def canal_json_envelope(database: str = "app", table: str = "transcripts"):
    """canal-JSON flat wire shape (cdc/sink/codec/canal.go flat message):
    id/database/table/type/es/ts with ``data`` as a one-element array and
    ``old`` for the pre-image, as Alibaba Canal's flatMessage emits."""
    op_name = (
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "D", "DELETE")
        .otherwise("UPDATE")
    )
    return F.to_json(
        F.struct(
            F.col("seq").alias("id"),
            F.lit(database).alias("database"),
            F.coalesce(F.col("tbl"), F.lit(table)).alias("table"),
            op_name.alias("type"),
            F.col("commit_ts").alias("es"),
            F.col("commit_ts").alias("ts"),
            F.array(
                F.struct(F.col("conv_id"), F.col("turn_idx"), F.col("payload"))
            ).alias("data"),
            F.when(
                F.col("pre_payload").isNotNull(),
                F.array(F.struct(F.col("pre_payload").alias("payload"))),
            ).alias("old"),
        )
    )


# Spark integral types ride as Avro long on the versioned wire; strings as
# Avro string; anything else (double/boolean/timestamp/...) rides as its raw
# JSON lexeme in a string field annotated with the original sparkType so the
# relay can splice it back verbatim.
_AVRO_INTEGRAL_TYPES = frozenset(
    {"int", "integer", "bigint", "long", "smallint", "tinyint"}
)


def avro_schema_json(fields) -> str:
    """Canonical Avro writer-schema JSON for one registry version's payload
    fields (cdc/sink/codec/avro.go ColumnToAvroSchema analogue): the change
    envelope plus ``payload``/``pre_payload`` as a typed nested record —
    integral Spark types as Avro long, everything else as string with a
    ``sparkType`` annotation. Canonical (key-order-stable, no whitespace) so
    identical field sets hash to the identical schema string — the registry
    dedupes those to one id exactly like Confluent's registry does."""

    def ftype(t: str) -> str:
        return "long" if t in _AVRO_INTEGRAL_TYPES else "string"

    row_fields = [
        {"name": f.name, "type": ["null", ftype(f.type)], "sparkType": f.type}
        for f in fields
    ]
    schema = {
        "type": "record",
        "name": "RowChange",
        "fields": [
            {"name": "seq", "type": "long"},
            {"name": "op", "type": "string"},
            {"name": "commit_ts", "type": "long"},
            {"name": "start_ts", "type": ["null", "long"]},
            {"name": "conv_id", "type": "string"},
            {"name": "turn_idx", "type": "long"},
            {"name": "payload",
             "type": ["null", {"type": "record", "name": "Row",
                               "fields": row_fields}]},
            {"name": "pre_payload", "type": ["null", "Row"]},
            {"name": "tbl", "type": ["null", "string"]},
        ],
    }
    return json.dumps(schema, separators=(",", ":"))


def register_avro_schemas(registry, avro_ids: dict, avro_schemas: dict) -> None:
    """Register every registry version's writer schema, Confluent-style
    (cdc/sink/codec/schema_registry.go:119-131 Register): an unseen canonical
    schema gets ``max(id)+1``; re-registering an identical schema returns the
    existing id (so field-identical versions — truncate/partition bumps —
    share one id). Mutates ``avro_ids`` (version → id) and ``avro_schemas``
    (id → schema JSON) in place; both persist in the topic manifest, which IS
    our registry store (consumers fetch the writer schema by wire id from it,
    schema_registry.go:274-299 Lookup)."""
    by_schema = {s: int(i) for i, s in avro_schemas.items()}
    for v in registry.versions:
        if str(v.version) in avro_ids or v.version in avro_ids:
            continue
        schema = avro_schema_json(v.fields)
        sid = by_schema.get(schema)
        if sid is None:
            sid = max((int(i) for i in avro_schemas), default=0) + 1
            avro_schemas[str(sid)] = schema
            by_schema[schema] = sid
        avro_ids[str(v.version)] = sid


def avro_envelope_versioned(registry, id_by_version: dict):
    """Schema-registry-versioned Avro wire (cdc/sink/codec/avro.go:75,119,184
    + schema_registry.go:119-131): each event is encoded under the writer
    schema of its RESOLVED registry version — the Confluent header carries
    that version's registered schema id, and ``payload``/``pre_payload`` are
    that version's typed nested Avro record (integral fields as zigzag-varint
    longs, the rest as varint-length strings). This is the only Avro wire:
    body bytes are zigzag varint longs, varint-length-prefixed UTF-8 strings
    and ["null", T] unions with a varint branch index, built from JVM-side
    integer/hex expressions (no UDF, no avro lib), behind the Confluent
    framing of magic byte 0x00 and a 4-byte big-endian schema id. No
    explicit schema_version field rides the wire: the
    schema id IS the version pointer, exactly the reference's contract (a
    consumer fetches the writer schema by id); the relay decoder recovers the
    version from the manifest's id map when unambiguous and otherwise falls
    back to the as-of rule like the maxwell/canal wires.

    Returns a DataFrame transformer (df → df + 'envelope'). Codegen-size
    discipline: the version-INDEPENDENT envelope prefix (seq..turn_idx) and
    suffix (tbl) are built once, and each DISTINCT payload-field encoder
    (name × avro-kind, over payload and pre_payload) is staged as ONE named
    column shared by every version branch — a field live in k versions is
    referenced k times but its varint/get_json_object tree exists once
    (multi-referenced non-cheap projections are not re-inlined), so the
    per-version branches are cheap concats of column refs — expression
    volume is O(envelope + distinct fields), not O(versions × wire). The
    FUSED whole-stage method can still exceed Janino's 64KB ceiling on
    DDL-heavy registries, in which case Spark's designed degradation
    applies: that stage falls back to per-expression codegen (split
    methods, still JVM-compiled, just unfused) — never to Python."""
    from tiflow_spark.engine import schema_version_expr

    def _lng(c):
        return _zigzag_hex(c.cast("long"))

    def _sstr(c):
        return F.concat(
            _varint_hex(F.octet_length(c).cast("long") * 2, septets=5),
            F.lower(F.hex(c)),
        )

    def _optv(c, enc):
        return F.when(c.isNull(), F.lit("00")).otherwise(
            F.concat(F.lit("02"), enc(c))
        )

    def _field_enc(src: str, f) -> "F.Column":
        v = F.get_json_object(src, f"$.{f.name}")
        # string-typed fields carry the decoded string; integral fields cast
        # to long; other types carry the raw JSON lexeme so the relay
        # splices it back byte-verbatim
        if f.type in _AVRO_INTEGRAL_TYPES:
            return _optv(v.cast("long"), _lng)
        return _optv(v, _sstr)

    def _fkey(f) -> str:
        kind = "l" if f.type in _AVRO_INTEGRAL_TYPES else "s"
        return f"{f.name}_{kind}"

    def apply(df: DataFrame) -> DataFrame:
        staged = df.withColumn("_av_ver", schema_version_expr(registry))
        staged = staged.withColumn(
            "_av_env",
            F.concat(
                _lng(F.col("seq")), _sstr(F.col("op")),
                _lng(F.col("commit_ts")), _optv(F.col("start_ts"), _lng),
                _sstr(F.col("conv_id")), _lng(F.col("turn_idx")),
            ),
        ).withColumn("_av_tbl", _optv(F.col("tbl"), _sstr))
        # one staged encoder per distinct (field, kind) per image column
        fcols: dict[tuple[str, str], str] = {}
        for v in registry.versions:
            for f in v.fields:
                for src in ("payload", "pre_payload"):
                    key = (src, _fkey(f))
                    if key not in fcols:
                        name = f"_av_{'p' if src == 'payload' else 'q'}_{_fkey(f)}"
                        staged = staged.withColumn(name, _field_enc(src, f))
                        fcols[key] = name

        def _record(src: str, fields) -> "F.Column":
            parts = [F.col(fcols[(src, _fkey(f))]) for f in fields]
            body = F.concat(*parts) if parts else F.lit("")
            return F.when(F.col(src).isNull(), F.lit("00")).otherwise(
                F.concat(F.lit("02"), body)
            )

        hdr = pay = pre = None
        for v in registry.versions:
            sid = int(id_by_version.get(str(v.version),
                                        id_by_version.get(v.version)))
            cond = F.col("_av_ver") == v.version
            h = F.lit(f"00{sid:08x}")
            p, q = _record("payload", v.fields), _record("pre_payload", v.fields)
            hdr = F.when(cond, h) if hdr is None else hdr.when(cond, h)
            pay = F.when(cond, p) if pay is None else pay.when(cond, p)
            pre = F.when(cond, q) if pre is None else pre.when(cond, q)
        cur = registry.current
        sid = int(id_by_version.get(str(cur.version), id_by_version.get(cur.version)))
        hdr = hdr.otherwise(F.lit(f"00{sid:08x}"))
        pay = pay.otherwise(_record("payload", cur.fields))
        pre = pre.otherwise(_record("pre_payload", cur.fields))
        out = staged.withColumn(
            "envelope",
            F.concat(hdr, F.col("_av_env"), pay, pre, F.col("_av_tbl")),
        )
        return out.drop("_av_ver", "_av_env", "_av_tbl", *fcols.values())

    return apply


def canal_pb_envelope(database: str = "app", table: str = "transcripts"):
    """Canal protobuf wire envelope over the change event (cdc/sink/codec/
    canal.go:75-240 buildHeader/buildRowChange over EntryProtocol.proto):
    varint packet length, then Entry{Header{schemaName, tableName,
    executeTime, eventType-enum}, isDdl, RowData{beforeColumns,
    afterColumns}} with repeated Column{index, name, value} messages — the
    exact tag/varint/length-delimited bytes protoc would emit for this
    shape, built from JVM column expressions (no protobuf lib). Row-image
    routing follows the reference (cdc/sink/codec/canal.go buildRowData):
    DELETE carries the row image in beforeColumns with afterColumns empty;
    INSERT fills afterColumns only; UPDATE carries the old value in
    beforeColumns and the full new row in afterColumns. Like the real
    canal wire it carries NO seq/start_ts/schema_version — the relay
    decoder synthesizes per-key order from partition offsets (maxwell
    rule). DOCUMENTED DIVERGENCE: executeTime carries the raw TSO, not the
    reference's ``commitTs >> 18`` wall-clock-ms conversion — the relay
    needs the exact commit_ts for byte-exact replay (the >>18 projection
    is lossy and would collapse distinct commit timestamps); a consumer
    wanting canal's ms semantics applies ``executeTime >> 18`` itself.
    Hex string on the file topic; a Kafka sink publishes
    ``unhex(value)``.

    Returns a DataFrame TRANSFORMER (df → df + 'envelope'), not a Column:
    each length-prefix helper re-references its message body ~12×, so a
    single nested expression grows ~12^depth and stalls analysis/codegen at
    this wire's 3-level nesting. Staging each level as a named column keeps
    every tree one level deep (Catalyst does not re-inline multi-referenced
    non-cheap projections)."""

    def _col_msg(idx: int, name: str, value, parent_tag: int):
        # Column message under RowData field `parent_tag`; a NULL value
        # omits the whole Column (proto3 absent-field semantics)
        inner = F.concat(
            F.lit("08"), _varint_hex(F.lit(idx).cast("long"), septets=5),
            _pb_str_field(0x12, F.lit(name)),
            _pb_str_field(0x1A, value),
        )
        return F.when(value.isNull(), F.lit("")).otherwise(
            _pb_msg_field(parent_tag, inner)
        )

    def apply(df: DataFrame) -> DataFrame:
        op = F.col("op")
        etype = (
            F.when(op == "I", 1).when(op == "D", 3).otherwise(2).cast("long")
        )
        header = F.concat(
            _pb_str_field(0x0A, F.lit(database)),                  # f1 schemaName
            _pb_str_field(0x12, F.coalesce(F.col("tbl"), F.lit(table))),  # f2
            F.lit("18"), _varint_hex(F.col("commit_ts")),          # f3 executeTime
            F.lit("20"), _varint_hex(etype, septets=5),            # f4 eventType
        )
        is_del = op == "D"

        def _image(parent_tag: int):
            # full row image as repeated Column messages under before (0x0A)
            # or after (0x12); stable column indexes either side
            return F.concat(
                _col_msg(0, "conv_id", F.col("conv_id"), parent_tag),
                _col_msg(1, "turn_idx", F.col("turn_idx").cast("string"),
                         parent_tag),
                _col_msg(
                    2, "payload",
                    F.col("pre_payload") if parent_tag == 0x0A
                    else F.col("payload"),
                    parent_tag,
                ),
            )

        # DELETE: image in beforeColumns, afterColumns EMPTY (canal.go
        # buildRowData); UPDATE: old payload in before, new row in after;
        # INSERT: after only (pre_payload is null, so before degenerates
        # to empty via the null-column omission)
        rowdata = F.concat(
            F.when(is_del, _image(0x0A)).otherwise(
                _col_msg(2, "payload", F.col("pre_payload"), 0x0A)
            ),
            F.when(is_del, F.lit("")).otherwise(_image(0x12)),
        )
        staged = df.withColumn("_pb_hdr", header).withColumn("_pb_row", rowdata)
        staged = staged.withColumn(
            "_pb_entry",
            F.concat(
                _pb_msg_field(0x0A, F.col("_pb_hdr")),   # f1 header
                F.lit("1000"),                           # f2 isDdl=false
                _pb_msg_field(0x1A, F.col("_pb_row")),   # f3 rowData
            ),
        )
        return staged.withColumn(
            "envelope",
            F.concat(
                _varint_hex(_hexlen("_pb_entry")),
                F.col("_pb_entry"),
            ),
        ).drop("_pb_hdr", "_pb_row", "_pb_entry")

    return apply


def craft_envelope(database: str = "app", table: str = "transcripts"):
    """Craft columnar wire envelope over the change event (cdc/sink/codec/
    craft.go + craft/encoder.go:36-183): version byte, header chunk (event
    count, commit_ts, eventType, schema/table term-dict refs), a NEW-values
    column group and an OLD-values column group (group-type byte, column
    count, delta-zigzag name refs, mysql type bytes, null mask,
    length-prefixed value chunk), the term dictionary, the delta-varint
    size tables, and the reversed-uvarint trailer a reader parses BACKWARD
    from the message tail. Batch-of-1 per message (the reference batches
    rows; the per-row layout is identical). Nulls carry a mask bit + zero
    length; the old-values group is always present (empty under the mask)
    so the size tables have a fixed shape. No seq/start_ts/schema_version
    on the wire — the relay synthesizes seq from partition offsets
    (maxwell rule).

    Returns a staged DataFrame transformer (see canal_pb_envelope: the
    nested length prefixes re-reference their bodies, so each layer is a
    named column)."""

    def apply(df: DataFrame) -> DataFrame:
        op = F.col("op")
        etype = (
            F.when(op == "I", 1).when(op == "D", 3).otherwise(2).cast("long")
        )
        tbl = F.coalesce(F.col("tbl"), F.lit(table))
        header = F.concat(
            _varint_hex(F.lit(1).cast("long"), septets=5),   # event count
            _varint_hex(F.col("commit_ts")),
            _varint_hex(etype, septets=5),
            _zigzag_hex(F.lit(0).cast("long"), septets=5),   # schema dict ref
            _zigzag_hex(F.lit(1).cast("long"), septets=5),   # table dict ref
        )
        conv_hex = F.lower(F.hex("conv_id"))
        turn_hex = _zigzag_hex(F.col("turn_idx").cast("long"))
        pay_hex = F.coalesce(F.lower(F.hex("payload")), F.lit(""))
        pre_hex = F.coalesce(F.lower(F.hex("pre_payload")), F.lit(""))
        null1 = F.when(F.col("payload").isNull(), F.lit("04")).otherwise(F.lit("00"))
        null2 = F.when(F.col("pre_payload").isNull(), F.lit("01")).otherwise(F.lit("00"))
        g1 = F.concat(
            F.lit("01"),                             # group: new values
            _varint_hex(F.lit(3).cast("long"), septets=5),   # 3 columns
            _zigzag_hex(F.lit(2).cast("long"), septets=5),   # conv_id dict ref
            _zigzag_hex(F.lit(1).cast("long"), septets=5),   # +1 -> turn_idx
            _zigzag_hex(F.lit(1).cast("long"), septets=5),   # +1 -> payload
            F.lit("0f080f"),                         # VARCHAR, LONGLONG, VARCHAR
            null1,                                   # null mask (bit2=payload)
            _varint_hex(_hexlen(conv_hex), septets=5),
            _varint_hex(_hexlen(turn_hex), septets=5),
            _varint_hex(_hexlen(pay_hex), septets=5),
            conv_hex, turn_hex, pay_hex,
        )
        g2 = F.concat(
            F.lit("02"),                             # group: old values
            _varint_hex(F.lit(1).cast("long"), septets=5),
            _zigzag_hex(F.lit(4).cast("long"), septets=5),   # payload dict ref
            F.lit("0f"),
            null2,
            _varint_hex(_hexlen(pre_hex), septets=5),
            pre_hex,
        )
        dict_hex = F.concat(
            _varint_hex(F.lit(5).cast("long"), septets=5),
            # term lengths are OCTET lengths (the term bytes are UTF-8): a
            # non-ASCII database name under len() would desynchronize the
            # whole dictionary; the fixed column-name terms below are ASCII
            # by construction (len == octets)
            _varint_hex(F.lit(len(database.encode("utf-8"))).cast("long"),
                        septets=5),
            _varint_hex(F.octet_length(tbl).cast("long"), septets=5),
            _varint_hex(F.lit(7).cast("long"), septets=5),   # conv_id
            _varint_hex(F.lit(8).cast("long"), septets=5),   # turn_idx
            _varint_hex(F.lit(7).cast("long"), septets=5),   # payload
            F.lower(F.hex(F.lit(database))),
            F.lower(F.hex(tbl)),
            F.lower(F.hex(F.lit("conv_id"))),
            F.lower(F.hex(F.lit("turn_idx"))),
            F.lower(F.hex(F.lit("payload"))),
        )
        staged = (
            df.withColumn("_cr_hdr", header)
            .withColumn("_cr_g1", g1)
            .withColumn("_cr_g2", g2)
            .withColumn("_cr_dict", dict_hex)
        )
        staged = staged.withColumn(
            "_cr_tables",
            F.concat(
                _varint_hex(F.lit(2).cast("long"), septets=5),  # meta sizes
                _zigzag_hex(_hexlen(F.col("_cr_hdr")), septets=5),
                _zigzag_hex(_hexlen(F.col("_cr_dict")) - _hexlen(F.col("_cr_hdr")),
                            septets=5),
                _varint_hex(F.lit(1).cast("long"), septets=5),  # body size
                _zigzag_hex(_hexlen(F.col("_cr_g1")) + _hexlen(F.col("_cr_g2")),
                            septets=5),
                _varint_hex(F.lit(2).cast("long"), septets=5),  # group sizes
                _zigzag_hex(_hexlen(F.col("_cr_g1")), septets=5),
                _zigzag_hex(_hexlen(F.col("_cr_g2")), septets=5),
            ),
        )
        return staged.withColumn(
            "envelope",
            F.concat(
                F.lit("01"),                         # craft Version1
                F.col("_cr_hdr"), F.col("_cr_g1"), F.col("_cr_g2"),
                F.col("_cr_dict"), F.col("_cr_tables"),
                _uvarint_rev_hex(_hexlen(F.col("_cr_tables")), septets=5),
            ),
        ).drop("_cr_hdr", "_cr_g1", "_cr_g2", "_cr_dict", "_cr_tables")

    return apply


# envelope factories by protocol name; avro's takes the topic's registry
# and schema ids, which MQChangefeed restores from the topic manifest
MQ_PROTOCOLS = {
    "open-json": open_json_envelope,
    "maxwell": maxwell_envelope,
    "canal-json": canal_json_envelope,
    "avro": avro_envelope_versioned,
    "canal-pb": canal_pb_envelope,
    "craft": craft_envelope,
}


class MQChangefeed(EpochDriver):
    """The reference's MQ (Kafka) changefeed flow (cdc/sink/mq.go:55-220):
    tail the changefeed log and PUBLISH every DML event — no LWW fold; the
    consumer sees the full ordered change stream, unlike the lake MERGE
    path — codec-enveloped, index-value dispatched, with per-epoch
    checkpoint broadcast and DDL broadcast to every partition
    (mq.go:136-166 flush-then-broadcast; EmitDDLEvent).

    Progress state lives in the topic manifest (``barrier_ts`` +
    ``epoch``), so resume and the epoch fence work exactly like the lake
    path: re-running a published epoch is a no-op, and a crashed attempt's
    orphan segment is overwritten on replay.

    The epoch loop and barrier policy are the lake path's (EpochDriver,
    plan_epoch); this class supplies the per-epoch publish. Scale shape per
    epoch: one ts-pruned scan of the log slice, one exchange on the
    partition id, a per-partition offset window, one partitioned write. DDL
    and checkpoint messages are driver-side rows (control plane is tiny by
    construction).
    """

    def __init__(
        self,
        log_path: str,
        sink: FileMQSink,
        envelope=None,
        protocol: str = "open-json",
        ignore_txn_start_ts: list[int] | None = None,
        event_filter: str | None = None,
    ):
        if protocol not in MQ_PROTOCOLS:
            raise ValueError(
                f"unknown MQ protocol {protocol!r}; one of {sorted(MQ_PROTOCOLS)}"
            )
        self.log_path = log_path
        self.sink = sink
        # None → MQ_PROTOCOLS[protocol](), resolved lazily at run time:
        # Column construction needs an active SparkContext, and the CLI
        # builds the engine before it builds the session
        self.envelope = envelope
        self.protocol = protocol
        self.ignore_txn_start_ts = list(ignore_txn_start_ts or [])
        self.event_filter = event_filter

    def _states(self) -> dict[str, dict]:
        st = self.sink.topic_state()
        return {self.sink.path: {
            **st, "checkpoint_ts": int(st.get("barrier_ts", 0)),
            "checkpoint_seq": int(st.get("checkpoint_seq", -1)),
        }}

    def _apply_epoch(self, spark, log, name, state, plan, ddl_rows) -> EpochStats:
        """Publish one epoch: the slice's DML, filtered and codec-enveloped,
        then its DDLs and the checkpoint as broadcast messages."""
        dml = watermark_cut(
            log, low_ts=state["checkpoint_ts"], high_ts=plan.barrier_ts
        ).filter(F.col("op").isin(*DML_OPS))
        dml = engine_event_filters(
            dml, self.ignore_txn_start_ts, self.event_filter
        )
        ddl_rows = [(r["commit_ts"], r["ddl"]) for r in ddl_rows]
        extra_state = None
        if self.protocol == "avro" and self.envelope is None:
            # schema-registry-versioned avro: the topic manifest is the
            # registry store (schema_registry.go), restored exactly as of
            # the published checkpoint (the DM table_info-per-checkpoint
            # rule, dm/syncer/checkpoint.go:971-981). Apply this epoch's
            # DDLs in commit order, register the new versions' writer
            # schemas, and encode every event under ITS resolved version's
            # schema id
            registry = (
                SchemaRegistry.from_json(state["registry_json"])
                if state.get("registry_json")
                else SchemaRegistry.initial()
            )
            for cts, ddl in ddl_rows:
                registry.apply_ddl(json.loads(ddl), cts)
            avro_ids = dict(state.get("avro_ids") or {})
            avro_schemas = dict(state.get("avro_schemas") or {})
            register_avro_schemas(registry, avro_ids, avro_schemas)
            envelope = avro_envelope_versioned(registry, avro_ids)
            extra_state = {
                "registry_json": registry.to_json(),
                "avro_ids": avro_ids,
                "avro_schemas": avro_schemas,
            }
        else:
            envelope = (
                self.envelope if self.envelope is not None
                else MQ_PROTOCOLS[self.protocol]()
            )
        events = with_envelope(dml, envelope)
        epoch = state["epoch"] + 1
        published = self.sink.write_epoch(
            events, epoch=epoch, barrier_ts=plan.barrier_ts, ddl_rows=ddl_rows,
            protocol=None if self.envelope is not None else self.protocol,
            # persisted as the topic's checkpoint_seq: the next run's
            # validation floor
            barrier_seq=plan.barrier_seq, extra_state=extra_state,
        )
        rows = 0
        if published:
            # each partition's offset grew by its row messages plus one
            # broadcast copy of every DDL and of the checkpoint
            grown = sum(
                v - state["offsets"][p]
                for p, v in self.sink.topic_state()["offsets"].items()
            )
            rows = grown - len(state["offsets"]) * (len(ddl_rows) + 1)
        return EpochStats(
            epoch=epoch, barrier_ts=plan.barrier_ts, dml_events=rows,
            ddl_events=len(ddl_rows) if published else 0, committed=published,
        )


def _decode_open_json(row_msgs: DataFrame) -> DataFrame:
    """Inverse of open_json_envelope — full envelope, true seq/start_ts."""
    env_schema = (
        "t string, ts long, sts long, seq long, conv_id string, "
        "turn_idx int, payload string, pre_payload string, v int"
    )
    return row_msgs.select(
        F.from_json("value", env_schema).alias("e")
    ).select(
        F.col("e.seq").alias("seq"),
        F.col("e.t").alias("op"),
        F.col("e.ts").alias("commit_ts"),
        F.col("e.sts").alias("start_ts"),
        F.col("e.v").alias("schema_version"),
        F.col("e.conv_id").alias("conv_id"),
        F.col("e.turn_idx").alias("turn_idx"),
        F.col("e.payload").alias("payload"),
        F.col("e.pre_payload").alias("pre_payload"),
        F.lit(None).cast("string").alias("ddl"),
        F.lit(None).cast("int").alias("partition_hint"),
        F.lit(None).cast("string").alias("tbl"),
    )


def _decode_maxwell(row_msgs: DataFrame) -> DataFrame:
    """Inverse of maxwell_envelope (cdc/sink/codec/maxwell.go shape). The
    wire carries no seq/start_ts/schema_version: seq is synthesized from
    the per-partition OFFSET — same key → same partition (index-value
    dispatch) and offsets are assigned in canonical event order and
    continued across epochs, so per-key relative order (all the LWW fold
    consumes, ties broken at equal commit_ts) is preserved exactly;
    schema_version=null falls back to the as-of rule at decode time (the
    relayed DDL events rebuild the registry timeline)."""
    env_schema = (
        "database string, table string, type string, ts long, "
        "data struct<conv_id:string, turn_idx:int, payload:string>, "
        "old struct<payload:string>"
    )
    e = F.from_json("value", env_schema)
    op = (
        F.when(e["type"] == "insert", "I")
        .when(e["type"] == "delete", "D")
        .when(e["type"] == "update", "U")
    )
    return row_msgs.select(
        F.col("offset").alias("seq"),
        op.alias("op"),
        e["ts"].alias("commit_ts"),
        F.lit(None).cast("long").alias("start_ts"),
        F.lit(None).cast("int").alias("schema_version"),
        e["data"]["conv_id"].alias("conv_id"),
        e["data"]["turn_idx"].alias("turn_idx"),
        e["data"]["payload"].alias("payload"),
        e["old"]["payload"].alias("pre_payload"),
        F.lit(None).cast("string").alias("ddl"),
        F.lit(None).cast("int").alias("partition_hint"),
        e["table"].alias("tbl"),
    )


def _decode_canal_json(row_msgs: DataFrame) -> DataFrame:
    """Inverse of canal_json_envelope (Alibaba Canal flatMessage): ``id``
    carries the true seq, ``es`` the commit_ts, data/old are one-element
    arrays; start_ts/schema_version are not on the wire (see maxwell)."""
    env_schema = (
        "id long, database string, table string, type string, es long, "
        "ts long, data array<struct<conv_id:string, turn_idx:int, "
        "payload:string>>, old array<struct<payload:string>>"
    )
    e = F.from_json("value", env_schema)
    op = (
        F.when(e["type"] == "INSERT", "I")
        .when(e["type"] == "DELETE", "D")
        .when(e["type"] == "UPDATE", "U")
    )
    return row_msgs.select(
        e["id"].alias("seq"),
        op.alias("op"),
        e["es"].alias("commit_ts"),
        F.lit(None).cast("long").alias("start_ts"),
        F.lit(None).cast("int").alias("schema_version"),
        e["data"][0]["conv_id"].alias("conv_id"),
        e["data"][0]["turn_idx"].alias("turn_idx"),
        e["data"][0]["payload"].alias("payload"),
        e["old"][0]["payload"].alias("pre_payload"),
        F.lit(None).cast("string").alias("ddl"),
        F.lit(None).cast("int").alias("partition_hint"),
        e["table"].alias("tbl"),
    )


def _avro_read_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag base-128 varint long (the Avro binary long encoding)."""
    acc = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _avro_read_str(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = _avro_read_long(buf, pos)
    return buf[pos : pos + n].decode("utf-8"), pos + n


def _avro_read_opt(buf: bytes, pos: int, reader) -> tuple[object, int]:
    branch, pos = _avro_read_long(buf, pos)
    if branch == 0:
        return None, pos
    return reader(buf, pos)


_RELAY_COLS = [
    "seq", "op", "commit_ts", "start_ts", "schema_version", "conv_id",
    "turn_idx", "payload", "pre_payload", "ddl", "partition_hint", "tbl",
]


def _compile_avro_reader(sid: int, schema: dict | None, ver: int | None):
    """Compile ONE writer schema into a specialized reader closure — the
    schema is interpreted once per schema id per task, not once per message
    (what a real avro lib's resolving decoder does when it caches the
    compiled reader by schema id). Handles the envelope shape every
    ``avro_schema_json`` schema has; a schema id missing from the topic
    manifest, or registered with any other shape, raises ``ValueError``
    naming the id — a message is never decoded under a schema it was not
    written with. The payload JSON text is assembled inline from
    precomputed ``"name":``-prefix parts."""
    if schema is None:
        raise ValueError(
            f"avro schema id {sid} is not registered in the topic manifest"
        )
    shape_error = ValueError(
        f"avro schema id {sid} is not a change-event writer schema"
    )
    fields = schema.get("fields") if isinstance(schema, dict) else None
    expected = ["seq", "op", "commit_ts", "start_ts", "conv_id", "turn_idx",
                "payload", "pre_payload", "tbl"]
    if not fields or [f["name"] for f in fields] != expected:
        raise shape_error
    row = fields[6]["type"][1] if isinstance(fields[6]["type"], list) else None
    if not (isinstance(row, dict) and row.get("type") == "record"):
        raise shape_error
    specs = []
    for f in row["fields"]:
        t = f["type"]
        if not (isinstance(t, list) and len(t) == 2 and t[0] == "null"
                and t[1] in ("long", "string")):
            raise shape_error
        specs.append((json.dumps(f["name"]) + ":", t[1] == "long",
                      f.get("sparkType", "string")))
    rl, rs, ro = _avro_read_long, _avro_read_str, _avro_read_opt
    dumps, loads = json.dumps, json.loads

    def read_row(buf, pos):
        parts = []
        for prefix, is_long, stype in specs:
            branch, pos = rl(buf, pos)
            if branch == 0:
                parts.append(prefix + "null")
            elif is_long:
                v, pos = rl(buf, pos)
                parts.append(prefix + str(v))
            else:
                v, pos = rs(buf, pos)
                if stype == "string":
                    parts.append(prefix + dumps(v, ensure_ascii=False))
                else:  # raw JSON lexeme splice (non-string, non-integral)
                    try:
                        loads(v)
                        parts.append(prefix + v)
                    except (ValueError, TypeError):
                        parts.append(prefix + dumps(v, ensure_ascii=False))
        return "{" + ",".join(parts) + "}", pos

    def read(buf: bytes) -> tuple:
        pos = 5  # caller validated magic + extracted the schema id
        seq, pos = rl(buf, pos)
        op, pos = rs(buf, pos)
        cts, pos = rl(buf, pos)
        sts, pos = ro(buf, pos, rl)
        cid, pos = rs(buf, pos)
        ti, pos = rl(buf, pos)
        branch, pos = rl(buf, pos)
        payload = None
        if branch:
            payload, pos = read_row(buf, pos)
        branch, pos = rl(buf, pos)
        pre = None
        if branch:
            pre, pos = read_row(buf, pos)
        tbl, pos = ro(buf, pos, rs)
        if pos != len(buf):
            raise ValueError(f"avro trailing bytes: {len(buf) - pos}")
        return (seq, op, cts, sts, ver, cid, ti, payload, pre, None, None, tbl)

    return read


def _batch_bufs(values) -> list[bytes]:
    """Hoist the hex→bytes conversion for a whole Arrow batch: ONE C-level
    ``bytes.fromhex`` over the concatenated batch plus numpy offset
    arithmetic, instead of a Python-level call per message — the
    fixed-offset prefix work is batch-vectorized and only the varint walk
    stays per-message. ``values`` is the batch's pandas Series of hex
    strings."""
    import numpy as np

    joined = "".join(values)
    raw = bytes.fromhex(joined)
    lens = (values.str.len() // 2).to_numpy(dtype=np.int64)
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    return [raw[offs[i]: offs[i + 1]] for i in range(len(lens))]


def _decode_avro(row_msgs: DataFrame, state: dict | None = None) -> DataFrame:
    """Inverse of ``avro_envelope_versioned``. Binary varint decode is not
    expressible as column expressions (variable-length fields), so the
    binary relay decoders run Python — Arrow-batched ``mapInPandas``,
    exactly what a real consumer does with an avro lib. Each message decodes
    under its own writer schema, fetched by the wire's schema id from the
    topic-manifest registry (``avro_schemas``/``avro_ids`` in ``state``)."""
    import pandas as pd

    st = state or {}
    schemas_by_id = {
        int(i): json.loads(s) for i, s in (st.get("avro_schemas") or {}).items()
    }
    counts: dict[int, int] = {}
    vers: dict[int, int] = {}
    for ver, sid in (st.get("avro_ids") or {}).items():
        counts[int(sid)] = counts.get(int(sid), 0) + 1
        vers[int(sid)] = int(ver)
    ver_by_id = {sid: v for sid, v in vers.items() if counts[sid] == 1}

    def gen(batches):
        # per-task compiled-reader cache: schema interpreted once per id,
        # every message dispatches to its id's closure
        readers: dict[int, object] = {}

        def decode(buf: bytes) -> tuple:
            if buf[0] != 0:
                raise ValueError("not Confluent avro wire: bad magic byte")
            sid = int.from_bytes(buf[1:5], "big")
            r = readers.get(sid)
            if r is None:
                r = readers[sid] = _compile_avro_reader(
                    sid, schemas_by_id.get(sid), ver_by_id.get(sid))
            return r(buf)

        for pdf in batches:
            out = pd.DataFrame(
                [decode(v) for v in _batch_bufs(pdf["value"])],
                columns=_RELAY_COLS,
            )
            for c in ("seq", "commit_ts", "start_ts", "schema_version",
                      "turn_idx", "partition_hint"):
                out[c] = out[c].astype("Int64")
            yield out

    return row_msgs.select("value").mapInPandas(
        gen,
        "seq long, op string, commit_ts long, start_ts long, "
        "schema_version int, conv_id string, turn_idx int, payload string, "
        "pre_payload string, ddl string, partition_hint int, tbl string",
    )


def _pb_read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    acc = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return acc, pos


def _pb_read_fields(buf: bytes) -> list[tuple[int, object]]:
    """Walk a protobuf message's (single-byte-tag) fields: varint fields
    yield ints, length-delimited fields yield the raw bytes."""
    pos = 0
    out = []
    while pos < len(buf):
        tag = buf[pos]
        pos += 1
        fno, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = _pb_read_uvarint(buf, pos)
            out.append((fno, v))
        elif wt == 2:
            n, pos = _pb_read_uvarint(buf, pos)
            out.append((fno, buf[pos : pos + n]))
            pos += n
        else:
            raise ValueError(f"unsupported protobuf wire type {wt}")
    return out


def _pb_columns(msgs: list[bytes]) -> dict[str, str]:
    cols = {}
    for m in msgs:
        fields = dict(_pb_read_fields(m))
        cols[fields[2].decode("utf-8")] = fields[3].decode("utf-8")
    return cols


def _canal_pb_parse_row(hexstr: str) -> tuple:
    """Inverse of canal_pb_envelope: packet varint length, Entry{header,
    isDdl, RowData{before, after}} → change-event tuple (seq slot None —
    synthesized from the partition offset, the maxwell rule). A DELETE's
    row image lives in beforeColumns (afterColumns empty), per the
    reference canal wire — the key comes from whichever group carries the
    image."""
    buf = bytes.fromhex(hexstr) if isinstance(hexstr, str) else hexstr
    n, pos = _pb_read_uvarint(buf, 0)
    entry = dict(_pb_read_fields(buf[pos : pos + n]))
    header = dict(_pb_read_fields(entry[1]))
    commit_ts = header[3]
    op = {1: "I", 2: "U", 3: "D"}[header[4]]
    tbl = header[2].decode("utf-8")
    before, after = [], []
    for fno, msg in _pb_read_fields(entry.get(3, b"")):
        (before if fno == 1 else after).append(msg)
    a = _pb_columns(after)
    b = _pb_columns(before)
    if op == "D":
        if a:
            raise ValueError("canal wire: DELETE must carry no afterColumns")
        return (None, op, commit_ts, None, None, b.get("conv_id"),
                int(b["turn_idx"]), None, b.get("payload"),
                None, None, tbl)
    return (None, op, commit_ts, None, None, a.get("conv_id"),
            int(a["turn_idx"]), a.get("payload"), b.get("payload"),
            None, None, tbl)


def _decode_canal_pb(row_msgs: DataFrame) -> DataFrame:
    """Consumer-side canal wire decode (the reference's consumer ecosystem
    parses EntryProtocol.proto, cdc/sink/codec/canal.go) — Arrow-batched
    ``mapInPandas`` protobuf TLV walk. seq comes from the partition offset
    (index-value dispatch keeps per-key order, exactly the maxwell rule);
    start_ts/schema_version are not on the canal wire."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame(
                [_canal_pb_parse_row(v) for v in _batch_bufs(pdf["value"])],
                columns=_RELAY_COLS,
            )
            out["seq"] = pdf["offset"].values
            for c in ("seq", "commit_ts", "start_ts", "schema_version",
                      "turn_idx", "partition_hint"):
                out[c] = out[c].astype("Int64")
            yield out

    return row_msgs.select("offset", "value").mapInPandas(
        gen,
        "seq long, op string, commit_ts long, start_ts long, "
        "schema_version int, conv_id string, turn_idx int, payload string, "
        "pre_payload string, ddl string, partition_hint int, tbl string",
    )


def _craft_zigzag(buf: bytes, pos: int) -> tuple[int, int]:
    u, pos = _pb_read_uvarint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos


def _craft_parse_row(hexstr: str) -> tuple:
    """Inverse of craft_envelope, parsed the way the reference decoder
    does: the trailer's REVERSED uvarint (read backward from the last
    byte) locates the size tables, the tables locate every segment, then
    the header / groups / term dictionary decode forward — any size-table
    drift fails loudly."""
    b = bytes.fromhex(hexstr) if isinstance(hexstr, str) else hexstr
    if b[0] != 0x01:
        raise ValueError("not craft Version1")
    # tail-first: reversed uvarint = same septets, highest first
    j, v, shift = len(b) - 1, 0, 0
    while True:
        v |= (b[j] & 0x7F) << shift
        shift += 7
        j -= 1
        if not b[j + 1] & 0x80:
            break
    tables = b[j + 1 - v : j + 1]
    i = 0
    n, i = _pb_read_uvarint(tables, i)
    if n != 2:
        raise ValueError("craft: bad meta size count")
    hsize, i = _craft_zigzag(tables, i)
    ddelta, i = _craft_zigzag(tables, i)
    dsize = hsize + ddelta
    n, i = _pb_read_uvarint(tables, i)
    bsize, i = _craft_zigzag(tables, i)
    n, i = _pb_read_uvarint(tables, i)
    g1size, i = _craft_zigzag(tables, i)
    g2size, i = _craft_zigzag(tables, i)
    if g1size + g2size != bsize or 1 + hsize + bsize + dsize != j + 1 - v:
        raise ValueError("craft: size tables do not match layout")
    # header
    h = b[1 : 1 + hsize]
    i = 0
    cnt, i = _pb_read_uvarint(h, i)
    if cnt != 1:
        raise ValueError("craft: expected batch-of-1 message")
    commit_ts, i = _pb_read_uvarint(h, i)
    etype, i = _pb_read_uvarint(h, i)
    _schema_ref, i = _craft_zigzag(h, i)
    table_ref, i = _craft_zigzag(h, i)
    # term dictionary
    d = b[1 + hsize + bsize : 1 + hsize + bsize + dsize]
    i = 0
    tcnt, i = _pb_read_uvarint(d, i)
    lens = []
    for _ in range(tcnt):
        ln, i = _pb_read_uvarint(d, i)
        lens.append(ln)
    terms = []
    for ln in lens:
        terms.append(d[i : i + ln].decode("utf-8"))
        i += ln

    def group(seg: bytes, want_type: int) -> dict[str, object]:
        i = 0
        if seg[i] != want_type:
            raise ValueError(f"craft: group type {seg[i]} != {want_type}")
        i += 1
        ncols, i = _pb_read_uvarint(seg, i)
        refs, ref = [], 0
        for k in range(ncols):
            delta, i = _craft_zigzag(seg, i)
            ref = delta if k == 0 else ref + delta
            refs.append(ref)
        i += ncols  # mysql type bytes
        nullmask = seg[i]
        i += 1
        vlens = []
        for _ in range(ncols):
            ln, i = _pb_read_uvarint(seg, i)
            vlens.append(ln)
        out = {}
        for k, (r, ln) in enumerate(zip(refs, vlens)):
            raw = seg[i : i + ln]
            i += ln
            name = terms[r]
            if nullmask & (1 << k):
                out[name] = None
            elif name == "turn_idx":
                val, _ = _craft_zigzag(raw, 0)
                out[name] = val
            else:
                out[name] = raw.decode("utf-8")
        return out

    new = group(b[1 + hsize : 1 + hsize + g1size], 0x01)
    old = group(b[1 + hsize + g1size : 1 + hsize + bsize], 0x02)
    op = {1: "I", 2: "U", 3: "D"}[etype]
    return (None, op, commit_ts, None, None, new["conv_id"],
            new["turn_idx"], new["payload"], old["payload"],
            None, None, terms[table_ref])


def _decode_craft(row_msgs: DataFrame) -> DataFrame:
    """Consumer-side craft decode: Arrow-batched ``mapInPandas``, tail-first
    like the reference reader; seq is offset-derived (maxwell rule)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame(
                [_craft_parse_row(v) for v in _batch_bufs(pdf["value"])],
                columns=_RELAY_COLS,
            )
            out["seq"] = pdf["offset"].values
            for c in ("seq", "commit_ts", "start_ts", "schema_version",
                      "turn_idx", "partition_hint"):
                out[c] = out[c].astype("Int64")
            yield out

    return row_msgs.select("offset", "value").mapInPandas(
        gen,
        "seq long, op string, commit_ts long, start_ts long, "
        "schema_version int, conv_id string, turn_idx int, payload string, "
        "pre_payload string, ddl string, partition_hint int, tbl string",
    )


RELAY_DECODERS = {
    "open-json": _decode_open_json,
    "maxwell": _decode_maxwell,
    "canal-json": _decode_canal_json,
    "avro": _decode_avro,
    "canal-pb": _decode_canal_pb,
    "craft": _decode_craft,
}


def topic_to_log(spark: SparkSession, sink: FileMQSink, out_dir: str) -> str:
    """Consumer-side relay: reconstruct a replayable changefeed log from a
    topic published with ANY of the six envelope codecs (three JSON, three
    binary: Avro-Confluent, canal-protobuf, craft) — the
    downstream half of the reference's MQ pairing (TiCDC → Kafka →
    canal/flink consumer → table; the consumer ecosystem decodes canal wire,
    cdc/sink/codec/canal.go). Row messages become DML events, the deduped
    ``ddl`` broadcasts become DDL events, and each epoch's checkpoint
    broadcast becomes a resolved-ts (R) mark — so ``ChangefeedEngine`` can
    replay the reconstructed log with the SAME fold/merge/fence semantics,
    and the relayed table byte-matches the directly-replayed one (pinned
    per protocol in ``test_mq_changefeed``).

    Distributed shape: one scan of the topic; envelope decode is a
    ``from_json`` projection; the write is one narrow pass. The tiny ddl /
    checkpoint control sets are handled driver-side, as in the engine.
    """
    from tiflow_spark.model import CHANGE_EVENT_SCHEMA

    protocol = sink.topic_state().get("protocol") or "open-json"
    if protocol not in RELAY_DECODERS:
        # a custom-envelope topic decoded with the wrong schema would yield
        # NULL op on every row and silently relay an empty stream — refuse
        raise ValueError(
            f"topic was published with protocol {protocol!r}; "
            f"topic_to_log can reconstruct {sorted(RELAY_DECODERS)}"
        )
    topic = sink.read_topic(spark)
    row_df = topic.filter(F.col("kind") == "row")
    if protocol == "avro":
        # the topic manifest IS the schema registry: the decoder fetches
        # each message's writer schema by its wire id from it
        rows = _decode_avro(row_df, sink.topic_state())
    else:
        rows = RELAY_DECODERS[protocol](row_df)
    # control plane (tiny): dedupe the per-partition DDL broadcasts, take
    # the newest checkpoint as the R mark
    ctrl = topic.filter(F.col("kind").isin("ddl", "checkpoint")).collect()
    ddls = {}
    barriers: set[int] = set()
    for r in ctrl:
        v = json.loads(r["value"])
        if r["kind"] == "ddl":
            ddls[(v["commit_ts"], json.dumps(v["ddl"], sort_keys=True))] = v
        else:
            # every epoch's checkpoint becomes its own R mark, so the
            # reconstructed log keeps the original epoch granularity (a
            # relay consumer can resume mid-stream exactly like the source)
            barriers.add(v["resolved_ts"])
    # ONE decode pass: write the decoded rows, then validate and take
    # max(seq) from the WRITTEN parquet — a narrow two-column scan — instead
    # of running the (Python, for the binary wires) decode a second time
    os.makedirs(out_dir, exist_ok=True)
    try:
        rows.write.mode("overwrite").parquet(out_dir)
    except Exception as e:
        # a binary decoder refused a message (unregistered avro schema id,
        # bad framing): leave no half-built log and raise the decoder's own
        # ValueError rather than the Spark job failure wrapping it
        shutil.rmtree(out_dir, ignore_errors=True)
        refused = re.search(r"ValueError: ([^\n]*)", str(e))
        if refused:
            raise ValueError(refused.group(1)) from e
        raise
    agg = spark.read.parquet(out_dir).agg(
        F.max("seq").alias("max_seq"),
        F.sum(F.when(F.col("op").isNull(), 1).otherwise(0)).alias("bad"),
    ).collect()[0]
    if (agg["bad"] or 0) > 0:
        # custom envelope or pre-protocol topic this schema can't decode —
        # fail loudly (and leave no half-built log) rather than relay a
        # silently-empty stream
        shutil.rmtree(out_dir, ignore_errors=True)
        raise ValueError(
            f"{agg['bad']} row messages did not decode as {protocol} "
            "envelopes (op is null) — wrong codec for this topic"
        )
    max_seq = agg["max_seq"] or 0
    extra = []
    for i, ((cts, _), v) in enumerate(sorted(ddls.items())):
        extra.append((max_seq + 1 + i, "DDL", cts, None, None, None, None,
                      None, None, json.dumps(v["ddl"]), None, None))
    for j, b in enumerate(sorted(barriers)):
        extra.append((max_seq + 1 + len(ddls) + j, "R", b, None, None,
                      None, None, None, None, None, None, None))
    if extra:
        # control rows append as their own (tiny) segment file
        spark.createDataFrame(extra, CHANGE_EVENT_SCHEMA).coalesce(1)\
            .write.mode("append").parquet(out_dir)
    # control sidecar + coverage watermark: the R/DDL rows are already on
    # the driver, so mirror them under _control/ — replaying a relayed log
    # then takes the same O(control-rows) fast path as a generated one
    # instead of full-scanning the log for its handful of control rows
    if extra:
        ctl_dir = os.path.join(out_dir, "_control")
        os.makedirs(ctl_dir, exist_ok=True)
        spark.createDataFrame(extra, CHANGE_EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(ctl_dir)
        from tiflow_spark.engine import write_control_coverage

        write_control_coverage(out_dir)
    return out_dir
