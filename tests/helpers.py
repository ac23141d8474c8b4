"""Hand-crafted fixture builders + engine↔oracle comparison."""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_COLS = [
    ("seq", pa.int64()),
    ("op", pa.string()),
    ("commit_ts", pa.int64()),
    ("start_ts", pa.int64()),
    ("schema_version", pa.int32()),
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("payload", pa.string()),
    ("pre_payload", pa.string()),
    ("ddl", pa.string()),
    ("partition_hint", pa.int32()),
    ("tbl", pa.string()),
]


def ev(seq, op, cts, conv=None, turn=None, payload=None, ddl=None, start_ts=None,
       ver=1, tbl=None):
    return {
        "seq": seq,
        "op": op,
        "commit_ts": cts,
        "start_ts": start_ts if start_ts is not None else cts - 1,
        "schema_version": ver if op in ("I", "U") else None,
        "conv_id": conv,
        "turn_idx": turn,
        "payload": json.dumps(payload) if isinstance(payload, dict) else payload,
        "pre_payload": None,
        "ddl": json.dumps(ddl) if isinstance(ddl, dict) else ddl,
        "partition_hint": None,
        "tbl": tbl,
    }


def pl(text, role="user", tool=None, ts="2024-01-01T00:00:00", **extra):
    d = {"role": role, "text": text, "tool": tool, "ts": ts}
    d.update(extra)
    return d


BASE_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),  # explicit: an all-None column must not infer null-type
        ("ts", pa.timestamp("us")),  # Spark cannot read TIMESTAMP(NANOS)
    ]
)


def write_base(base_fp, base_rows):
    """Write a base-snapshot parquet (transcript v1 schema) to ``base_fp``."""
    os.makedirs(os.path.dirname(base_fp), exist_ok=True)
    bdf = pd.DataFrame(
        base_rows or [], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    bdf["ts"] = pd.to_datetime(bdf["ts"])
    pq.write_table(
        pa.Table.from_pandas(bdf, schema=BASE_SCHEMA, preserve_index=False),
        base_fp,
    )
    return base_fp


def write_log(log_dir, events, final_resolved=True, control_sidecar=True):
    """Write a changefeed log parquet; appends a covering final R row.
    Also writes the log/_control sidecar (R+DDL rows) unless disabled —
    tests that append raw segments later exercise the fallback scan."""
    os.makedirs(log_dir, exist_ok=True)
    events = list(events)
    if final_resolved:
        max_ts = max(e["commit_ts"] for e in events)
        events.append(ev(10_000_000 + len(events), "R", max_ts))
    schema = pa.schema(EVENT_COLS)
    table = pa.Table.from_pylist(events, schema=schema)
    pq.write_table(table, os.path.join(log_dir, "changefeed-00000.parquet"))
    if control_sidecar:
        ctl = [e for e in events if e["op"] in ("R", "DDL")]
        ctl_dir = os.path.join(log_dir, "_control")
        os.makedirs(ctl_dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(ctl, schema=schema),
            os.path.join(ctl_dir, "control-00000.parquet"),
        )
        from tiflow_spark.engine import write_control_coverage

        write_control_coverage(log_dir)
    return log_dir


def write_feed(tmp_path, events, base_rows=None, final_resolved=True,
               control_sidecar=True):
    """Write base/transcripts.parquet + log/changefeed parquet; returns paths."""
    base_fp = write_base(
        os.path.join(str(tmp_path), "base", "transcripts.parquet"), base_rows
    )
    log_dir = write_log(
        os.path.join(str(tmp_path), "log"), events,
        final_resolved=final_resolved, control_sidecar=control_sidecar,
    )
    return base_fp, log_dir


def normalize_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for comparison: sorted by key, None-normalized nulls,
    second-resolution timestamps as ISO strings."""
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].dt.strftime("%Y-%m-%dT%H:%M:%S")
    out = out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return out.astype(object).where(pd.notnull(out), None)


def assert_tables_equal(actual: pd.DataFrame, expected: pd.DataFrame):
    a, e = normalize_pdf(actual), normalize_pdf(expected)
    assert list(a.columns) == list(e.columns), f"{list(a.columns)} != {list(e.columns)}"
    assert len(a) == len(e), f"row count {len(a)} != {len(e)}"
    pd.testing.assert_frame_equal(a, e, check_dtype=False)


# an integral, a string and a timestamp payload field: one field per kind of
# value the versioned Avro wire carries (long / string / raw JSON lexeme)
AVRO_FIELDS = [(1, "n", "bigint", None), (2, "s", "string", None),
               (3, "at", "timestamp", None)]


def avro_roundtrip(df, fields=AVRO_FIELDS):
    """Encode change-event rows with ``avro_envelope_versioned`` under a
    one-version registry of ``fields`` and decode the messages back with
    the relay's ``_decode_avro``: ``(input Row + envelope, decoded Row)``
    pairs."""
    from tiflow_spark.registry import SchemaRegistry
    from tiflow_spark.sinks.mq import (
        _decode_avro, avro_envelope_versioned, register_avro_schemas,
    )

    registry = SchemaRegistry.initial(fields)
    ids: dict = {}
    schemas: dict = {}
    register_avro_schemas(registry, ids, schemas)
    rows = avro_envelope_versioned(registry, ids)(df).collect()
    msgs = df.sparkSession.createDataFrame(
        [(r["envelope"],) for r in rows], "value string")
    state = {"avro_ids": ids, "avro_schemas": schemas}
    return list(zip(rows, _decode_avro(msgs, state).collect()))
