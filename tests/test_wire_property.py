"""Property-based round-trips for the binary MQ wire codecs: arbitrary
unicode payloads and boundary integers through JVM-expression encode →
Python decode must survive byte-exactly. Catches the class of bug the
octet-length fix closed (char-vs-byte framing) for inputs no fixture
enumerates."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# printable-ish unicode incl. multi-byte planes; no surrogates (invalid UTF-8)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), min_codepoint=1),
    min_size=0, max_size=80,
)
# seq, op, commit_ts, start_ts, schema_version, conv_id (non-null), turn_idx
_head = (
    st.integers(min_value=0, max_value=2**40),
    st.sampled_from(["I", "U", "D"]),
    st.integers(min_value=0, max_value=2**42),
    st.one_of(st.none(), st.integers(min_value=0, max_value=2**42)),
    st.one_of(st.none(), st.integers(min_value=0, max_value=1000)),
    _text.filter(lambda s: len(s) > 0),
    st.integers(min_value=0, max_value=2**31 - 1),
)
_tbl = st.one_of(st.none(), _text.filter(lambda s: len(s) > 0))
_event = st.tuples(
    *_head,
    st.one_of(st.none(), _text),                        # payload
    st.one_of(st.none(), _text),                        # pre_payload
    _tbl,
)
# the versioned Avro wire's payloads are JSON rows of its registry fields
_row = st.one_of(st.none(), st.fixed_dictionaries({
    "n": st.one_of(st.none(), st.integers(min_value=-2**40, max_value=2**40)),
    "s": st.one_of(st.none(), _text),
    "at": st.one_of(st.none(), st.datetimes().map(lambda d: d.isoformat())),
}))
_avro_event = st.tuples(*_head, _row, _row, _tbl)

_SCHEMA = (
    "seq long, op string, commit_ts long, start_ts long, schema_version int, "
    "conv_id string, turn_idx int, payload string, pre_payload string, "
    "ddl string, partition_hint int, tbl string"
)


def _df(spark, events):
    rows = [(s, op, cts, sts, sv, cid, ti, p, pp, None, None, tbl)
            for (s, op, cts, sts, sv, cid, ti, p, pp, tbl) in events]
    return spark.createDataFrame(rows, _SCHEMA)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(_avro_event, min_size=1, max_size=12))
def test_avro_wire_property(spark, events):
    """Versioned Avro under a registry with an integral, a string and a
    timestamp field: every envelope field and every payload field value
    (nulls, arbitrary unicode, 2^40-range integers of either sign) come
    back off the wire."""
    import json

    from tests.helpers import avro_roundtrip

    def text(row):
        return None if row is None else json.dumps(row)

    rows = [e[:7] + (text(e[7]), text(e[8]), e[9]) for e in events]
    for (_, got), want in zip(avro_roundtrip(_df(spark, rows)), events):
        assert (got.seq, got.op, got.commit_ts, got.start_ts) == want[:4]
        assert (got.conv_id, got.turn_idx, got.tbl) == (want[5], want[6], want[9])
        assert got.schema_version == 1  # the one registry version
        assert json.loads(got.payload or "null") == want[7]
        assert json.loads(got.pre_payload or "null") == want[8]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(_event, min_size=1, max_size=8))
def test_canal_pb_wire_property(spark, events):
    from tiflow_spark.sinks.mq import _canal_pb_parse_row, canal_pb_envelope

    # model invariant: a DELETE has no post-image — the canal wire routes a
    # delete's image into beforeColumns ONLY (canal.go buildRowData), so a
    # degenerate D-with-payload has no slot on the wire by design
    events = [e[:7] + (None if e[1] == "D" else e[7],) + e[8:] for e in events]
    out = canal_pb_envelope()(_df(spark, events)).collect()
    for r, want in zip(out, events):
        (seq, op, cts, sts, sv, cid, ti, p, pp, _d, _h, tbl) = \
            _canal_pb_parse_row(r["envelope"])
        assert (op, cts, cid, ti, p, pp) == (
            want[1], want[2], want[5], want[6], want[7], want[8])
        assert tbl == (want[9] or "transcripts")


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(_event, min_size=1, max_size=8))
def test_craft_wire_property(spark, events):
    from tiflow_spark.sinks.mq import _craft_parse_row, craft_envelope

    out = craft_envelope()(_df(spark, events)).collect()
    for r, want in zip(out, events):
        (seq, op, cts, sts, sv, cid, ti, p, pp, _d, _h, tbl) = \
            _craft_parse_row(r["envelope"])
        assert (op, cts, cid, ti, p, pp) == (
            want[1], want[2], want[5], want[6], want[7], want[8])
        assert tbl == (want[9] or "transcripts")
