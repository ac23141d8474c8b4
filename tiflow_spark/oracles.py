"""ANSI-SQL oracles (DuckDB dialect) — one per entry in queries.QUERIES.

Each statement recomputes its Spark query's result bit-exactly on the same
parquet tables (views: events, documents, embeddings, ...). Signature hashes
are md5-derived (identical across engines); floating-point paths use
double-precision left-to-right sums, matching Spark's zip_with/aggregate
evaluation order, and are rounded before comparison/ranking.

Long repetitive statements (minhash/simhash, the binary MQ wires) are
generated programmatically.
"""

from __future__ import annotations

_FEED = """
  SELECT CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op,
         event_id AS commit_ts, event_id AS start_ts, event_id AS seq,
         user_id, event_id, event_type, value, ts
  FROM events
"""

_COS = (
    "round(list_inner_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_inner_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " * sqrt(list_inner_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
)

_SHINGLES = """
  toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
    FROM (SELECT doc_id, tk,
                 unnest(range(1, greatest(len(tk) - 2, 1) + 1)) AS i
          FROM toks))
"""


# ------------------------------------------------------------ MQ wires
# DuckDB mirrors of the MQ sink's envelopes (sinks/mq.py), each written once
# over _CHANGE, the same change-event projection of ``events`` as
# queries.events_as_change_events. Binary wires are lowercase hex, staged
# through CTEs so a length prefix refers to an already-built column.

_CHANGE = f"""
  SELECT event_id, seq, op, commit_ts, start_ts, 1 AS schema_version,
         CAST(user_id AS VARCHAR) AS conv_id, 0 AS turn_idx,
         CASE WHEN op <> 'D' THEN '{{"user_id":' || CAST(user_id AS VARCHAR)
              || ',"event_type":"' || event_type || '"}}' END AS payload,
         CASE WHEN op <> 'I' THEN '{{"user_id":' || CAST(user_id AS VARCHAR)
              || '}}' END AS pre_payload,
         event_type AS tbl
  FROM ({_FEED})
"""


def _json_obj(*fields: tuple[str, str]) -> str:
    """JSON object text the way Spark's ``to_json`` writes a struct: fields
    in order, a NULL-valued field omitted (``'"k":' || NULL`` is NULL and
    concat_ws skips it). Each value is an expression yielding JSON text."""
    parts = ", ".join(f"""'"{k}":' || {v}""" for k, v in fields)
    return f"'{{' || concat_ws(',', {parts}) || '}}'"


def _js(e: str) -> str:
    """A string expression as a JSON string literal."""
    return f"to_json({e})::VARCHAR"


def _jn(e: str) -> str:
    """A numeric expression as a JSON number."""
    return f"CAST({e} AS VARCHAR)"


_OP_NAMES = "CASE op WHEN 'I' THEN '{}' WHEN 'D' THEN '{}' ELSE '{}' END"
# canal EventType / craft event type: INSERT=1, UPDATE=2, DELETE=3
_ETYPE = "CASE op WHEN 'I' THEN 1 WHEN 'D' THEN 3 ELSE 2 END"
_TBL = "coalesce(tbl, 'transcripts')"
_ROW = _json_obj(("conv_id", _js("conv_id")), ("turn_idx", _jn("turn_idx")),
                 ("payload", _js("payload")))
_OLD = _json_obj(("payload", _js("pre_payload")))

_OPEN_JSON = _json_obj(
    ("t", _js("op")), ("ts", _jn("commit_ts")), ("sts", _jn("start_ts")),
    ("seq", _jn("seq")), ("conv_id", _js("conv_id")),
    ("turn_idx", _jn("turn_idx")), ("payload", _js("payload")),
    ("pre_payload", _js("pre_payload")), ("v", _jn("schema_version")),
)
_MAXWELL = _json_obj(
    ("database", "'\"app\"'"), ("table", _js(_TBL)),
    ("type", _js(_OP_NAMES.format("insert", "delete", "update"))),
    ("ts", _jn("commit_ts")), ("data", _ROW),
    ("old", f"CASE WHEN pre_payload IS NOT NULL THEN {_OLD} END"),
)
_CANAL_JSON = _json_obj(
    ("id", _jn("seq")), ("database", "'\"app\"'"), ("table", _js(_TBL)),
    ("type", _js(_OP_NAMES.format("INSERT", "DELETE", "UPDATE"))),
    ("es", _jn("commit_ts")), ("ts", _jn("commit_ts")),
    ("data", f"'[' || {_ROW} || ']'"),
    ("old", f"CASE WHEN pre_payload IS NOT NULL THEN '[' || {_OLD} || ']' END"),
)


def _septet_sql(v: str, i: int) -> str:
    sept = f"((({v}) >> {7 * i}) & 127)"
    more = f"((({v}) >> {7 * (i + 1)}) > 0)"
    byte = f"({sept} + CASE WHEN {more} THEN 128 ELSE 0 END)"
    cond = "TRUE" if i == 0 else f"(({v}) >= {1 << (7 * i)})"
    return f"CASE WHEN {cond} THEN printf('%02x', {byte}) ELSE '' END"


def _uv(v: str, septets: int = 9) -> str:
    """Base-128 varint of a nonnegative expr as lowercase hex, unrolled to
    the Spark side's widths: 9 septets for data values, 5 for lengths,
    counts and refs."""
    return " || ".join(_septet_sql(v, i) for i in range(septets))


def _uv_rev(v: str, septets: int = 9) -> str:
    """Craft's reversed uvarint: the same bytes, highest septet first."""
    return " || ".join(_septet_sql(v, i) for i in reversed(range(septets)))


def _zz(e: str, septets: int = 9) -> str:
    """Zigzag varint of a possibly-negative expr."""
    return _uv(f"(CASE WHEN ({e}) >= 0 THEN ({e}) * 2 ELSE -({e}) * 2 - 1 END)",
               septets)


def _hexlen(h: str) -> str:
    return f"(length({h}) // 2)"


def _wire_select(cte: str) -> str:
    """Key, envelope and its md5 over a CTE chain ending in ``enc``."""
    return (f"WITH change AS ({_CHANGE}),\n{cte}\n"
            "SELECT event_id, envelope, md5(envelope) AS envelope_md5 FROM enc")


def _json_wire_sql(envelope: str) -> str:
    return _wire_select(f"enc AS (SELECT event_id, {envelope} AS envelope"
                        " FROM change)")


def _avro_sql() -> str:
    """Versioned Avro under the one-version registry of cdc_encode_avro:
    schema id 1 (the first id the registry assigns), then the change
    envelope and the typed Row record (user_id long, event_type string)."""

    def s(x):
        return f"{_uv(f'strlen({x}) * 2', 5)} || lower(hex({x}))"

    def opt(x, enc):
        return f"CASE WHEN {x} IS NULL THEN '00' ELSE '02' || {enc} END"

    def row(src, p):
        uid, et = p + "_uid", p + "_et"
        fields = f"{opt(uid, _zz(uid))} || {opt(et, s(et))}"
        return f"CASE WHEN {src} IS NULL THEN '00' ELSE '02' || {fields} END"

    envelope = " || ".join([
        "'0000000001'", _zz("seq"), s("op"), _zz("commit_ts"),
        opt("start_ts", _zz("start_ts")), s("conv_id"), _zz("turn_idx"),
        row("payload", "p"), row("pre_payload", "q"), opt("tbl", s("tbl")),
    ])
    return _wire_select(
        "f AS (SELECT *,"
        " CAST(json_extract_string(payload, '$.user_id') AS BIGINT) AS p_uid,"
        " json_extract_string(payload, '$.event_type') AS p_et,"
        " CAST(json_extract_string(pre_payload, '$.user_id') AS BIGINT) AS q_uid,"
        " json_extract_string(pre_payload, '$.event_type') AS q_et"
        " FROM change),\n"
        f"enc AS (SELECT event_id, {envelope} AS envelope FROM f)"
    )


def _canal_pb_sql() -> str:
    """Canal protobuf: header and Column-message bodies first, then RowData
    (a DELETE's image in beforeColumns only), then the framed Entry."""

    def pb_str(tag, x):
        return f"'{tag:02x}' || {_uv(f'strlen({x})', 5)} || lower(hex({x}))"

    def pb_msg(tag, h):
        return f"'{tag:02x}' || {_uv(_hexlen(h), 5)} || {h}"

    def col(idx, name, value):
        return (f"'08' || {_uv(str(idx), 5)} || {pb_str(0x12, repr(name))}"
                f" || {pb_str(0x1A, value)}")

    def image(tag, cols):
        return " || ".join(
            f"CASE WHEN {v} IS NULL THEN '' ELSE {pb_msg(tag, c)} END"
            for c, v in cols
        )

    header = " || ".join([
        pb_str(0x0A, "'app'"), pb_str(0x12, _TBL),
        "'18'", _uv("commit_ts"),
        "'20'", _uv(_ETYPE, 5),
    ])
    key = [("c_conv", "conv_id"), ("c_turn", "turn_idx")]
    before = image(0x0A, key + [("c_pre", "pre_payload")])
    after = image(0x12, key + [("c_pay", "payload")])
    rowdata = (f"CASE WHEN op = 'D' THEN {before} ELSE "
               f"{image(0x0A, [('c_pre', 'pre_payload')])} END || "
               f"CASE WHEN op = 'D' THEN '' ELSE {after} END")
    return _wire_select(
        f"c AS (SELECT *, {header} AS hdr,"
        f" {col(0, 'conv_id', 'conv_id')} AS c_conv,"
        f" {col(1, 'turn_idx', 'CAST(turn_idx AS VARCHAR)')} AS c_turn,"
        f" {col(2, 'payload', 'payload')} AS c_pay,"
        f" {col(2, 'payload', 'pre_payload')} AS c_pre FROM change),\n"
        f"r AS (SELECT event_id, hdr, {rowdata} AS rowdata FROM c),\n"
        f"e AS (SELECT event_id, {pb_msg(0x0A, 'hdr')} || '1000' || "
        f"{pb_msg(0x1A, 'rowdata')} AS entry FROM r),\n"
        f"enc AS (SELECT event_id, {_uv(_hexlen('entry'))} || entry"
        " AS envelope FROM e)"
    )


def _craft_sql() -> str:
    """Craft: header, new/old column groups and term dictionary first, then
    the size tables over their byte lengths, then the reversed trailer."""
    header = " || ".join([
        _uv("1", 5), _uv("commit_ts"),
        _uv(_ETYPE, 5),
        _zz("0", 5), _zz("1", 5),
    ])
    g1 = " || ".join([
        "'01'", _uv("3", 5), _zz("2", 5), _zz("1", 5), _zz("1", 5), "'0f080f'",
        "CASE WHEN payload IS NULL THEN '04' ELSE '00' END",
        _uv(_hexlen("conv_hex"), 5), _uv(_hexlen("turn_hex"), 5),
        _uv(_hexlen("pay_hex"), 5), "conv_hex", "turn_hex", "pay_hex",
    ])
    g2 = " || ".join([
        "'02'", _uv("1", 5), _zz("4", 5), "'0f'",
        "CASE WHEN pre_payload IS NULL THEN '01' ELSE '00' END",
        _uv(_hexlen("pre_hex"), 5), "pre_hex",
    ])
    terms = ["'app'", _TBL, "'conv_id'", "'turn_idx'", "'payload'"]
    dic = " || ".join(
        [_uv("5", 5)] + [_uv(f"strlen({t})", 5) for t in terms]
        + [f"lower(hex({t}))" for t in terms]
    )
    tables = " || ".join([
        _uv("2", 5), _zz(_hexlen("hdr"), 5),
        _zz(f"{_hexlen('dic')} - {_hexlen('hdr')}", 5),
        _uv("1", 5), _zz(f"{_hexlen('g1')} + {_hexlen('g2')}", 5),
        _uv("2", 5), _zz(_hexlen("g1"), 5), _zz(_hexlen("g2"), 5),
    ])
    return _wire_select(
        "h AS (SELECT *, lower(hex(conv_id)) AS conv_hex,"
        f" {_zz('CAST(turn_idx AS BIGINT)')} AS turn_hex,"
        " coalesce(lower(hex(payload)), '') AS pay_hex,"
        " coalesce(lower(hex(pre_payload)), '') AS pre_hex FROM change),\n"
        f"p AS (SELECT event_id, {header} AS hdr, {g1} AS g1, {g2} AS g2,"
        f" {dic} AS dic FROM h),\n"
        f"t AS (SELECT *, {tables} AS tbls FROM p),\n"
        "enc AS (SELECT event_id, '01' || hdr || g1 || g2 || dic || tbls || "
        f"{_uv_rev(_hexlen('tbls'), 5)} AS envelope FROM t)"
    )


_MQ_DISPATCH = f"""
WITH change AS ({_CHANGE}),
enc AS (
  SELECT *, {_OPEN_JSON} AS envelope,
         ((ascii(substr(md5(conv_id || '|' || CAST(turn_idx AS VARCHAR)), 1, 1)) * 256
         + ascii(substr(md5(conv_id || '|' || CAST(turn_idx AS VARCHAR)), 2, 1))) % 8)
           AS "partition"
  FROM change)
SELECT "partition",
       CAST(row_number() OVER (
         PARTITION BY "partition"
         ORDER BY commit_ts, CASE WHEN op = 'D' THEN 0 ELSE 1 END,
                  start_ts, seq) - 1 AS BIGINT) AS "offset",
       envelope, md5(envelope) AS envelope_md5
FROM enc
"""


_JACCARD_CTES = f"""{_SHINGLES},
  sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
  inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
  jp AS (
    SELECT doc_a, doc_b, n_inter, jaccard FROM (
      SELECT doc_a, doc_b, n_inter,
             round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
    WHERE jaccard >= 0.5)
"""


def _minhash_sql(k: int = 16, bands: int = 4, pair_pred: str = "") -> str:
    # identical hash family as the Spark side — parameters imported from the
    # implementation so the two can never drift
    from tiflow_spark.functions.dedup import MINHASH_P, minhash_params

    rows = k // bands
    mins = ",\n    ".join(
        f"min(({a} * h30 + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(k))
    )
    band_cases = "\n      ".join(
        f"WHEN {b} THEN md5("
        + " || '|' || ".join(f"CAST(mh{b*rows+r} AS VARCHAR)" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    eqs = ",\n      ".join(
        f"CAST(a.mh{i} = b.mh{i} AS INTEGER) AS eq{i}" for i in range(k)
    )
    esum = " + ".join(f"eq{i}" for i in range(k))
    return f"""
WITH {_SHINGLES},
hs AS (
  SELECT doc_id,
         CAST((((ascii(substr(h, 1, 1)) * 256 + ascii(substr(h, 2, 1))) % 16384)
               * 65536
               + (ascii(substr(h, 3, 1)) * 256 + ascii(substr(h, 4, 1))))
              AS BIGINT) AS h30
  FROM (SELECT doc_id, md5(shingle) AS h FROM sh)),
sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id),
banded AS (
  SELECT sig.*, b.band_idx,
    CASE b.band_idx
      {band_cases}
    END AS band_hash
  FROM sig, (VALUES (0), (1), (2), (3)) b(band_idx)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      {eqs}
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id{pair_pred})
SELECT doc_a, doc_b, CAST({esum} AS INTEGER) AS matching_minhashes,
       ({esum}) / 16.0 AS est_jaccard
FROM cand
"""


def _simhash_sql(bits: int = 64, max_hamming: int = 3, n_chunks: int = 4) -> str:
    width = bits // n_chunks

    def digit(d: int) -> str:
        src, pos = ("h1", d) if d < 32 else ("h2", d - 32)
        return f"strpos('0123456789abcdef', substr({src}, {pos + 1}, 1)) - 1"

    sums = ",\n    ".join(
        f"sum(CASE WHEN {digit(d)} >= 8 THEN 1 ELSE -1 END) AS s{d}"
        for d in range(bits)
    )
    fp = " || ".join(
        f"(CASE WHEN s{d} >= 0 THEN '1' ELSE '0' END)" for d in range(bits)
    )
    chunks = ", ".join(
        f"substr(simhash, {c * width + 1}, {width}) AS chunk{c}" for c in range(n_chunks)
    )
    chunk_or = " OR ".join(f"a.chunk{c} = b.chunk{c}" for c in range(n_chunks))
    ham = " + ".join(
        f"(CASE WHEN substr(sig_a, {d + 1}, 1) <> substr(sig_b, {d + 1}, 1)"
        f" THEN 1 ELSE 0 END)"
        for d in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h1, md5('x:' || tok) AS h2 FROM toks),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {fp} AS simhash FROM sums),
sigc AS (SELECT doc_id, simhash, {chunks} FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM sigc a JOIN sigc b ON a.doc_id < b.doc_id AND ({chunk_or}))
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST({ham} AS INTEGER) AS hamming FROM cand)
WHERE hamming <= {max_hamming}
"""


ORACLES: dict[str, str] = {
    "cdc_lww_replay": f"""
WITH feed AS ({_FEED}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id
    ORDER BY commit_ts DESC, CASE WHEN op = 'D' THEN 0 ELSE 1 END DESC,
             start_ts DESC, seq DESC) AS rn
  FROM feed)
SELECT user_id, event_id AS last_event_id, event_type AS last_type,
       value AS last_value
FROM ranked WHERE rn = 1 AND op <> 'D'
""",
    "cdc_canonical_order": f"""
WITH feed AS ({_FEED})
SELECT rn, event_id, op FROM (
  SELECT CAST(row_number() OVER (
           ORDER BY ts, CASE WHEN op = 'D' THEN 0 ELSE 1 END, seq) AS BIGINT) AS rn,
         event_id, op
  FROM feed)
WHERE rn <= 500
""",
    "cdc_update_split": f"""
WITH feed AS ({_FEED})
SELECT op, 0 AS split_pos, user_id, event_id, value
FROM feed WHERE event_type <> 'purchase'
UNION ALL
SELECT 'D', 0, user_id, event_id, value FROM feed WHERE event_type = 'purchase'
UNION ALL
SELECT 'I', 1, user_id + 1000000, event_id, value
FROM feed WHERE event_type = 'purchase'
""",
    "cdc_watermark_cut": f"""
WITH feed AS ({_FEED})
SELECT op, count(*) AS n_events, min(commit_ts) AS min_ts,
       max(commit_ts) AS max_ts
FROM feed WHERE commit_ts > 2000 AND commit_ts <= 8000
GROUP BY op
""",
    "cdc_partition_frontier": f"""
WITH feed AS ({_FEED}),
per_part AS (
  SELECT CAST(user_id % 32 AS INTEGER) AS "partition",
         max(commit_ts) AS max_ts, count(*) AS applied_events
  FROM feed GROUP BY 1)
SELECT "partition", max_ts, applied_events,
       (SELECT min(max_ts) FROM per_part) AS frontier_ts
FROM per_part
""",
    "cdc_filter_rules": f"""
WITH feed AS ({_FEED})
SELECT op, event_type, count(*) AS n
FROM feed
WHERE NOT COALESCE(op = 'D', FALSE)
  AND NOT COALESCE(start_ts IN (1, 2, 3, 100), FALSE)
  AND NOT COALESCE(event_type = 'click' AND value < 0.5, FALSE)
GROUP BY op, event_type
""",
    "cdc_expr_filter_per_op": f"""
WITH feed AS ({_FEED}),
pre AS (SELECT *, value / 2 AS pre_value FROM feed)
SELECT op, count(*) AS n,
       CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM pre
WHERE NOT COALESCE((op = 'I' AND value < 0.1)
        OR (op = 'U' AND pre_value > 0.45 AND value > 0.93)
        OR (op = 'D' AND start_ts < 2000), FALSE)
GROUP BY op
""",
    "cdc_sql_pattern_filter": f"""
WITH feed AS ({_FEED}),
ddl AS (
  SELECT CASE WHEN op = 'I' THEN 'DDL' ELSE op END AS op, event_id,
         CASE WHEN op = 'I' THEN 'ALTER TABLE transcripts ADD COLUMN col_'
              || CAST(event_id % 7 AS VARCHAR) || ' string' END AS stmt
  FROM feed
)
SELECT op, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_event_id
FROM ddl
WHERE NOT COALESCE(op = 'DDL'
        AND (regexp_matches(stmt, 'add column COL_[0-2]', 'i')
          OR regexp_matches(stmt, '^TRUNCATE TABLE', 'i')), FALSE)
GROUP BY op
""",
    "cdc_txn_group": f"""
WITH feed AS ({_FEED})
SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS txn_day,
       count(*) AS n_rows, max(commit_ts) AS max_ts,
       CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM feed GROUP BY 1, 2
""",
    "cdc_salted_dispatch": f"""
WITH feed AS ({_FEED}),
b AS (
  SELECT ((ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) * 256
         + ascii(substr(md5(CAST(user_id AS VARCHAR)), 2, 1))) % 32) AS bucket,
         ((((ascii(substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) * 256
         + ascii(substr(md5(CAST(event_id AS VARCHAR)), 2, 1))) % 997)) % 4) AS salt
  FROM feed)
SELECT bucket, salt, count(*) AS n FROM b GROUP BY 1, 2
""",
    "cdc_schema_asof": """
SELECT CASE WHEN event_id - 1 >= 7000 THEN 3
            WHEN event_id - 1 >= 3000 THEN 2
            ELSE 1 END AS ver,
       count(*) AS n, min(event_id) AS min_ts, max(event_id) AS max_ts
FROM events GROUP BY 1
""",
    "cdc_table_router": f"""
WITH feed AS ({_FEED}),
named AS (
  SELECT *, (CASE WHEN event_type IN ('click', 'view') THEN 'app'
                  WHEN event_type = 'purchase' THEN 'shop'
                  ELSE 'sys' END) || '.' || event_type AS src_table
  FROM feed)
SELECT src_table, 'tgt.' || event_type AS target_table, 'cf-1' AS source_id,
       count(*) AS n
FROM named
WHERE src_table LIKE 'app.%' OR src_table LIKE 'shop.%'
GROUP BY 1, 2, 3
""",
    "cdc_multi_table": f"""
WITH feed AS ({_FEED}),
routed AS (
  SELECT *, CASE WHEN event_type IN ('click', 'view') THEN 't_app'
                 WHEN event_type = 'purchase' THEN 't_shop' END AS target_table
  FROM feed),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY target_table, user_id
    ORDER BY commit_ts DESC, CASE WHEN op = 'D' THEN 0 ELSE 1 END DESC,
             start_ts DESC, seq DESC) AS rn
  FROM routed WHERE target_table IS NOT NULL)
SELECT target_table, user_id, event_id AS last_event_id,
       event_type AS last_type
FROM ranked WHERE rn = 1 AND op <> 'D'
""",
    "cdc_old_value": f"""
WITH feed AS ({_FEED})
SELECT user_id, event_id, op, value,
       lag(value) OVER w AS pre_value,
       lag(event_id) OVER w AS pre_event_id
FROM feed WHERE user_id % 10 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY commit_ts)
""",
    "cdc_cyclic_filter": f"""
WITH feed AS ({_FEED}),
marks AS (
  SELECT DISTINCT start_ts, CAST(start_ts % 7 AS INTEGER) AS replica_id
  FROM feed WHERE start_ts % 3 = 0),
joined AS (
  SELECT f.*, m.replica_id
  FROM feed f LEFT JOIN marks m USING (start_ts))
SELECT coalesce(replica_id, -1) AS origin_replica, count(*) AS n,
       max(commit_ts) AS max_ts
FROM joined
WHERE replica_id IS NULL OR replica_id NOT IN (0, 3)
GROUP BY 1
""",
    "cdc_validate_checksum": f"""
WITH feed AS ({_FEED}),
d AS (
  SELECT ((ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) * 256
         + ascii(substr(md5(CAST(user_id AS VARCHAR)), 2, 1))) % 16) AS bucket,
         (ascii(substr(h, 1, 1)) * 256 + ascii(substr(h, 2, 1))) AS digest
  FROM (SELECT user_id,
               md5(concat_ws('|', coalesce(CAST(user_id AS VARCHAR), ''),
                             coalesce(CAST(event_id AS VARCHAR), ''),
                             coalesce(op, ''), coalesce(event_type, ''),
                             coalesce(nullif(event_type, 'click'), ''))) AS h
        FROM feed))
SELECT bucket, count(*) AS n_rows, CAST(sum(digest) AS BIGINT) AS checksum
FROM d GROUP BY 1
""",
    "cdc_encode_json": _json_wire_sql(_OPEN_JSON),
    "cdc_encode_maxwell": _json_wire_sql(_MAXWELL),
    "cdc_encode_canal": _json_wire_sql(_CANAL_JSON),
    "cdc_encode_avro": _avro_sql(),
    "cdc_encode_canal_pb": _canal_pb_sql(),
    "cdc_encode_craft": _craft_sql(),
    "cdc_mq_dispatch": _MQ_DISPATCH,
    "cdc_batch_reduce": f"""
WITH feed AS ({_FEED}),
b AS (
  SELECT *, ((ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) * 256
            + ascii(substr(md5(CAST(user_id AS VARCHAR)), 2, 1))) % 8) AS bucket
  FROM feed),
rn AS (
  SELECT bucket, commit_ts,
         row_number() OVER (PARTITION BY bucket ORDER BY commit_ts, seq) AS rn
  FROM b)
SELECT bucket, CAST((rn - 1) // 256 AS INTEGER) AS batch_id,
       count(*) AS n_rows, min(commit_ts) AS min_ts, max(commit_ts) AS max_ts
FROM rn GROUP BY 1, 2
""",
    "cdc_lineage": f"""
WITH feed AS ({_FEED}),
b AS (
  SELECT ((ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) * 256
         + ascii(substr(md5(CAST(user_id AS VARCHAR)), 2, 1))) % 32) AS bucket,
         commit_ts
  FROM feed)
SELECT bucket, CAST(count(*) AS BIGINT) AS applied_events,
       max(commit_ts) AS max_commit_ts
FROM b GROUP BY 1
""",
    "cdc_syncpoint": f"""
WITH feed AS ({_FEED})
SELECT CAST(floor(commit_ts / 1000) AS BIGINT) AS interval_id,
       max(commit_ts) AS primary_ts, count(*) AS events_in_interval
FROM feed GROUP BY 1
""",
    "dedup_exact": """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
""",
    "dedup_ngram_jaccard": f"""
WITH {_JACCARD_CTES}
SELECT doc_a, doc_b, n_inter, jaccard FROM jp
""",
    "dedup_clusters": f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (SELECT doc_a AS u, doc_b AS v FROM jp
          UNION SELECT doc_b, doc_a FROM jp),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         FROM reach GROUP BY u),
assigned AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id))
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       doc_id = cluster_id AS is_keeper
FROM assigned
""",
    "dedup_minhash_lsh": _minhash_sql(),
    # incremental ingest dedup: same hash family / banding as the full run,
    # restricted to pairs touching the arriving batch (doc_id % 10 == 0) —
    # the batch-vs-corpus pair set equals the full pair set filtered to
    # batch-touching pairs, which is exactly what the Spark side computes
    # without ever re-pairing base×base
    "dedup_incremental": _minhash_sql(
        pair_pred=" AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)"
    ),
    "dedup_simhash": _simhash_sql(),
    "dedup_embedding": f"""
SELECT vec_a, vec_b, cos FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_COS.format(a="a.embedding", b="b.embedding")} AS cos
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
WHERE cos >= 0.4
""",
    "ann_cosine_topk": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         {_COS.format(a="q_emb", b="e.embedding")} AS cos
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS "rank"
  FROM scored)
SELECT query_id, neighbor_id, "rank", cos FROM ranked WHERE "rank" <= 10
""",
    "ann_ivf_topk": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_cell
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         {_COS.format(a="q_emb", b="e.embedding")} AS cos
  FROM q JOIN embeddings e ON e.label = q.q_cell AND e.vec_id <> q.query_id),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS "rank"
  FROM scored)
SELECT query_id, neighbor_id, "rank", cos FROM ranked WHERE "rank" <= 10
""",
    "ann_ivf_fresh": f"""
WITH per_dim AS (
  SELECT label, r.i AS i, avg(embedding[r.i]::DOUBLE) AS m
  FROM embeddings CROSS JOIN range(1, 65) r(i)
  GROUP BY 1, 2),
cent AS (SELECT label AS cell, list(m ORDER BY i) AS centroid
         FROM per_dim GROUP BY 1),
q AS (SELECT vec_id AS query_id, embedding AS q_emb
      FROM embeddings WHERE vec_id < 5),
pr AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell, row_number() OVER (
      PARTITION BY query_id
      ORDER BY {_COS.format(a="q_emb", b="centroid")} DESC, cell ASC)
      AS probe_rank
    FROM q CROSS JOIN cent)
  WHERE probe_rank <= 2),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         {_COS.format(a="q_emb", b="e.embedding")} AS cos
  FROM q JOIN pr USING (query_id)
  JOIN embeddings e ON e.label = pr.cell AND e.vec_id <> query_id),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER)
    AS "rank"
  FROM scored)
SELECT query_id, neighbor_id, "rank", cos FROM ranked WHERE "rank" <= 10
""",
    "text_stats": """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
  CAST(floor(1000.0 * len(list_distinct(string_split(text, ' ')))
             / len(string_split(text, ' '))) AS BIGINT) AS ttr_permille,
  CAST(list_aggregate(list_transform(string_split(text, ' '), t -> length(t)),
                      'max') AS INTEGER) AS max_token_len,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+'))
       AS BIGINT) AS bpe_regex_tokens
FROM documents
""",
    "text_langid": """
WITH tok AS (
  SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS tok
  FROM documents),
counts AS (
  SELECT lang AS cand_lang, tok, count(*) AS c FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1, 2),
prof AS (
  SELECT cand_lang, tok FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cand_lang ORDER BY c DESC, tok ASC) AS rk
    FROM counts)
  WHERE rk <= 20),
scored AS (
  SELECT doc_id, true_lang, cand_lang, count(*) AS score
  FROM tok JOIN prof USING (tok) GROUP BY 1, 2, 3),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, cand_lang ASC) AS rk
  FROM scored)
SELECT doc_id, true_lang AS lang, cand_lang AS pred_lang,
       CAST(score AS BIGINT) AS score
FROM best WHERE rk = 1
""",
    "text_fingerprint": """
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp,
  md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS head_fp,
  md5(text) AS exact_fp
FROM documents
""",
    "text_quality": """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
  CAST(floor(1000.0 * length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
             / greatest(length(text), 1)) AS BIGINT) AS punct_permille,
  CAST(floor(1000.0 * len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','an','of','to','and','in','is','it','that')))
             / len(string_split(text, ' '))) AS BIGINT) AS stop_permille,
  CAST(floor(1000.0 * length(text) / len(string_split(text, ' '))) AS BIGINT)
    AS mean_tok_len_permille,
  (len(string_split(text, ' ')) >= 5
   AND floor(1000.0 * length(text) / len(string_split(text, ' '))) >= 2000
   AND floor(1000.0 * length(text) / len(string_split(text, ' '))) <= 12000)
    AS keep
FROM documents
""",
    "text_pii_redact": """
WITH aug AS (
  SELECT doc_id,
    text || ' Contact doc' || doc_id || '@example.com or +1-555-'
      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      || ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
      || '.' || ((doc_id % 254) + 1) || ' ok' AS t
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
       AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(t, '\\+\\d{1,3}-\\d{3}-\\d{4}')) AS INTEGER) AS n_phones,
  CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
       AS INTEGER) AS n_ips,
  regexp_replace(
    regexp_replace(
      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\\+\\d{1,3}-\\d{3}-\\d{4}', '<PHONE>', 'g'),
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
FROM aug
""",
    "text_repetition": """
WITH toks AS (SELECT doc_id, greatest(length(text), 1) AS nc,
                     string_split(text, ' ') AS tk
              FROM documents),
g2 AS (SELECT doc_id, nc, array_to_string(tk[i:i+1], ' ') AS g
       FROM (SELECT doc_id, nc, tk,
                    unnest(range(1, greatest(len(tk) - 1, 1) + 1)) AS i FROM toks)),
c2 AS (SELECT doc_id, nc, g, count(*) AS c FROM g2 GROUP BY 1, 2, 3),
t2 AS (SELECT doc_id, CAST(floor(1000.0 * c * length(g) / nc) AS BIGINT)
              AS top2_permille
       FROM (SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rk FROM c2)
       WHERE rk = 1),
g3 AS (SELECT doc_id, nc, array_to_string(tk[i:i+2], ' ') AS g
       FROM (SELECT doc_id, nc, tk,
                    unnest(range(1, greatest(len(tk) - 2, 1) + 1)) AS i FROM toks)),
c3 AS (SELECT doc_id, nc, g, count(*) AS c FROM g3 GROUP BY 1, 2, 3),
t3 AS (SELECT doc_id, CAST(floor(1000.0 * c * length(g) / nc) AS BIGINT)
              AS top3_permille
       FROM (SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rk FROM c3)
       WHERE rk = 1),
g5 AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g
       FROM (SELECT doc_id, tk,
                    unnest(range(1, greatest(len(tk) - 4, 1) + 1)) AS i FROM toks)),
c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
d5 AS (SELECT doc_id,
         CAST(floor(1000.0 * sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END)
                    / greatest(sum(c * length(g)), 1)) AS BIGINT) AS dup5_permille
       FROM c5 GROUP BY 1)
SELECT doc_id, top2_permille, top3_permille, dup5_permille
FROM t2 JOIN t3 USING (doc_id) JOIN d5 USING (doc_id)
""",
    "text_decontaminate": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g
       FROM (SELECT doc_id, tk,
                    unnest(range(1, greatest(len(tk) - 4, 1) + 1)) AS i FROM toks)),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 7 = 0),
hits AS (SELECT doc_id, count(DISTINCT g) AS h
         FROM sh JOIN bench USING (g) WHERE doc_id % 7 <> 0 GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
       coalesce(h.h, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 7 <> 0
""",
    "mm_binary_meta": """
SELECT doc_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  CAST(CASE WHEN strlen(text) = 0 THEN -1 ELSE ascii(substr(text, 1, 1)) END
       AS INTEGER) AS first_byte,
  substr(sha256(text), 1, 16) AS sha16,
  CAST(strlen(text) // 40 AS INTEGER) AS frame_count
FROM documents
""",
    "mm_decode_meta": """
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'png' END AS fmt,
  CAST(CASE WHEN doc_id % 3 IN (0, 2) THEN 16 + doc_id % 64 ELSE -1 END
       AS INTEGER) AS width,
  CAST(CASE WHEN doc_id % 3 IN (0, 2) THEN 8 + doc_id % 32 ELSE -1 END
       AS INTEGER) AS height,
  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 2000 ELSE -1 END
       AS INTEGER) AS sample_rate,
  CAST(CASE WHEN doc_id % 3 = 1 THEN 100 + doc_id % 900 ELSE -1 END
       AS INTEGER) AS n_samples
FROM documents
""",
    # decode -> half-scale nearest-neighbor resize -> re-encode of
    # constant-color 24bpp BMPs: every field (incl. the re-encoded byte
    # length, 54 header bytes + 4-byte-padded rows) is doc_id arithmetic
    "mm_resize": """
SELECT doc_id,
  CAST(8 + doc_id % 16 AS INTEGER) AS in_w,
  CAST(4 + doc_id % 8 AS INTEGER) AS in_h,
  CAST((8 + doc_id % 16) // 2 AS INTEGER) AS out_w,
  CAST((4 + doc_id % 8) // 2 AS INTEGER) AS out_h,
  CAST(doc_id % 256 AS INTEGER) AS mean_r,
  CAST(doc_id * 7 % 256 AS INTEGER) AS mean_g,
  CAST(doc_id * 13 % 256 AS INTEGER) AS mean_b,
  CAST(54 + (((8 + doc_id % 16) // 2 * 3 + 3) // 4 * 4)
           * ((4 + doc_id % 8) // 2) AS BIGINT) AS out_bytes
FROM documents
""",
    # stride-2 frame sampling of 1 + id%5 concatenated constant-color BMP
    # frames: generate_series is inclusive, so 0..id%5 step 2 IS the
    # sampled index set; per-frame means are (id, frame) arithmetic
    "mm_frame_sample": """
SELECT d.doc_id,
  CAST(t.f AS INTEGER) AS frame_idx,
  CAST(8 + d.doc_id % 8 AS INTEGER) AS width,
  CAST(4 + d.doc_id % 4 AS INTEGER) AS height,
  CAST((d.doc_id + t.f) % 256 AS INTEGER) AS mean_r,
  CAST((d.doc_id * 3 + t.f) % 256 AS INTEGER) AS mean_g,
  CAST((d.doc_id * 5 + t.f) % 256 AS INTEGER) AS mean_b
FROM documents d
CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4]) AS f) t
WHERE t.f <= d.doc_id % 5 AND t.f % 2 = 0
""",
}
