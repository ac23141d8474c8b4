"""Sequential single-threaded apply oracle (the sync-diff analogue).

Mirrors FIXTURES.md F6: apply the changefeed in canonical order
``(commit_ts, ddl_rank, op_rank, start_ts, seq)`` onto the base snapshot with
a pure-Python dict, then project to the final schema version. The engine's
distributed result must equal this byte-for-byte
(tests/integration_tests/_utils/check_sync_diff:13 analogue).

Rows are stored keyed by field_id so RENAME COLUMN keeps identity and
ADD COLUMN defaults fill at projection time (cdc/entry/mounter.go:515-551).
"""

from __future__ import annotations

import json
from datetime import datetime

import pandas as pd
import pyarrow.parquet as pq

from tiflow_spark.operators.filters import (
    REPLICABLE_DDL_ACTIONS,
    sql_pattern_skip,
)
from tiflow_spark.registry import SchemaRegistry

_OP_RANK = {"D": 0, "I": 1, "U": 1}


def _event_sort_key(ev: dict):
    is_ddl = 1 if ev["op"] == "DDL" else 0
    return (
        ev["commit_ts"],
        is_ddl,
        _OP_RANK.get(ev["op"], 1),
        ev["start_ts"] if ev["start_ts"] is not None else -1,
        ev["seq"],
    )


def _parse_ts(v):
    if v is None or isinstance(v, datetime):
        return v
    return datetime.fromisoformat(v)


def _coerce(v, typ: str):
    """Replicate Spark's CAST for values stored under a pre-modify_column
    type (int→string renders the digits, bad string→int yields null)."""
    if v is None:
        return None
    t = typ.lower()
    if t in ("string", "varchar"):
        return v if isinstance(v, str) else str(v)
    if t in ("int", "integer", "bigint", "long", "smallint", "tinyint"):
        try:
            return int(v)  # exact for int and integer-valued strings
        except (TypeError, ValueError):
            # fractional lexemes truncate through float, mirroring the
            # engine's evolve_cast double fallback ("1.5" -> 1)
            try:
                return int(float(v))
            except (TypeError, ValueError, OverflowError):
                return None
    if t in ("double", "float"):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None
    if t == "timestamp":
        return _parse_ts(v)
    return v


def _keys_matching(keys, where: str) -> list[tuple]:
    """Keys whose (conv_id, turn_idx) satisfy the partition predicate.

    Evaluated through DuckDB so the oracle's predicate semantics are real
    SQL, independently of the engine's Catalyst evaluation."""
    import duckdb

    rows = list(keys)
    if not rows:
        return []
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx"])
    hit = duckdb.sql(
        f"SELECT conv_id, turn_idx FROM df WHERE {where}"
    ).fetchall()
    return [tuple(r) for r in hit]


def sequential_apply(
    base_parquet: str,
    log_dir_or_file: str,
    registry: SchemaRegistry | None = None,
    barrier_ts: int | None = None,
    source_tables: set[str] | None = None,
    default_table: str = "transcripts",
    ignore_txn_start_ts: set[int] | None = None,
    sql_patterns: list[str] | None = None,
    shard_merge: bool = False,
    online_ddl: str | None = None,
) -> pd.DataFrame:
    """Replay the log onto the base snapshot; return the final table.

    barrier_ts: only apply events with commit_ts <= barrier_ts (epoch cut,
    cdc/sink/common/common.go:104-153 analogue). DDLs beyond the barrier do
    not affect the final projection either.

    source_tables: multi-table logs — only apply DML/DDL whose source table
    (``tbl`` column, null → default_table) is in the set; R rows are
    changefeed-global and unaffected. None → apply everything.

    ignore_txn_start_ts: DML events of these transactions are skipped
    (TiCDC FilterConfig.IgnoreTxnStartTs) — control rows are unaffected.
    """
    registry = registry or SchemaRegistry.initial()
    v1 = registry.versions[0]

    base = pq.read_table(base_parquet).to_pylist()
    state: dict[tuple, dict] = {}
    name_to_fid_v1 = {f.name: f.fid for f in v1.fields}
    for row in base:
        key = (row["conv_id"], row["turn_idx"])
        state[key] = {
            name_to_fid_v1[c]: row[c] for c in row if c in name_to_fid_v1
        }

    events = pq.read_table(log_dir_or_file).to_pylist()
    events.sort(key=_event_sort_key)

    if online_ddl:
        # online-DDL plugin twin (engine.MultiTableEngine._control_plan +
        # online_ddl_dml_filter): drop helper-table DML, stash ghost DDLs,
        # splice each stash into the stream at its cut-over rename — then
        # the normal replay path below applies the transformed stream
        from tiflow_spark.operators.filters import classify_online_ddl

        transformed, od_stash = [], {}
        for ev in events:
            op = ev["op"]
            if op not in ("I", "U", "D", "DDL"):
                transformed.append(ev)
                continue
            kind, real = classify_online_ddl(ev.get("tbl"), online_ddl)
            if kind == "trash":
                continue
            if kind == "ghost":
                if op == "DDL":
                    od_stash.setdefault(real, []).append(
                        json.loads(ev["ddl"]))
                continue  # ghost backfill DML never replicates
            if op == "DDL":
                d = json.loads(ev["ddl"])
                if d.get("action") == "rename_table":
                    gk, greal = classify_online_ddl(
                        d.get("from"), online_ddl)
                    if gk == "ghost" and greal == (d.get("to")
                                                  or ev.get("tbl")):
                        for sd in od_stash.pop(greal, []):
                            transformed.append(
                                {**ev, "ddl": json.dumps(sd), "tbl": greal})
                    continue  # the rename itself is not replicable
            transformed.append(ev)
        events = transformed

    for ev in events:
        op = ev["op"]
        cts = ev["commit_ts"]
        if barrier_ts is not None and cts > barrier_ts:
            continue
        if op == "R":
            continue
        if source_tables is not None:
            if (ev.get("tbl") or default_table) not in source_tables:
                continue
        if op == "DDL":
            d = json.loads(ev["ddl"])
            if sql_patterns and sql_pattern_skip(
                d, sql_patterns, table=ev.get("tbl") or default_table
            ):
                continue  # DM sql-pattern statement filter (engine twin)
            if d.get("action") in REPLICABLE_DDL_ACTIONS:  # F2 allowlist
                if shard_merge:
                    # optimist shard-DDL twin (engine.apply_slice):
                    # identical re-arrivals from other shards dedupe
                    from tiflow_spark.registry import reconcile_shard_ddl

                    if reconcile_shard_ddl(registry, d) == "noop":
                        continue
                registry.apply_ddl(d, cts)
                if d["action"] == "truncate_table":
                    state.clear()  # tombstone: schema kept, rows wiped
                elif d["action"] in ("drop_partition", "truncate_partition"):
                    # partial tombstone: drop keys matching the partition
                    # predicate (evaluated by DuckDB so the oracle's SQL
                    # semantics match the engine's F.expr exactly)
                    for key in _keys_matching(state.keys(), d["where"]):
                        state.pop(key, None)
            continue
        if ignore_txn_start_ts and ev.get("start_ts") in ignore_txn_start_ts:
            continue  # DML of an ignored txn (DDL/R handled above)
        key = (ev["conv_id"], ev["turn_idx"])
        if op == "D":
            state.pop(key, None)
            continue
        # I/U → full-row upsert (safe-mode REPLACE semantics). A
        # schema_version this registry never saw (its DDL was
        # sql-pattern-filtered) resolves by the as-of rule — the engine's
        # schema_version_expr twin
        known = {v.version for v in registry.versions}
        ver = (
            registry.get(ev["schema_version"])
            if ev["schema_version"] in known
            else registry.version_asof(cts)
        )
        payload = json.loads(ev["payload"])
        row = {}
        for f in ver.fields:
            v = payload.get(f.name)
            if f.type == "timestamp":
                v = _parse_ts(v)
            row[f.fid] = v
        state[key] = row

    final = (
        registry.version_at_barrier(barrier_ts)
        if barrier_ts is not None
        else registry.current
    )
    out_rows = []
    for (conv_id, turn_idx), row in state.items():
        out = {"conv_id": conv_id, "turn_idx": turn_idx}
        for f in final.fields:
            out[f.name] = _coerce(row.get(f.fid, f.default), f.type)
        out_rows.append(out)
    cols = ["conv_id", "turn_idx"] + [f.name for f in final.fields]
    df = pd.DataFrame(out_rows, columns=cols)
    return df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
