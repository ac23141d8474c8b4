"""Event filters (SURVEY.md §2.4 F1-F5) — thin declarative predicates.

The reference implements these as imperative per-event rule engines
(pkg/filter/filter.go:83-183, dm/syncer/filter.go:27-110,
dm/syncer/expr_filter_group.go:83-203). In Spark they are Catalyst column
predicates, so they push down to the parquet/Iceberg scan for free —
``.explain()`` shows them in PushedFilters.
"""

from __future__ import annotations

import fnmatch

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SYSTEM_SCHEMAS = ("information_schema", "mysql", "performance_schema", "sys")


def drop_matching(df: DataFrame, drop_pred: Column) -> DataFrame:
    """Drop rows MATCHING ``drop_pred`` with explicit NULL semantics: a row
    whose drop-predicate evaluates to NULL is KEPT (it did not match) —
    mirroring the sequential oracle (``ev.get("start_ts") in ignored`` is
    False for None) and the reference's rule-engine behavior (an
    unevaluable rule does not match, pkg/filter/filter.go:72-79). Bare
    ``filter(~pred)`` would silently DROP NULL-evaluating rows
    (NOT NULL = NULL = not-true), e.g. every delete under a payload
    predicate. Every drop-style filter in this module goes through here so
    the library functions, the batch engine, the streaming front-end, and
    the MQ changefeed share one implementation."""
    return df.filter(~F.coalesce(drop_pred, F.lit(False)))


def table_filter(
    df: DataFrame,
    rules: list[str],
    table_col: str = "table",
    case_sensitive: bool = False,
) -> DataFrame:
    """Allow tables matching any ``schema.table`` glob rule; system schemas
    always dropped (pkg/filter/filter.go:83-112)."""
    col = F.col(table_col) if case_sensitive else F.lower(F.col(table_col))
    rules = rules if case_sensitive else [r.lower() for r in rules]
    regexes = [fnmatch.translate(r).replace("\\Z", "$") for r in rules]
    pred: Column = F.lit(False)
    for rx in regexes:
        pred = pred | col.rlike(rx)
    sys_pred = F.lit(True)
    for s in SYSTEM_SCHEMAS:
        sys_pred = sys_pred & ~col.startswith(s + ".")
    return df.filter(pred & sys_pred)


def ignore_start_ts_filter(df: DataFrame, ignore_ts: list[int]) -> DataFrame:
    """Drop whole transactions by start_ts (pkg/filter/filter.go:72-79).
    A NULL start_ts never matches an ignore list (see drop_matching)."""
    if not ignore_ts:
        return df
    return drop_matching(df, F.col("start_ts").isin(list(ignore_ts)))


def op_class_filter(df: DataFrame, drop_ops: list[str]) -> DataFrame:
    """DM binlog-event-class filter: drop insert/update/delete classes
    (dm/syncer/filter.go:27-110)."""
    if not drop_ops:
        return df
    return drop_matching(df, F.col("op").isin(list(drop_ops)))


def expr_filter(df: DataFrame, sql_predicate: str) -> DataFrame:
    """DM expression filter: arbitrary SQL predicate per row — rows MATCHING
    the expression are dropped; NULL-evaluating rows are kept
    (dm/syncer/expr_filter_group.go:83-203). Literally Catalyst's job:
    ``F.expr`` compiles it once, vectorized."""
    return drop_matching(df, F.expr(sql_predicate))


def expr_filter_per_op(
    df: DataFrame,
    insert: str | None = None,
    update_old: str | None = None,
    update_new: str | None = None,
    delete: str | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Per-operation expression filters, DM's full vocabulary
    (dm/syncer/expr_filter_group.go:120-203): separate predicates for
    insert / update-old / update-new / delete; a row is dropped when the
    predicate for ITS op class matches. Update predicates evaluate against
    the pre-image (``pre_``-prefixed columns, update_old) or the post-image
    (update_new); an update is dropped only when BOTH configured update
    predicates match — the reference ANDs them, with an unconfigured side
    defaulting to TRUE via expression.NewOne
    (dm/syncer/dml.go:182-194 ``skip1 && skip2``). With a single update
    predicate configured this is equivalent to matching that one alone.

    ``update_old`` predicates reference the ``pre_``-prefixed columns
    directly (the envelope carries the pre-image there).

    One CASE-dispatched Catalyst predicate — no branch-per-op scans.
    """
    op = F.col(op_col)
    drop = F.lit(False)
    if insert:
        drop = drop | ((op == "I") & F.expr(insert))
    upd_old = F.expr(update_old) if update_old else F.lit(True)
    upd_new = F.expr(update_new) if update_new else F.lit(True)
    if update_old or update_new:
        drop = drop | ((op == "U") & upd_old & upd_new)
    if delete:
        drop = drop | ((op == "D") & F.expr(delete))
    return drop_matching(df, drop)


REPLICABLE_DDL_ACTIONS = (
    "add_column",
    "drop_column",
    "rename_column",
    "modify_column",
    "truncate_table",
    # partition actions (cdc/entry/schema_storage.go:632-636): the source
    # system requires partitioning columns to be part of every unique key,
    # so the partition is identified by a predicate over the KEY columns
    "add_partition",
    "drop_partition",
    "truncate_partition",
)


def ddl_type_filter(
    df: DataFrame,
    allowed_actions: tuple[str, ...] = REPLICABLE_DDL_ACTIONS,
) -> DataFrame:
    """DDL-type filter (F2, pkg/filter/filter.go:115-183): only DDLs whose
    action is in the replicable allowlist pass; all non-DDL rows pass
    untouched. The action lives in the ``ddl`` JSON payload —
    ``get_json_object`` is JVM-side and the predicate stays in codegen."""
    action = F.get_json_object("ddl", "$.action")
    return df.filter(
        (F.col("op") != "DDL") | action.isin(list(allowed_actions))
    )


def render_ddl_sql(ddl: dict, table: str = "transcripts") -> str:
    """Canonical SQL statement text for a structured DDL dict — what the
    reference's sql-pattern filter matches against (dm/syncer/filter.go:
    95-110 ``skipSQLByPattern`` operates on the binlog's query string; this
    log carries structured DDL dicts, so the filter matches the dict's own
    ``query`` field when the producer recorded the original statement, else
    this canonical rendering). Must stay byte-identical with the Column
    rendering in ``sql_pattern_filter``."""
    if ddl.get("query"):
        return str(ddl["query"])
    a = ddl.get("action")
    t = ddl.get("table") or table
    name, new_name = ddl.get("name"), ddl.get("new_name")
    typ, where = ddl.get("type"), ddl.get("where")
    typ = "string" if typ is None else typ
    where = "" if where is None else where

    def ws(*parts) -> str:
        # concat_ws twin: a missing part is skipped, never printed as None
        return " ".join(str(p) for p in parts if p is not None)

    if a == "add_column":
        return ws("ALTER TABLE", t, "ADD COLUMN", name, typ)
    if a == "drop_column":
        return ws("ALTER TABLE", t, "DROP COLUMN", name)
    if a == "rename_column":
        return ws("ALTER TABLE", t, "RENAME COLUMN", name, "TO", new_name)
    if a == "modify_column":
        return ws("ALTER TABLE", t, "MODIFY COLUMN", name, typ)
    if a == "truncate_table":
        return f"TRUNCATE TABLE {t}"
    if a == "add_partition":
        return f"ALTER TABLE {t} ADD PARTITION ({where})"
    if a == "drop_partition":
        return f"ALTER TABLE {t} DROP PARTITION ({where})"
    if a == "truncate_partition":
        return f"ALTER TABLE {t} TRUNCATE PARTITION ({where})"
    return ws(a.upper().replace("_", " ") if a is not None else None, t)


def sql_pattern_skip(ddl: dict, patterns: list[str] | None,
                     table: str = "transcripts") -> bool:
    """Driver-side twin of ``sql_pattern_filter`` for the engine's DDL loop
    (the DDL stream is control-plane-sized and routed on the driver):
    True when the statement's canonical text matches ANY configured
    case-insensitive regex — the DDL is skipped, not applied
    (dm/syncer/filter.go:95-110)."""
    import re

    if not patterns:
        return False
    stmt = render_ddl_sql(ddl, table)
    return any(re.search(p, stmt, re.IGNORECASE) for p in patterns)


def sql_pattern_filter(df: DataFrame, patterns: list[str],
                       default_table: str = "transcripts") -> DataFrame:
    """SQL-pattern statement filter (dm/syncer/filter.go:95-110
    ``skipSQLByPattern``): drop DDL rows whose statement text matches any
    configured case-insensitive regex; non-DDL rows pass untouched and a
    NULL-evaluating statement keeps the row (drop_matching). The statement
    is the ddl JSON's ``query`` field when present, else the canonical
    rendering (same text as ``render_ddl_sql``) — built from
    ``get_json_object`` projections, so the predicate stays JVM-side."""
    if not patterns:
        return df

    def g(f):
        return F.get_json_object("ddl", f"$.{f}")

    t = F.coalesce(g("table"), F.col("tbl") if "tbl" in df.columns else F.lit(None),
                   F.lit(default_table))
    name, new_name, where = g("name"), g("new_name"), g("where")
    typ = F.coalesce(g("type"), F.lit("string"))
    action = g("action")
    stmt = (
        F.when(action == "add_column",
               F.concat_ws(" ", F.lit("ALTER TABLE"), t,
                           F.lit("ADD COLUMN"), name, typ))
        .when(action == "drop_column",
              F.concat_ws(" ", F.lit("ALTER TABLE"), t,
                          F.lit("DROP COLUMN"), name))
        .when(action == "rename_column",
              F.concat_ws(" ", F.lit("ALTER TABLE"), t,
                          F.lit("RENAME COLUMN"), name, F.lit("TO"), new_name))
        .when(action == "modify_column",
              F.concat_ws(" ", F.lit("ALTER TABLE"), t,
                          F.lit("MODIFY COLUMN"), name, typ))
        .when(action == "truncate_table",
              F.concat_ws(" ", F.lit("TRUNCATE TABLE"), t))
        .when(action == "add_partition",
              F.concat(F.lit("ALTER TABLE "), t, F.lit(" ADD PARTITION ("),
                       F.coalesce(where, F.lit("")), F.lit(")")))
        .when(action == "drop_partition",
              F.concat(F.lit("ALTER TABLE "), t, F.lit(" DROP PARTITION ("),
                       F.coalesce(where, F.lit("")), F.lit(")")))
        .when(action == "truncate_partition",
              F.concat(F.lit("ALTER TABLE "), t,
                       F.lit(" TRUNCATE PARTITION ("),
                       F.coalesce(where, F.lit("")), F.lit(")")))
        .otherwise(F.concat_ws(" ", F.upper(F.regexp_replace(action, "_", " ")), t))
    )
    stmt = F.coalesce(g("query"), stmt)
    pred: Column = F.lit(False)
    for p in patterns:
        pred = pred | stmt.rlike(f"(?i){p}")
    return drop_matching(df, (F.col("op") == "DDL") & pred)


def cyclic_mark_filter(
    df: DataFrame,
    marks: DataFrame,
    filter_replica_ids: list[int],
    start_ts_col: str = "start_ts",
) -> DataFrame:
    """Cyclic-replication loop filter (F6, pkg/cyclic/filter.go:44-110):
    each txn's mark-table row carries the replica that originated it; txns
    whose origin replica is in the filtered set are dropped wholesale.

    The reference scans a per-txn map; here it is a broadcast equi-join on
    ``start_ts`` (the mark table is tiny — one row per in-flight txn) and a
    pushed-down NOT IN predicate. Unmarked txns (no mark row) are local
    writes and always pass, hence the left join + null-keep."""
    marks = F.broadcast(marks.select(start_ts_col, "replica_id"))
    joined = df.join(marks, on=start_ts_col, how="left")
    return joined.filter(
        F.col("replica_id").isNull() | ~F.col("replica_id").isin(filter_replica_ids)
    )


def engine_event_filters(
    df: DataFrame,
    ignore_txn_start_ts: list[int] | None = None,
    event_filter: str | None = None,
) -> DataFrame:
    """The engine-level DML filter pair: a thin composition of the library
    filters, which all share drop_matching's NULL-keep semantics — so the
    batch engine, the streaming front-end, the MQ changefeed, and a user
    composing the operator library directly stay byte-identical."""
    if ignore_txn_start_ts:
        df = ignore_start_ts_filter(df, list(ignore_txn_start_ts))
    if event_filter:
        df = expr_filter(df, event_filter)
    return df


# ---------------------------------------------------------------- online DDL
# gh-ost / pt-osc helper-table name patterns (dm/syncer/online-ddl-tools/
# online_ddl.go:46-88 RealName/TableType): the tool applies the ALTER to a
# ghost copy, backfills it, and atomically RENAMEs it over the real table;
# its helper tables must never replicate.
import re as _re

ONLINE_DDL_SCHEMES = {
    "gh-ost": (_re.compile(r"^_(.+)_gho$", _re.IGNORECASE),
               _re.compile(r"^_(.+)_(?:ghc|del)$", _re.IGNORECASE)),
    "pt-osc": (_re.compile(r"^_(.+)_new$", _re.IGNORECASE),
               _re.compile(r"^_(.+)_old$", _re.IGNORECASE)),
}

# executor-side twin of the classifier: one anchored rlike over the table
# name's last dot-segment — MUST match classify_online_ddl row for row
_ONLINE_DDL_DROP_RE = {
    "gh-ost": r"(?i)(?:^|\.)_.+_(?:gho|ghc|del)$",
    "pt-osc": r"(?i)(?:^|\.)_.+_(?:new|old)$",
}


def classify_online_ddl(table: str | None, scheme: str) -> tuple[str, str | None]:
    """(kind, real_table) for one source-table name under an online-DDL
    naming scheme: kind is 'real' | 'ghost' | 'trash'; real_table is the
    underlying table the helper belongs to (schema prefix preserved), or
    the input itself for real tables. None (default-table) is real."""
    if table is None:
        return "real", None
    ghost_re, trash_re = ONLINE_DDL_SCHEMES[scheme]
    schema, sep, name = table.rpartition(".")
    m = ghost_re.match(name)
    if m:
        return "ghost", schema + sep + m.group(1)
    m = trash_re.match(name)
    if m:
        return "trash", schema + sep + m.group(1)
    return "real", table


def online_ddl_dml_filter(df: DataFrame, scheme: str) -> DataFrame:
    """Drop DML of online-DDL helper tables (ghost backfill writes and
    trash-table churn must not replicate — dm/syncer/online-ddl-tools
    trash/ghost handling); rows with a NULL table (default table) and all
    real-table rows pass. JVM-side anchored rlike, no Python."""
    return drop_matching(
        df, F.col("tbl").rlike(_ONLINE_DDL_DROP_RE[scheme])
    )
