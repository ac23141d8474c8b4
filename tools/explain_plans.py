"""Dump physical plans of the flagship queries to PLANS.md.

Evidence that the engine leans on Catalyst the way SURVEY.md §4 claims:
filters/column pruning reach the parquet scan (PushedFilters / ReadSchema),
aggregates partial-combine before their exchange, small sides broadcast, and
the replay hot path contains exactly one wide exchange (the key-hash fold
shuffle, which doubles as causality dispatch).

Usage: PYTHONPATH=. python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHECKS = {
    # partial_ before the exchange == map-side combine of the LWW fold
    "cdc_lww_replay": ["partial_max", "hashpartitioning"],
    # global top-k must compile to TakeOrderedAndProject, never a
    # single-partition window sort
    "cdc_canonical_order": ["TakeOrderedAndProject"],
    "cdc_watermark_cut": ["PushedFilters: [IsNotNull(event_id), GreaterThan(event_id"],
    "cdc_schema_asof": ["ReadSchema: struct<event_id:bigint>"],
    "text_langid": ["BroadcastExchange"],
    # benchmark shingle set broadcasts; the train-side scan never shuffles
    # before its per-doc count
    "text_decontaminate": ["BroadcastExchange"],
    # gram counts partial-aggregate (map-side combine) before the doc-keyed
    # exchange
    "text_repetition": ["partial_count"],
    "dedup_minhash_lsh": [],
    "dedup_ngram_jaccard": [],
    # one fold shuffle serves every routed table at once
    "cdc_multi_table": ["partial_max", "hashpartitioning"],
    "cdc_replay_plan": ["partial_max", "hashpartitioning"],
    # CoW merge: single (bucket, salt) exchange, LWW pick runs in place on
    # the subset partitioning — no join, no second exchange before the write
    "merge_write_plan": ["max_by", "hashpartitioning(_bucket"],
}
# plans that must contain no hash exchange at all: the versioned Avro wire
# is a pure per-row projection (its registry is folded into the expressions)
NO_HASH_EXCHANGE = ("cdc_encode_avro",)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def trim(plan: str, max_lines: int = 40) -> str:
    lines = [ln.rstrip() for ln in plan.splitlines() if ln.strip()]
    return "\n".join(lines[:max_lines] + (["…"] if len(lines) > max_lines else []))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from tiflow_spark.session import get_spark
    from tiflow_spark import queries as q

    spark = get_spark(app="explain", cpus=4, shuffle_partitions=8)

    plans: dict[str, str] = {}
    for name in ("cdc_lww_replay", "cdc_canonical_order", "cdc_watermark_cut",
                 "cdc_schema_asof", "text_langid", "text_decontaminate",
                 "text_repetition", "dedup_minhash_lsh",
                 "dedup_ngram_jaccard", "cdc_multi_table", "cdc_encode_avro",
                 "cdc_sql_pattern_filter"):
        plans[name] = plan_of(q.QUERIES[name](spark, sf_dir))

    # the replay hot path: epoch slice → fold → decode → bucket (pre-merge)
    import shutil
    import tempfile

    from tiflow_spark.engine import ChangefeedEngine, decode_events
    from tiflow_spark.generator import generate_changefeed
    from tiflow_spark.lake import BUCKET_COL, LakeTable, bucket_expr
    from tiflow_spark.model import DML_OPS, KEY_COLS
    from tiflow_spark.operators.compactor import compact_changes
    from tiflow_spark.operators.watermark import watermark_cut
    from tiflow_spark.registry import SchemaRegistry
    from pyspark.sql import functions as F

    failures_extra = []
    tmp = tempfile.mkdtemp(prefix="plans_")
    try:
        generate_changefeed(tmp, n_convs=20, turns_per_conv=4, n_changes=500,
                            seed=7, resolved_every=250)
        eng = ChangefeedEngine(os.path.join(tmp, "log"),
                               LakeTable(os.path.join(tmp, "t"), num_buckets=4))
        log = eng.read_log(spark)
        sliced = watermark_cut(log, low_ts=0, high_ts=10**12)
        dml = sliced.filter(F.col("op").isin(*DML_OPS))
        folded = compact_changes(dml, list(KEY_COLS), ["payload", "schema_version"],
                                 stats=True)
        folded = folded.withColumn("commit_ts", F.col("_max_commit_ts"))
        reg = SchemaRegistry.initial()
        changes = decode_events(folded, reg, 1,
                                envelope_cols=("op", "_n_events", "_max_commit_ts"))
        changes = changes.withColumn(BUCKET_COL, bucket_expr(list(KEY_COLS), 4))
        plans["cdc_replay_plan"] = plan_of(changes)

        # the CoW merge write: snapshot ∪ changes through ONE (bucket, salt)
        # exchange, LWW max_by pick in place (subset partitioning satisfies
        # the (bucket, salt, *keys) grouping) — what _write_data
        # materializes per epoch with pre_partitioned=True
        eng.bootstrap(spark, os.path.join(tmp, "base", "transcripts.parquet"))
        m = eng.table.current_manifest()
        existing = eng.table.read(spark, m)
        payload_names = [f.name for f in reg.current.fields]
        ch = changes.select(
            *KEY_COLS, "op", *payload_names, BUCKET_COL
        ).withColumn("_prio", F.lit(1))
        ex = (
            existing.select(*KEY_COLS, *payload_names)
            .withColumn("op", F.lit("E"))
            .withColumn(BUCKET_COL, bucket_expr(list(KEY_COLS), 4))
            .withColumn("_prio", F.lit(0))
        )
        unioned = ex.unionByName(ch)
        n_tasks, salt = eng.table._write_partitioning(unioned)
        winner = (
            unioned.withColumn("_salt", salt)
            .repartition(n_tasks, F.col(BUCKET_COL), F.col("_salt"))
            .groupBy(BUCKET_COL, "_salt", *KEY_COLS)
            .agg(F.max_by(F.struct("op", *payload_names), F.col("_prio")).alias("_w"))
        )
        new_data = winner.filter(F.col("_w.op") != "D").select(
            *KEY_COLS,
            *[F.col(f"_w.{c}").alias(c) for c in payload_names],
            BUCKET_COL,
        )
        plans["merge_write_plan"] = plan_of(new_data)
        # the single-exchange claim, checked mechanically: exactly 2
        # exchanges in the whole epoch pipeline — the upstream key-hash fold
        # shuffle (shared with the replay hot path / lineage agg) and the
        # ONE (bucket, salt) repartition; nothing between the union, the LWW
        # agg, and the write
        mw = plans["merge_write_plan"]
        n_hash_ex = len(re.findall(r"\(\d+\) Exchange", mw))
        if n_hash_ex != 2:
            failures_extra.append(
                f"merge_write_plan: expected exactly 2 exchanges "
                f"(fold + write clustering), got {n_hash_ex}"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    failures = list(failures_extra)
    out = ["# PLANS — physical-plan evidence",
           "",
           "Generated by `tools/explain_plans.py` (sf_dir=%s). What to look" % sf_dir,
           "for, per SURVEY.md §4: predicates and column pruning pushed into",
           "the parquet scan, partial (map-side) aggregates ahead of each",
           "exchange, broadcast for the small side of every join, and ONE",
           "replay hot path (the key-hash fold shuffle = causality dispatch;",
           "everything after it is narrow until the bucketed write).",
           ""]
    for name, plan in plans.items():
        for needle in CHECKS.get(name, []):
            if needle not in plan:
                failures.append(f"{name}: missing {needle!r}")
        n_exchanges = len(re.findall(r"hashpartitioning\(", plan))
        if name in NO_HASH_EXCHANGE and n_exchanges:
            failures.append(f"{name}: {n_exchanges} hash exchanges, want 0")
        out += [f"## {name}",
                f"- hash exchanges: {n_exchanges}",
                "", "```", trim(plan), "```", ""]
    if failures:
        out += ["## CHECK FAILURES", ""] + [f"- {f}" for f in failures]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("\n".join(failures) if failures else "all plan checks passed")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
