"""Driver-facing query catalog: one callable per implemented operator family.

Every callable takes ``(spark, sf_dir)`` and returns a DataFrame whose
columns/types/values are reproduced exactly by the matching ANSI SQL in
``tiflow_spark.oracles`` (DuckDB side). The CDC operators run over the
driver's ``events`` table reinterpreted as a changefeed (see
``events_as_changefeed``); the corpus operators run over ``documents`` /
``embeddings``.

SURVEY.md §2 operator ids are noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tiflow_spark.functions import dedup, multimodal, similarity, text
from tiflow_spark.functions.hashing import md5_bucket
from tiflow_spark.model import event_order_cols
from tiflow_spark.operators.compactor import compact_changes, split_updates
from tiflow_spark.operators.filters import (
    expr_filter,
    ignore_start_ts_filter,
    op_class_filter,
)
from tiflow_spark.operators.watermark import partition_frontier, watermark_cut
from tiflow_spark.registry import SchemaRegistry
from tiflow_spark.sinks import mq

# ---------------------------------------------------------------- loaders


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def events_as_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reinterpret the append-only ``events`` stream as a changefeed
    (FIXTURES.md F2 shape): signup=I, error=D, else U; the key is user_id
    and event_id is the TSO (unique, monotone with append order)."""
    ev = _events(spark, sf_dir)
    return ev.select(
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.col("event_id").alias("commit_ts"),
        F.col("event_id").alias("start_ts"),
        F.col("event_id").alias("seq"),
        "user_id",
        "event_id",
        "event_type",
        "value",
        "ts",
    )


# ------------------------------------------------------------ CDC queries


def cdc_lww_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (A1 compactor + W2 LWW + J2 merge-shape): replay the feed,
    one surviving row per key — exactly the MERGE input the engine emits."""
    feed = events_as_changefeed(spark, sf_dir)
    folded = compact_changes(
        feed, key_cols=["user_id"], value_cols=["event_id", "event_type", "value"]
    )
    return folded.filter(F.col("op") != "D").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


def cdc_canonical_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorter stage (O1-O3): canonical (commit_ts, op_rank, seq) apply order
    materialized as a global row_number — deletes before puts at equal ts.

    Scale shape: ``orderBy().limit(500)`` compiles to TakeOrderedAndProject
    (per-partition top-k + driver merge — no single-partition global sort);
    the row_number window then runs over only the ≤500 survivors."""
    from tiflow_spark.model import op_rank

    feed = events_as_changefeed(spark, sf_dir)
    order = [F.col("ts"), op_rank("op"), F.col("seq")]
    top = feed.select("ts", "op", "seq", "event_id").orderBy(*order).limit(500)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).cast("long").alias("rn"), "event_id", "op"
    )


def cdc_update_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-split (M2): purchases are key-changing updates (user moves to
    user_id+1000000) → delete(old key) + insert(new key), delete first."""
    feed = events_as_changefeed(spark, sf_dir).select(
        "op",
        "seq",
        "commit_ts",
        "start_ts",
        F.when(F.col("event_type") == "purchase", F.col("user_id") + 1000000)
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        F.col("user_id").alias("pre_user_id"),
        "event_id",
        "value",
        F.col("event_id").alias("pre_event_id"),
        F.col("value").alias("pre_value"),
    )
    out = split_updates(
        feed,
        key_cols=["user_id"],
        pre_key_cols=["pre_user_id"],
        value_cols=["event_id", "value"],
        pre_value_cols=["pre_event_id", "pre_value"],
    )
    return out.select(
        "op", F.col("split_pos").cast("int"), "user_id", "event_id", "value"
    )


def cdc_watermark_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch slice (A3/S2 guard): checkpoint < commit_ts <= barrier, both
    predicates pushed to the scan; aggregated per op for a stable shape."""
    feed = events_as_changefeed(spark, sf_dir)
    sliced = watermark_cut(feed, low_ts=2000, high_ts=8000)
    return sliced.groupBy("op").agg(
        F.count("*").alias("n_events"),
        F.min("commit_ts").alias("min_ts"),
        F.max("commit_ts").alias("max_ts"),
    )


def cdc_partition_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span frontier (S2) + min-watermark agg (A4) + lineage counters (A6):
    per-partition progress and the global resolved frontier."""
    feed = events_as_changefeed(spark, sf_dir).withColumn(
        "partition_hint", F.pmod(F.col("user_id"), F.lit(32)).cast("int")
    )
    return partition_frontier(feed).select(
        "partition", "max_ts", "applied_events", "frontier_ts"
    )


def cdc_filter_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter chain (F3+F4+F5): drop delete class, drop ignored txn
    start_ts, drop rows matching an expression predicate — all Catalyst
    predicates, pushed to the scan."""
    feed = events_as_changefeed(spark, sf_dir)
    feed = op_class_filter(feed, ["D"])
    feed = ignore_start_ts_filter(feed, [1, 2, 3, 100])
    feed = expr_filter(feed, "event_type = 'click' AND value < 0.5")
    return feed.groupBy("op", "event_type").agg(F.count("*").alias("n"))


def cdc_expr_filter_per_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-op expression filters (F5 full vocabulary,
    dm/syncer/expr_filter_group.go:120-203): inserts dropped when value is
    tiny, updates dropped only when BOTH the pre-image and post-image
    predicates match (dm/syncer/dml.go:182-194 ANDs skip1 && skip2),
    deletes dropped for early txns — dispatched by op class in one
    Catalyst CASE."""
    from tiflow_spark.operators.filters import expr_filter_per_op

    feed = events_as_changefeed(spark, sf_dir).withColumn(
        "pre_value", F.col("value") / 2  # deterministic stand-in pre-image
    )
    kept = expr_filter_per_op(
        feed,
        insert="value < 0.1",
        update_old="pre_value > 0.45",
        update_new="value > 0.93",
        delete="start_ts < 2000",
    )
    return kept.groupBy("op").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    )


def cdc_sql_pattern_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DM sql-pattern statement filter (dm/syncer/filter.go:95-110
    ``skipSQLByPattern``) as a driver query: reinterpret signup events as
    DDL rows carrying a structured add_column DDL (name =
    ``col_<event_id mod 7>``), render the canonical statement text, and
    drop statements matching any configured case-insensitive regex —
    non-DDL rows and NULL-evaluating statements always pass
    (drop_matching NULL-keep). Entirely Catalyst predicates: the statement
    render is ``get_json_object`` + ``concat_ws``, the match is ``rlike``."""
    from tiflow_spark.operators.filters import sql_pattern_filter

    feed = events_as_changefeed(spark, sf_dir)
    feed = feed.withColumn(
        "ddl",
        F.when(
            F.col("op") == "I",
            F.concat(
                F.lit('{"action":"add_column","name":"col_'),
                (F.col("event_id") % 7).cast("string"),
                F.lit('","type":"string"}'),
            ),
        ),
    ).withColumn(
        "op", F.when(F.col("ddl").isNotNull(), "DDL").otherwise(F.col("op"))
    )
    kept = sql_pattern_filter(
        feed, ["add column COL_[0-2]", "^TRUNCATE TABLE"]
    )
    return kept.groupBy("op").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_event_id")
    )


def cdc_txn_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Txn grouping (A2): rows grouped into per-(key, day) transactions with
    integer-exact value sums (milli-units, so any agg order is bit-equal)."""
    feed = events_as_changefeed(spark, sf_dir)
    return feed.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("txn_day")
    ).agg(
        F.count("*").alias("n_rows"),
        F.max("commit_ts").alias("max_ts"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    )


def cdc_salted_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-hash dispatch + hot-key salting (P1-P3): bucket = hash(user_id)
    with a salt from within the full key (event_id) spreading each user over
    4 sub-buckets; per-bucket load histogram."""
    feed = events_as_changefeed(spark, sf_dir)
    bucketed = feed.select(
        md5_bucket(F.col("user_id"), 32).alias("bucket"),
        F.pmod(md5_bucket(F.col("event_id"), 997), F.lit(4)).alias("salt"),
    )
    return bucketed.groupBy("bucket", "salt").agg(F.count("*").alias("n"))


def cdc_schema_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of schema resolution (J1/M1): version = max registry version with
    active_from_ts <= commit_ts - 1, compiled to a chained CASE (the binary
    search of schema_storage.go:767-774 constant-folded per row)."""
    from tiflow_spark.engine import schema_version_expr

    reg = SchemaRegistry.initial()
    reg.apply_ddl({"action": "add_column", "name": "note", "type": "string"}, 3000)
    reg.apply_ddl({"action": "rename_column", "name": "note", "new_name": "memo"}, 7000)
    feed = events_as_changefeed(spark, sf_dir).withColumn(
        "schema_version", F.lit(None).cast("int")
    )
    return (
        feed.withColumn("ver", schema_version_expr(reg))
        .groupBy("ver")
        .agg(F.count("*").alias("n"), F.min("commit_ts").alias("min_ts"), F.max("commit_ts").alias("max_ts"))
    )


def cdc_table_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table router + extend columns (D6, F1): events carry a derived
    ``schema.table`` name; route `app.*` tables to target schema `tgt`
    (rename rule), drop non-matching tables (allow-rules), and inject a
    source-id column (dm/syncer/syncer.go:2450,3183; pkg/filter glob rules).
    """
    from tiflow_spark.operators.filters import table_filter

    feed = events_as_changefeed(spark, sf_dir).withColumn(
        "src_table",
        F.concat(
            F.when(F.col("event_type").isin("click", "view"), "app")
            .when(F.col("event_type") == "purchase", "shop")
            .otherwise("sys"),
            F.lit("."),
            F.col("event_type"),
        ),
    )
    routed = table_filter(feed, ["app.*", "shop.*"], table_col="src_table")
    return (
        routed.withColumn(
            "target_table",
            F.concat(F.lit("tgt."), F.element_at(F.split("src_table", "\\."), 2)),
        )
        .withColumn("source_id", F.lit("cf-1"))
        .groupBy("src_table", "target_table", "source_id")
        .agg(F.count("*").alias("n"))
    )


def cdc_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table changefeed (per-table pipelines,
    cdc/processor/processor.go:284-400): events carry a derived source
    table; DM route rules map ``app.* → t_app`` and ``shop.* → t_shop``
    (``sys.*`` unrouted = dropped); each target folds LWW independently —
    the fold key is (target_table, user_id), so one shuffle serves every
    table's compaction at once (the Spark-side win over per-table loops)."""
    feed = events_as_changefeed(spark, sf_dir).withColumn(
        "src_table",
        F.concat(
            F.when(F.col("event_type").isin("click", "view"), "app")
            .when(F.col("event_type") == "purchase", "shop")
            .otherwise("sys"),
            F.lit("."),
            F.col("event_type"),
        ),
    )
    routed = feed.withColumn(
        "target_table",
        F.when(F.col("src_table").startswith("app."), "t_app")
        .when(F.col("src_table").startswith("shop."), "t_shop"),
    ).filter(F.col("target_table").isNotNull())
    folded = compact_changes(
        routed,
        key_cols=["target_table", "user_id"],
        value_cols=["event_id", "event_type"],
    )
    return folded.filter(F.col("op") != "D").select(
        "target_table",
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
    )


def cdc_old_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Old-value enrichment (J3): attach each event's pre-image (the previous
    value on its key) via a per-key window lag — the TiKV OldValue column
    (cdc/model/kv.go:77) reconstructed relationally. Limited to one bucket of
    keys for a stable, compact result."""
    feed = events_as_changefeed(spark, sf_dir).filter(F.pmod("user_id", F.lit(10)) == 0)
    w = Window.partitionBy("user_id").orderBy("commit_ts")
    return feed.select(
        "user_id",
        "event_id",
        "op",
        "value",
        F.lag("value").over(w).alias("pre_value"),
        F.lag("event_id").over(w).alias("pre_event_id"),
    )


def cdc_cyclic_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclic-replication filter (F6, pkg/cyclic/filter.go:44-110): a mark
    table (one row per txn start_ts, carrying the origin replica) is
    broadcast-joined onto the feed; txns originating from filtered replicas
    are dropped to break replication loops. Marks exist only for every third
    txn (the rest are local writes and always pass)."""
    from tiflow_spark.operators.filters import cyclic_mark_filter

    feed = events_as_changefeed(spark, sf_dir)
    marks = (
        feed.select("start_ts")
        .distinct()
        .filter(F.pmod("start_ts", F.lit(3)) == 0)
        .withColumn("replica_id", F.pmod("start_ts", F.lit(7)).cast("int"))
    )
    kept = cyclic_mark_filter(feed, marks, filter_replica_ids=[0, 3])
    return kept.groupBy(F.coalesce("replica_id", F.lit(-1)).alias("origin_replica")).agg(
        F.count("*").alias("n"), F.max("commit_ts").alias("max_ts")
    )


def cdc_validate_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data validator (dm/syncer/data_validator.go:72-196): per-bucket row
    count + order-invariant content checksum; upstream/downstream compare
    these tiny summaries instead of shipping rows."""
    from tiflow_spark.operators.validator import table_checksums

    feed = events_as_changefeed(spark, sf_dir).withColumn(
        # NULL-bearing content column: pins the null-safe digest encoding
        # (nulls → '' on BOTH engines; DuckDB concat_ws would silently skip
        # a bare NULL, diverging without the coalesce)
        "maybe_null", F.expr("nullif(event_type, 'click')")
    )
    return table_checksums(
        feed, key_col="user_id",
        content_cols=["event_id", "op", "event_type", "maybe_null"],
        n_buckets=16,
    )


# ------------------------------------------------------- MQ wires (K4, K5)
# Each wire query applies the MQ sink's own envelope (sinks/mq.py) to the
# same change-event projection of ``events``, so the DuckDB oracles
# byte-check the bytes the sink publishes.


def events_as_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` changefeed in the MQ sink's change-event columns, plus
    ``event_id`` as the result key: key (conv_id, turn_idx) = (user_id, 0),
    source table = event_type, payload JSON written by string
    concatenation (the oracle concatenates the same text). Deletes carry no
    payload; updates and deletes carry a ``user_id``-only pre-image, so the
    wires' before-image and null-field branches are exercised."""
    feed = events_as_changefeed(spark, sf_dir)
    uid = F.col("user_id").cast("string")
    payload = F.concat(
        F.lit('{"user_id":'), uid,
        F.lit(',"event_type":"'), F.col("event_type"), F.lit('"}'),
    )
    pre = F.concat(F.lit('{"user_id":'), uid, F.lit("}"))
    return feed.select(
        "event_id", "seq", "op", "commit_ts", "start_ts",
        F.lit(1).alias("schema_version"),
        uid.alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.when(F.col("op") != "D", payload).alias("payload"),
        F.when(F.col("op") != "I", pre).alias("pre_payload"),
        F.col("event_type").alias("tbl"),
    )


def _encode(spark: SparkSession, sf_dir: str, envelope) -> DataFrame:
    """One sink envelope over the change events: key, envelope, its md5."""
    enc = mq.with_envelope(events_as_change_events(spark, sf_dir), envelope)
    return enc.select(
        "event_id", "envelope", F.md5("envelope").alias("envelope_md5")
    )


def cdc_encode_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-protocol JSON codec (K5, cdc/sink/codec/json.go): the MQ
    changefeed's default envelope."""
    return _encode(spark, sf_dir, mq.open_json_envelope())


def cdc_encode_maxwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maxwell codec (K5, cdc/sink/codec/maxwell.go): database/table/type/ts
    envelope with the row under ``data`` and the old image under ``old``."""
    return _encode(spark, sf_dir, mq.maxwell_envelope())


def cdc_encode_canal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canal-flat JSON codec (K5, cdc/sink/codec/canal_flat.go): the flat
    message with ``data``/``old`` as one-element arrays."""
    return _encode(spark, sf_dir, mq.canal_json_envelope())


def cdc_encode_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro + schema-registry codec (K5, cdc/sink/codec/avro.go:75,119,184):
    the Confluent wire under a one-version registry whose payload record
    has an integral ``user_id`` (Avro long) and a string ``event_type``
    field, registered exactly as the MQ changefeed registers its writer
    schemas."""
    registry = SchemaRegistry.initial(
        [(1, "user_id", "bigint", None), (2, "event_type", "string", None)]
    )
    ids: dict = {}
    mq.register_avro_schemas(registry, ids, {})
    return _encode(spark, sf_dir, mq.avro_envelope_versioned(registry, ids))


def cdc_encode_canal_pb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canal protobuf codec (K5, cdc/sink/codec/canal.go:75-240): the
    length-framed EntryProtocol.proto Entry with Header and RowData
    before/after Column messages."""
    return _encode(spark, sf_dir, mq.canal_pb_envelope())


def cdc_encode_craft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Craft codec (K5, cdc/sink/codec/craft.go + craft/encoder.go:36-183):
    the columnar wire with term dictionary, size tables and the
    reversed-uvarint trailer."""
    return _encode(spark, sf_dir, mq.craft_envelope())


def cdc_mq_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MQ sink dispatch (K4, cdc/sink/mq.go:55-220 +
    dispatcher/partition/index_value.go:36-56): every open-json envelope
    routed to one of 8 partitions by the sink's portable key hash, with a
    dense per-partition offset in canonical order — the exact (partition,
    offset, payload) stream a Kafka producer would emit."""
    enc = mq.with_envelope(events_as_change_events(spark, sf_dir),
                           mq.open_json_envelope())
    d = mq.mq_dispatch(enc, ["conv_id", "turn_idx"], 8)
    w = Window.partitionBy("partition").orderBy(*event_order_cols())
    return d.select(
        "partition",
        (F.row_number().over(w) - 1).cast("long").alias("offset"),
        "envelope",
        F.md5("envelope").alias("envelope_md5"),
    )


def cdc_batch_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-statement reduction (A5, reduceReplace cdc/sink/mysql.go:764-797
    + maxTxnRow=256 mysql_params.go:37): within each dispatch bucket, rows in
    canonical order group into ≤256-row write batches; per-batch sizes and ts
    ranges are what the sink would execute as one multi-row statement."""
    feed = events_as_changefeed(spark, sf_dir)
    bucketed = feed.withColumn("bucket", md5_bucket(F.col("user_id"), 8))
    w = Window.partitionBy("bucket").orderBy("commit_ts", "seq")
    return (
        bucketed.withColumn("rn", F.row_number().over(w))
        .withColumn("batch_id", F.floor((F.col("rn") - 1) / 256).cast("int"))
        .groupBy("bucket", "batch_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("commit_ts").alias("min_ts"),
            F.max("commit_ts").alias("max_ts"),
        )
    )


def cdc_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage (A6; the totalRows accounting of
    cdc/sink/statistics.go:75-100 + the per-changefeed checkpoint/resolved
    gauges of cdc/processor/metrics.go:21-49, fused into the fold): replay
    the feed through the LWW fold with chain statistics
    (``compact_changes(stats=True)``), then roll the per-key stats up per
    dispatch bucket — the exact (bucket, applied_events, max_commit_ts)
    rows the engine commits into every manifest for resumability
    (engine.py epoch path). The oracle pins the conservation invariant:
    per-key chain lengths sum back to the raw per-bucket event count, i.e.
    the fold loses no events from the lineage accounting."""
    feed = events_as_changefeed(spark, sf_dir)
    folded = compact_changes(
        feed, ["user_id"], ["event_type", "value"], stats=True
    )
    return (
        folded.withColumn("bucket", md5_bucket(F.col("user_id"), 32))
        .groupBy("bucket")
        .agg(
            F.sum("_n_events").cast("bigint").alias("applied_events"),
            F.max("_max_commit_ts").alias("max_commit_ts"),
        )
    )


def cdc_syncpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync-point schedule (K2 sync-point barrier; cdc/owner/barrier.go:28-29
    syncPointBarrier + the syncpoint_v1 table of
    cdc/sink/mysql_syncpoint_store.go:34,159,188): with a sync-point
    interval of E ticks, every E-interval of the feed that contains events
    yields one consistent-snapshot ts — primary_ts = the last commit ts in
    the interval — the (primary_ts, secondary_ts) pair the engine records
    in the manifest's ``syncpoints`` list (lake.py) so upstream at
    primary_ts and the lake at that snapshot can be diffed exactly."""
    E = 1000
    feed = events_as_changefeed(spark, sf_dir)
    return feed.groupBy(
        F.floor(F.col("commit_ts") / E).cast("bigint").alias("interval_id")
    ).agg(
        F.max("commit_ts").alias("primary_ts"),
        F.count("*").alias("events_in_interval"),
    )


# ------------------------------------------------------- dedup / similarity


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_groups(_documents(spark, sf_dir))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_documents(spark, sf_dir), n=3, threshold=0.5)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_documents(spark, sf_dir), k=16, bands=4, n=3)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: documents with doc_id % 10 == 0 play the
    arriving batch, the rest the already-indexed corpus. The batch is
    matched against the corpus' LSH index plus itself — base×base is never
    re-paired, so per-batch cost is O(batch), not O(corpus). Same pair
    shape as dedup_minhash_lsh restricted to pairs touching the batch."""
    docs = _documents(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    return dedup.incremental_minhash_pairs(base, new, k=16, bands=4, n=3)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: pairs → connected components →
    keep/drop per document (the step that actually dedups at 100 TB: the
    pair graph's transitive closure picks one keeper per cluster, the
    compactor's winner-per-key lifted to near-dup equivalence classes)."""
    from tiflow_spark.functions.graph import resolve_clusters

    docs = _documents(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return resolve_clusters(docs, pairs)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_documents(spark, sf_dir), max_hamming=3)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic embeddings are near-orthogonal (max intra-label cosine
    # ~0.5), so the "near-dup" threshold is scaled down to stay demonstrative
    return dedup.embedding_dup_pairs(_embeddings(spark, sf_dir), threshold=0.4)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, queries, k=10)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, k=10)


def ann_ivf_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF for FRESH query vectors: assign each query to its 2 nearest
    centroids (the coarse-quantizer step a vector without a stored cell
    needs), then search only those inverted lists — nprobe=2 recovers the
    recall probe-1 loses at 2/n_cells of the corpus per query."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    return similarity.ivf_topk_fresh(emb, queries, k=10, nprobe=2)


# ----------------------------------------------------------- text analysis


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(_documents(spark, sf_dir))


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.langid_predictions(_documents(spark, sf_dir), top_k=20)


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(_documents(spark, sf_dir))


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_scores(_documents(spark, sf_dir))


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a deterministically PII-augmented corpus: the
    synthetic email/phone/IPv4 per doc is pure doc_id arithmetic, so the
    oracle rebuilds the same fixture and the match pins both the counters
    and the full redacted text byte-for-byte."""
    return text.pii_redact(_documents(spark, sf_dir))


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition filters: top-2-gram, top-3-gram, and
    duplicated-5-gram character fractions per document."""
    return text.repetition_scores(_documents(spark, sf_dir))


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag train docs sharing any 5-token
    shingle with the benchmark slice (doc_id % 7 == 0). The slice is passed
    as an explicit ``bench_docs`` (declared eval-suite-sized → broadcast);
    a real pipeline substitutes the eval corpus here."""
    docs = _documents(spark, sf_dir)
    return text.decontamination(
        docs.filter(F.col("doc_id") % 7 != 0),
        n=5,
        bench_docs=docs.filter(F.col("doc_id") % 7 == 0),
    )


# ------------------------------------------------------------- multimodal


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.binary_media(_documents(spark, sf_dir))
    return multimodal.extract_media_meta(media)


def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real header decode over synthesized VALID media containers: each
    doc_id becomes a bmp/png/wav file whose header parameters are pure
    doc_id arithmetic; the Arrow-batched decoder (struct.unpack over the
    public format layouts) must recover exactly those values — the oracle
    predicts them arithmetically without touching bytes, so any writer or
    parser bug byte-breaks the match."""
    media = multimodal.synthesize_media(_documents(spark, sf_dir))
    return multimodal.decode_media_meta(media)


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel loop over synthesized 24-bpp BMPs with constant-color
    payloads: Arrow-batched decode → nearest-neighbor half-scale resize →
    re-encode. Every output column is pure doc_id arithmetic (the resized
    container's byte length included), so the oracle pins decode, resample,
    and re-encode together — the resize/feature-extract stage of a
    multimodal ingest pipeline (PIL-backed formats remain behind the
    declared decode_image stub)."""
    media = multimodal.synthesize_pixel_media(_documents(spark, sf_dir))
    return multimodal.resize_media(media, scale=0.5)


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling over concatenated-BMP 'videos': the
    container is walked by each frame's own bfSize field, every second
    frame is pixel-decoded, one row per sampled frame. Frame counts, dims,
    and per-frame means are doc_id/frame arithmetic for the oracle."""
    media = multimodal.synthesize_video(_documents(spark, sf_dir))
    return multimodal.frame_sample(media, stride=2)


QUERIES = {
    "cdc_lww_replay": cdc_lww_replay,
    "cdc_canonical_order": cdc_canonical_order,
    "cdc_update_split": cdc_update_split,
    "cdc_watermark_cut": cdc_watermark_cut,
    "cdc_partition_frontier": cdc_partition_frontier,
    "cdc_filter_rules": cdc_filter_rules,
    "cdc_expr_filter_per_op": cdc_expr_filter_per_op,
    "cdc_sql_pattern_filter": cdc_sql_pattern_filter,
    "cdc_txn_group": cdc_txn_group,
    "cdc_salted_dispatch": cdc_salted_dispatch,
    "cdc_schema_asof": cdc_schema_asof,
    "cdc_table_router": cdc_table_router,
    "cdc_multi_table": cdc_multi_table,
    "cdc_old_value": cdc_old_value,
    "cdc_encode_json": cdc_encode_json,
    "cdc_cyclic_filter": cdc_cyclic_filter,
    "cdc_validate_checksum": cdc_validate_checksum,
    "cdc_encode_maxwell": cdc_encode_maxwell,
    "cdc_encode_canal": cdc_encode_canal,
    "cdc_encode_avro": cdc_encode_avro,
    "cdc_encode_canal_pb": cdc_encode_canal_pb,
    "cdc_encode_craft": cdc_encode_craft,
    "cdc_mq_dispatch": cdc_mq_dispatch,
    "cdc_batch_reduce": cdc_batch_reduce,
    "cdc_lineage": cdc_lineage,
    "cdc_syncpoint": cdc_syncpoint,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental": dedup_incremental,
    "dedup_simhash": dedup_simhash,
    "dedup_clusters": dedup_clusters,
    "dedup_embedding": dedup_embedding,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_fresh": ann_ivf_fresh,
    "text_stats": text_stats,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_quality": text_quality,
    "text_pii_redact": text_pii_redact,
    "text_repetition": text_repetition,
    "text_decontaminate": text_decontaminate,
    "mm_binary_meta": mm_binary_meta,
    "mm_decode_meta": mm_decode_meta,
    "mm_resize": mm_resize,
    "mm_frame_sample": mm_frame_sample,
}
