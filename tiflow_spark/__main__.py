"""``python -m tiflow_spark`` — the changefeed lifecycle CLI.

The analogue of the reference's ``cdc cli changefeed`` verbs
(pkg/cmd/cli/cli_changefeed_create.go, cli_changefeed_query.go) over a
TOML config (tiflow_spark.config):

- ``create --config x.toml``  bootstrap the target table(s) from the
  configured full dump (lake sinks; a topic has none), then replay to the
  newest resolved barrier.
- ``run --config x.toml``     resume replay from the committed checkpoint
  (no bootstrap; crash-safe — the manifest fence makes re-runs exact).
- ``query --config x.toml``   print the changefeed's status as JSON:
  per-table checkpoint ts/seq, epoch, schema version, per-bucket lineage,
  sync points (``cdc cli changefeed query`` analogue — the state lives in
  the lake manifest instead of etcd); for an MQ sink, the topic manifest
  (offsets + barrier).
- ``stream --config x.toml``  tail the log with the Structured Streaming
  front-end: drain everything currently in the log (availableNow) by
  default, or stay up ticking every ``--trigger N`` seconds. Bootstraps
  first when the table is missing and the config names a ``base`` dump.
- ``gc --config x.toml``      expire manifests older than the last
  ``gc-keep-last`` epochs and delete unreferenced data files (the C4 GC
  safepoint, cdc/owner/changefeed.go:253-270 — manifest-level, no Spark).
  Lake sinks only, like ``validate``: a topic has no snapshots or digests.
- ``pause / resume --config x.toml``  flip the changefeed's admin state
  (pkg/cmd/cli/cli_changefeed_pause.go/_resume.go): a paused feed's
  ``run``/``stream`` refuse until resumed. Like the reference — where the
  cli only flips etcd state and the server process does the work — these
  are metadata-only; ``run`` is our server process and performs the
  actual replay from the committed checkpoint after a resume.
- ``remove --config x.toml [--drop-data]``  deregister the changefeed
  (cli_changefeed_remove.go): tombstone its admin state, delete its
  streaming-source checkpoint, release the upstream log-retention pin;
  downstream data is kept unless ``--drop-data``. ``create`` re-registers
  a removed feed id.
- ``list --config-dir d/``    one status row per TOML config in the
  directory (cli_changefeed_list.go): admin state + committed
  checkpoint/epoch from the manifests. Manifest-level, no Spark.
- ``validate --config x.toml``  full-table audit of the downstream state
  against the committed per-bucket checksums (the continuous validator's
  point-in-time mode, dm/syncer/data_validator.go:62-196; requires
  ``validate-state = true`` runs to have recorded digests). Per-epoch
  incremental validation is the ``validate-state`` config knob: every
  MERGE re-verifies the buckets it touches before folding onto them.

Session: ``--master local[N]`` (default from SPARK_GRAFT_CPUS) builds a
local session; ``--master submit`` defers to the enclosing spark-submit's
configuration (use with ``spark-submit --py-files tiflow_spark.zip -m ...``
or ``tools/submit_replay.py``-style launchers).
"""

from __future__ import annotations

import argparse
import json
import sys

from tiflow_spark.config import ChangefeedConfig, build_engine, load_config


def _session(master: str):
    if master == "submit":
        from pyspark.sql import SparkSession

        return SparkSession.builder.getOrCreate()
    if not (master.startswith("local[") and master.endswith("]")):
        # silently building a local session for 'yarn'/'spark://...' would
        # run the job on this machine while the user believes it was
        # submitted to a cluster — refuse; cluster masters go through
        # spark-submit with --master submit here
        raise SystemExit(
            f"unsupported --master {master!r}: use local[N] or 'submit' "
            "(inherit the enclosing spark-submit's configuration)"
        )
    from tiflow_spark.session import get_spark

    n = master[len("local["):-1]
    cpus = None if n == "*" else int(n)
    return get_spark(app="tiflow_spark_cli", cpus=cpus)


def _bootstrap(spark, cfg: ChangefeedConfig, engine) -> None:
    if cfg.sink_type == "mq":
        return  # a topic has no full dump to restore
    if cfg.multi_table:
        bases = {r.target: r.base for r in cfg.routes if r.base}
        engine.bootstrap(spark, bases, start_ts=cfg.start_ts)
    else:
        if not cfg.base:
            raise SystemExit("create requires `base` (the full dump) in the config")
        engine.bootstrap(
            spark, cfg.base, start_ts=cfg.start_ts,
            chunk_files=cfg.bootstrap_chunk_files,
        )


def _gc(cfg: ChangefeedConfig, engine) -> dict:
    """GC safepoint (C4): expire old manifests + unreferenced data files,
    keeping the last ``gc-keep-last`` epochs per table."""
    if cfg.multi_table:
        return {
            name: t.expire_snapshots(keep_last=cfg.gc_keep_last)
            for name, t in engine.tables.items()
        }
    return engine.table.expire_snapshots(keep_last=cfg.gc_keep_last)


def _summary(stats) -> dict:
    """One result line for every front end, from its RunStats: epochs
    applied (one per target per barrier), events applied or published,
    newest barrier."""
    return {
        "epochs": len(stats.epochs),
        "events": stats.total_events,
        "barrier_ts": stats.epochs[-1].barrier_ts if stats.epochs else None,
    }


def _run(spark, cfg: ChangefeedConfig, engine) -> dict:
    return _summary(engine.run(
        spark,
        barrier_stride=cfg.barrier_stride,
        target_ts=cfg.target_ts,
        validate_resolved=cfg.validate_resolved,
        syncpoint_every=cfg.syncpoint_every,
    ))


def _query(cfg: ChangefeedConfig, engine) -> dict:
    from tiflow_spark.lifecycle import read_state

    admin = read_state(cfg.target)["state"]
    if cfg.sink_type == "mq":
        return {**engine.sink.topic_state(), "state": admin}

    def table_status(table) -> dict:
        m = table.current_manifest()
        if m is None:
            return {"state": "not bootstrapped"}
        return {
            "state": admin,
            "epoch": m["epoch"],
            "checkpoint_ts": m["checkpoint_ts"],
            "checkpoint_seq": m.get("checkpoint_seq", -1),
            "schema_version": m["schema_version"],
            "num_buckets": m["num_buckets"],
            "data_files": len(m["files"]),
            "lineage": m.get("lineage", []),
            "syncpoints": m.get("syncpoints", []),
        }

    if cfg.multi_table:
        return {
            "changefeed": cfg.log,
            "checkpoint_ts": engine.checkpoint_ts(),  # owner's view
            "tables": {n: table_status(t) for n, t in engine.tables.items()},
        }
    return {"changefeed": cfg.log, **table_status(engine.table)}


def _stream(spark, cfg: ChangefeedConfig, engine, trigger: float | None) -> dict:
    import os

    from tiflow_spark.engine import RunStats
    from tiflow_spark.streaming.changefeed_stream import StreamingChangefeed

    sc = StreamingChangefeed(
        engine,
        cfg.stream_checkpoint or os.path.join(cfg.target, "_stream_ckpt"),
        max_files_per_trigger=cfg.max_files_per_trigger,
    )
    if trigger:
        q = sc.start(spark, trigger_seconds=trigger)
        q.awaitTermination()  # until interrupted
    else:
        sc.run_available(spark)
    return _summary(RunStats(sc.epochs))


def main(argv=None) -> int:
    from tiflow_spark import lifecycle

    p = argparse.ArgumentParser(prog="python -m tiflow_spark")
    p.add_argument("verb", choices=["create", "run", "query", "stream", "gc",
                                    "pause", "resume", "remove", "list",
                                    "validate"])
    p.add_argument("--config", default=None, help="changefeed TOML file")
    p.add_argument("--config-dir", default=None,
                   help="list: directory of changefeed TOML files")
    p.add_argument("--master", default="local[*]",
                   help="local[N] | submit (inherit spark-submit conf)")
    p.add_argument("--trigger", type=float, default=None,
                   help="stream: tick every N seconds (default: drain once)")
    p.add_argument("--drop-data", action="store_true",
                   help="remove: also tear down the sink directory")
    a = p.parse_args(argv)

    if a.verb == "list":
        if not a.config_dir:
            raise SystemExit("list requires --config-dir")
        print(json.dumps(lifecycle.list_changefeeds(a.config_dir), indent=2))
        return 0
    if not a.config:
        raise SystemExit(f"{a.verb} requires --config")

    try:
        cfg = load_config(a.config)
    except (ValueError, OSError) as e:  # bad or refused config, missing log
        raise SystemExit(f"{a.config}: {e}")

    # lifecycle verbs: metadata-only, sink-agnostic, no Spark session
    if a.verb in ("pause", "resume", "remove"):
        if a.verb == "pause":
            st = lifecycle.pause(cfg.target)
        elif a.verb == "resume":
            st = lifecycle.resume(cfg.target)
        else:
            import os

            st = lifecycle.remove(
                cfg.target,
                stream_checkpoint=cfg.stream_checkpoint
                or os.path.join(cfg.target, "_stream_ckpt"),
                drop_data=a.drop_data,
            )
        print(json.dumps({"verb": a.verb, "result": st}))
        return 0

    engine = build_engine(cfg)

    if a.verb == "query":  # no Spark session needed — manifests are files
        print(json.dumps(_query(cfg, engine), indent=2, sort_keys=True))
        return 0
    if a.verb in ("gc", "validate") and cfg.sink_type == "mq":
        raise SystemExit(f"{a.verb} is not supported for [sink] type='mq'")
    if a.verb == "gc":  # manifest-level too — no Spark session
        print(json.dumps({"verb": "gc", "result": _gc(cfg, engine)}))
        return 0
    if a.verb == "validate":
        # read-only full-table audit against the committed per-bucket
        # checksums (dm/syncer/data_validator.go full-check mode); allowed
        # while paused — it never writes
        from tiflow_spark.lake import ChecksumDrift

        spark = _session(a.master)
        try:
            if cfg.multi_table:
                result = {
                    name: t.verify_snapshot(spark)
                    for name, t in engine.tables.items()
                }
            else:
                result = engine.table.verify_snapshot(spark)
        except ChecksumDrift as e:
            raise SystemExit(f"validation failed: {e}")
        finally:
            spark.stop()
        print(json.dumps({"verb": "validate", "result": result}))
        return 0

    # replication verbs respect the admin state (the owner skips stopped
    # changefeeds); create re-registers a removed feed id
    if a.verb == "create":
        lifecycle.activate(cfg.target)
    else:
        lifecycle.check_runnable(cfg.target)

    spark = _session(a.master)
    try:
        if a.verb == "create" or (
            a.verb == "stream" and engine.checkpoint_ts() is None
        ):
            _bootstrap(spark, cfg, engine)
        if a.verb == "stream":
            result = _stream(spark, cfg, engine, a.trigger)
        else:
            result = _run(spark, cfg, engine)
        print(json.dumps({"verb": a.verb, "result": result}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
