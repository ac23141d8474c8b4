"""Changefeed lifecycle state — the pause/resume/remove control plane.

The reference keeps per-changefeed admin state (normal/stopped/removed) in
etcd and drives it with ``cdc cli changefeed pause|resume|remove|list``
(pkg/cmd/cli/cli_changefeed_pause.go, _resume.go, _remove.go, _list.go;
cdc/model/changefeed.go StateNormal/StateStopped/StateRemoved). Here the
admin state is a tiny JSON sidecar ``_CHANGEFEED`` at the sink root
(next to the table's ``_manifests`` / the topic's ``_TOPIC``): the same
single-writer atomic-rename discipline as every other commit file, no etcd.

Semantics mirrored:

- pause   — replication stops; checkpoint and data stay (StateStopped).
            ``run``/``stream`` refuse while paused.
- resume  — back to normal; replay continues from the committed checkpoint
            (cli_changefeed_resume.go restarts from checkpointTs).
- remove  — the changefeed is deregistered: its admin state is tombstoned
            and its streaming-source checkpoint is deleted, RELEASING the
            upstream log retention pin (the C4 GC-safepoint counterpart —
            a removed feed no longer holds the safepoint, so the upstream
            can GC past it). Downstream data is KEPT, exactly like the
            reference's remove (the materialized table outlives the feed);
            ``--drop-data`` additionally tears down the sink directory.
- create  — re-creating after remove re-registers the feed (the reference
            allows a removed changefeed id to be created anew).
- list    — enumerate changefeeds from a config directory, reading each
            feed's admin state + manifest checkpoint (cli_changefeed_list
            over the etcd keyspace becomes a scan over TOML + manifests).
"""

from __future__ import annotations

import json
import os
import uuid

STATE_NORMAL = "normal"
STATE_PAUSED = "paused"
STATE_REMOVED = "removed"


def _state_path(sink_root: str) -> str:
    return os.path.join(sink_root, "_CHANGEFEED")


def read_state(sink_root: str) -> dict:
    """Admin state for the changefeed writing to ``sink_root``; a feed with
    no sidecar is implicitly normal (pre-lifecycle feeds keep working)."""
    fp = _state_path(sink_root)
    if not os.path.exists(fp):
        return {"state": STATE_NORMAL}
    with open(fp) as f:
        return json.load(f)


def write_state(sink_root: str, state: dict) -> None:
    os.makedirs(sink_root, exist_ok=True)
    fp = _state_path(sink_root)
    tmp = fp + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(state, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, fp)


def check_runnable(sink_root: str) -> None:
    """Refuse replication verbs for paused/removed feeds (the reference's
    owner skips stopped changefeeds, cdc/owner/owner.go admin-job gate)."""
    st = read_state(sink_root)["state"]
    if st == STATE_PAUSED:
        raise SystemExit(
            "changefeed is paused — `resume` it before running"
        )
    if st == STATE_REMOVED:
        raise SystemExit(
            "changefeed was removed — `create` it again to re-register"
        )


def pause(sink_root: str) -> dict:
    st = read_state(sink_root)
    if st["state"] == STATE_REMOVED:
        raise SystemExit("cannot pause a removed changefeed")
    st["state"] = STATE_PAUSED
    write_state(sink_root, st)
    return st


def resume(sink_root: str) -> dict:
    st = read_state(sink_root)
    if st["state"] == STATE_REMOVED:
        raise SystemExit("cannot resume a removed changefeed — create it again")
    st["state"] = STATE_NORMAL
    write_state(sink_root, st)
    return st


def remove(
    sink_root: str,
    stream_checkpoint: str | None = None,
    drop_data: bool = False,
) -> dict:
    """Deregister the changefeed. Keeps downstream data by default (the
    reference's remove); ``drop_data`` tears the sink directory down too."""
    import shutil

    if stream_checkpoint and os.path.isdir(stream_checkpoint):
        shutil.rmtree(stream_checkpoint)
    if drop_data:
        if os.path.isdir(sink_root):
            shutil.rmtree(sink_root)
        return {"state": STATE_REMOVED, "dropped_data": True}
    st = read_state(sink_root)
    st["state"] = STATE_REMOVED
    write_state(sink_root, st)
    return st


def activate(sink_root: str) -> None:
    """create-verb hook: (re-)register the feed as normal — re-creating a
    removed changefeed id is allowed, as in the reference."""
    st = read_state(sink_root)
    if st["state"] != STATE_NORMAL:
        st["state"] = STATE_NORMAL
        write_state(sink_root, st)


def list_changefeeds(config_dir: str) -> list[dict]:
    """One row per TOML config in ``config_dir``: feed id (file stem),
    admin state, and the committed checkpoint/epoch from the manifest(s)."""
    from tiflow_spark.config import build_engine, load_config

    rows = []
    for fn in sorted(os.listdir(config_dir)):
        if not fn.endswith(".toml"):
            continue
        feed_id = fn[: -len(".toml")]
        try:
            cfg = load_config(os.path.join(config_dir, fn))
        except Exception as e:  # unreadable config is still listed
            rows.append({"id": feed_id, "state": "invalid", "error": str(e)})
            continue
        row = {"id": feed_id, "state": read_state(cfg.target)["state"],
               "sink": cfg.sink_type, "target": cfg.target}
        engine = build_engine(cfg)
        if cfg.sink_type == "mq":
            ts = engine.sink.topic_state()
            row["protocol"] = ts.get("protocol") or engine.protocol
            # a topic has a checkpoint once its first epoch is published
            row["checkpoint_ts"] = ts.get("barrier_ts")
        else:
            row["checkpoint_ts"] = engine.checkpoint_ts()
        # one rule (EpochDriver.checkpoint_ts): checkpoint and epoch stay
        # null until every target has a manifest
        row["epoch"] = None if row["checkpoint_ts"] is None else min(
            st["epoch"] for st in engine._states().values()
        )
        if row["checkpoint_ts"] is None and row["state"] == STATE_NORMAL:
            row["state"] = "not bootstrapped"
        rows.append(row)
    return rows
