"""Multi-table changefeed replication e2e (SURVEY.md §2: per-table pipelines).

Reference semantics pinned here:
- per-table everything: independent registries, checkpoints, lineage
  (cdc/processor/processor.go:284-400, dm/syncer/checkpoint.go:611-751);
- DM route rules: glob source → target, first match wins, unmatched dropped
  (dm/syncer/syncer.go:2450, pkg/filter glob rules);
- shard-merge: several source globs onto one target (dm/tests/shardddl*);
- resolved-ts (R) rows are changefeed-global;
- mixed-progress resume: a table that committed an epoch before a crash
  no-ops that barrier on resume while the behind table catches up.
"""

from __future__ import annotations

import os

import pytest

from tiflow_spark.engine import MultiTableEngine
from tiflow_spark.lake import LakeTable
from tiflow_spark.oracle import sequential_apply

from tests.helpers import assert_tables_equal, ev, pl, write_base, write_log


def _two_table_feed(tmp_path):
    """Two tables with independent DDL streams + an unrouted third table."""
    base_a = write_base(
        os.path.join(str(tmp_path), "base_a", "t.parquet"),
        [("a1", 0, "user", "alpha hello", None, "2024-01-01T00:00:00"),
         ("a2", 0, "user", "alpha other", None, "2024-01-01T00:00:01")],
    )
    base_b = write_base(
        os.path.join(str(tmp_path), "base_b", "t.parquet"),
        [("b1", 0, "assistant", "beta hello", "search", "2024-01-01T00:00:02")],
    )
    events = [
        ev(0, "U", 101, "a1", 0, pl("alpha v2"), tbl="app.alpha"),
        ev(1, "I", 102, "b1", 1, pl("beta turn1"), tbl="app.beta"),
        ev(2, "R", 103),
        # independent DDL streams: alpha adds a column, beta renames one
        ev(3, "DDL", 104, ddl={"action": "add_column", "name": "note",
                               "type": "string", "default": "d"},
           tbl="app.alpha"),
        ev(4, "DDL", 105, ddl={"action": "rename_column", "name": "tool",
                               "new_name": "instrument"}, tbl="app.beta"),
        ev(5, "U", 106, "a1", 0,
           {"role": "user", "text": "alpha v3", "tool": None,
            "ts": "2024-01-01T00:01:00", "note": "n1"}, ver=None,
           tbl="app.alpha"),
        ev(6, "U", 107, "b1", 0,
           {"role": "assistant", "text": "beta v2", "instrument": "python",
            "ts": "2024-01-01T00:01:01"}, ver=None, tbl="app.beta"),
        ev(7, "D", 108, "a2", 0, tbl="app.alpha"),
        # a table no rule routes → must not land anywhere
        ev(8, "I", 109, "zz", 0, pl("ghost"), tbl="other.gamma"),
        ev(9, "R", 110),
        ev(10, "I", 111, "b2", 0, pl("beta new conv"), tbl="app.beta"),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    return base_a, base_b, log_dir


def _engine(tmp_path, log_dir):
    return MultiTableEngine(
        log_dir,
        tables={
            "alpha": LakeTable(str(tmp_path / "tgt_alpha"), num_buckets=2),
            "beta": LakeTable(str(tmp_path / "tgt_beta"), num_buckets=2),
        },
        rules=[("app.alpha", "alpha"), ("app.beta", "beta")],
    )


def test_multi_table_replay_matches_per_table_oracle(spark, tmp_path):
    base_a, base_b, log_dir = _two_table_feed(tmp_path)
    eng = _engine(tmp_path, log_dir)
    eng.bootstrap(spark, {"alpha": os.path.dirname(base_a),
                          "beta": os.path.dirname(base_b)})
    stats = eng.run(spark, barrier_stride=1)
    per = [e.target for e in stats.epochs]
    assert per.count("alpha") == 3 and per.count("beta") == 3
    assert all(e.committed for e in stats.epochs)

    got_a = eng.final_state(spark, "alpha").toPandas()
    got_b = eng.final_state(spark, "beta").toPandas()
    exp_a = sequential_apply(base_a, log_dir, source_tables={"app.alpha"})
    exp_b = sequential_apply(base_b, log_dir, source_tables={"app.beta"})
    assert_tables_equal(got_a, exp_a)
    assert_tables_equal(got_b, exp_b)
    # independent schema evolution landed on the right tables
    assert "note" in got_a.columns and "instrument" in got_b.columns
    assert "instrument" not in got_a.columns and "note" not in got_b.columns
    # the unrouted table's row landed nowhere
    assert "zz" not in set(got_a["conv_id"]) | set(got_b["conv_id"])


def test_multi_table_mixed_progress_resume(spark, tmp_path):
    """Crash between table commits within a barrier round: alpha committed,
    beta did not → on resume alpha fences/no-ops, beta catches up; finals
    still byte-match the per-table oracles."""
    base_a, base_b, log_dir = _two_table_feed(tmp_path)
    eng = _engine(tmp_path, log_dir)
    eng.bootstrap(spark, {"alpha": os.path.dirname(base_a),
                          "beta": os.path.dirname(base_b)})
    # first barrier round for both tables
    eng.run(spark, max_epochs=1, barrier_stride=1)
    chk_after_1 = eng.checkpoint_ts()
    # simulate crash mid-round-2: advance ONLY alpha to the second barrier
    solo = MultiTableEngine(
        log_dir, tables={"alpha": eng.tables["alpha"]},
        rules=[("app.alpha", "alpha")],
    )
    solo.run(spark, max_epochs=1, barrier_stride=1)
    assert eng.tables["alpha"].current_manifest()["checkpoint_ts"] > chk_after_1
    assert eng.tables["beta"].current_manifest()["checkpoint_ts"] == chk_after_1

    # resume with a FRESH engine: beta replays barrier 2, alpha skips it
    eng2 = _engine(tmp_path, log_dir)
    stats = eng2.run(spark, barrier_stride=1)
    assert all(e.committed for e in stats.epochs)
    per = [e.target for e in stats.epochs]
    assert per.count("beta") == per.count("alpha") + 1
    assert_tables_equal(
        eng2.final_state(spark, "alpha").toPandas(),
        sequential_apply(base_a, log_dir, source_tables={"app.alpha"}),
    )
    assert_tables_equal(
        eng2.final_state(spark, "beta").toPandas(),
        sequential_apply(base_b, log_dir, source_tables={"app.beta"}),
    )


def test_shard_merge_routing(spark, tmp_path):
    """Two source shards route onto ONE target (DM shard-merge): rows from
    both shards land, LWW across shards by commit_ts."""
    base = write_base(
        os.path.join(str(tmp_path), "base", "t.parquet"),
        [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")],
    )
    events = [
        ev(0, "U", 101, "c1", 0, pl("from shard 1"), tbl="app.users_1"),
        ev(1, "U", 102, "c1", 0, pl("from shard 2"), tbl="app.users_2"),
        ev(2, "I", 103, "c2", 0, pl("shard 1 insert"), tbl="app.users_1"),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    eng = MultiTableEngine(
        log_dir,
        tables={"users": LakeTable(str(tmp_path / "tgt"), num_buckets=2)},
        rules=[("app.users_*", "users")],
    )
    eng.bootstrap(spark, {"users": os.path.dirname(base)})
    eng.run(spark)
    got = eng.final_state(spark, "users").toPandas()
    exp = sequential_apply(
        base, log_dir, source_tables={"app.users_1", "app.users_2"}
    )
    assert_tables_equal(got, exp)
    by_key = {(r.conv_id, r.turn_idx): r.text for r in got.itertuples()}
    assert by_key[("c1", 0)] == "from shard 2"  # later shard write wins


def test_multi_table_streaming_tail(spark, tmp_path):
    """The Structured Streaming front-end drives a MULTI-table changefeed:
    micro-batch ticks advance every routed table to the discovered resolved
    marks; finals byte-match the per-table oracles."""
    from tiflow_spark.streaming import StreamingChangefeed

    base_a, base_b, log_dir = _two_table_feed(tmp_path)
    eng = _engine(tmp_path, log_dir)
    eng.bootstrap(spark, {"alpha": os.path.dirname(base_a),
                          "beta": os.path.dirname(base_b)})
    sc = StreamingChangefeed(eng, str(tmp_path / "chk"))
    epochs = sc.run_available(spark)
    assert epochs and all(e.committed for e in epochs)
    assert_tables_equal(
        eng.final_state(spark, "alpha").toPandas(),
        sequential_apply(base_a, log_dir, source_tables={"app.alpha"}),
    )
    assert_tables_equal(
        eng.final_state(spark, "beta").toPandas(),
        sequential_apply(base_b, log_dir, source_tables={"app.beta"}),
    )


def test_first_match_wins_routing(spark, tmp_path):
    """Overlapping rules: an earlier narrow rule claims its table before a
    later catch-all — the event must land exactly once."""
    base = write_base(
        os.path.join(str(tmp_path), "base", "t.parquet"), []
    )
    events = [
        ev(0, "I", 101, "c1", 0, pl("to special"), tbl="app.special"),
        ev(1, "I", 102, "c2", 0, pl("to rest"), tbl="app.other"),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    eng = MultiTableEngine(
        log_dir,
        tables={"special": LakeTable(str(tmp_path / "tgt_s"), num_buckets=2),
                "rest": LakeTable(str(tmp_path / "tgt_r"), num_buckets=2)},
        rules=[("app.special", "special"), ("app.*", "rest")],
    )
    eng.bootstrap(spark, {"special": os.path.dirname(base),
                          "rest": os.path.dirname(base)})
    eng.run(spark)
    got_s = eng.final_state(spark, "special").toPandas()
    got_r = eng.final_state(spark, "rest").toPandas()
    assert set(got_s["conv_id"]) == {"c1"}
    assert set(got_r["conv_id"]) == {"c2"}


def test_route_glob_anchored_whole_name(spark, tmp_path):
    """Exact-rule 'transcripts' must NOT claim 'old_transcripts': routing
    regexes are anchored at BOTH ends so executor-side routing matches the
    whole source name, identically to driver-side route_name (which uses
    fnmatch.fnmatch). Regression test for the unanchored-rlike bug where
    fnmatch.translate()'s regex matched as a suffix."""
    base = write_base(os.path.join(str(tmp_path), "base", "t.parquet"), [])
    events = [
        ev(0, "I", 101, "c1", 0, pl("new row"), tbl="transcripts"),
        ev(1, "I", 102, "c2", 0, pl("old row"), tbl="old_transcripts"),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    eng = MultiTableEngine(
        log_dir,
        tables={"t_new": LakeTable(str(tmp_path / "tgt_n"), num_buckets=2),
                "t_old": LakeTable(str(tmp_path / "tgt_o"), num_buckets=2)},
        rules=[("transcripts", "t_new"), ("old_*", "t_old")],
    )
    eng.bootstrap(spark, {"t_new": os.path.dirname(base),
                          "t_old": os.path.dirname(base)})
    eng.run(spark)
    got_n = eng.final_state(spark, "t_new").toPandas()
    got_o = eng.final_state(spark, "t_old").toPandas()
    assert set(got_n["conv_id"]) == {"c1"}  # no suffix-claimed old row
    assert set(got_o["conv_id"]) == {"c2"}


def test_multitable_passes_incremental_validation_floor(spark, tmp_path, monkeypatch):
    """Resumed multi-table runs prune contract validation below the min
    committed checkpoint_seq (mirrors the single-table seq_floor path) —
    without it every run re-scans the whole DML log, O(runs x log)."""
    import tiflow_spark.engine as engine_mod

    base_a, base_b, log_dir = _two_table_feed(tmp_path)
    eng = _engine(tmp_path, log_dir)
    eng.bootstrap(spark, {"alpha": os.path.dirname(base_a),
                          "beta": os.path.dirname(base_b)})
    eng.run(spark)
    floors = [eng.tables[n].current_manifest().get("checkpoint_seq", -1)
              for n in eng.tables]
    assert min(floors) >= 0  # both tables committed a resolved promise

    seen = {}
    real = engine_mod.validate_resolved_contract

    def spy(spark_, log, marks, seq_floor=-1):
        seen["floor"] = seq_floor
        return real(spark_, log, marks, seq_floor=seq_floor)

    monkeypatch.setattr(engine_mod, "validate_resolved_contract", spy)
    eng2 = _engine(tmp_path, log_dir)
    eng2.run(spark)
    assert seen["floor"] == min(floors)


def test_streaming_tick_reads_control_once(spark, tmp_path, monkeypatch):
    """advance_to (the streaming tick unit) reads the control plane ONCE
    per tick and routes DDL rows driver-side — not one collect job per
    routed table (the batch run() shape, hoisted)."""
    import tiflow_spark.engine as engine_mod

    base_a, base_b, log_dir = _two_table_feed(tmp_path)
    eng = _engine(tmp_path, log_dir)
    eng.bootstrap(spark, {"alpha": os.path.dirname(base_a),
                          "beta": os.path.dirname(base_b)})
    calls = {"n": 0}
    real = engine_mod.read_control

    def spy(spark_, log_path, low_ts, cols):
        calls["n"] += 1
        return real(spark_, log_path, low_ts, cols)

    monkeypatch.setattr(engine_mod, "read_control", spy)
    barrier = max(
        r["commit_ts"]
        for r in real(spark, log_dir, 0, ("op", "commit_ts", "seq", "ddl"))
        if r["op"] == "R"
    )
    out = eng.advance_to(spark, barrier)
    assert len(out) == 2  # both tables advanced in this tick
    assert calls["n"] == 1  # ONE control read for the whole tick
    assert_tables_equal(
        eng.final_state(spark, "alpha").toPandas(),
        sequential_apply(base_a, log_dir, source_tables={"app.alpha"},
                         barrier_ts=barrier),
    )
    assert_tables_equal(
        eng.final_state(spark, "beta").toPandas(),
        sequential_apply(base_b, log_dir, source_tables={"app.beta"},
                         barrier_ts=barrier),
    )


def test_shard_ddl_optimist_dedup(spark, tmp_path):
    """Optimist-mode shard-DDL coordination (D3/D4 sliver,
    dm/master/shardddl/optimist.go via registry.reconcile_shard_ddl): both
    shards of a merge target replay the SAME ADD COLUMN at different
    positions. The joint schema evolves ONCE (first arrival); the lagging
    shard's re-arrival is a no-op; the lagging shard's in-between event —
    written before ITS copy of the DDL executed — decodes under the joint
    schema with the column default (divergent-window decode); and the final
    table byte-matches the shard-merge oracle under the same rule."""
    base = write_base(
        os.path.join(str(tmp_path), "base", "t.parquet"),
        [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")],
    )
    add_note = {"action": "add_column", "name": "note", "type": "string",
                "default": "dflt"}
    events = [
        ev(0, "DDL", 101, ddl=add_note, tbl="app.users_1"),  # shard 1 first
        ev(1, "U", 102, "c1", 0, pl("s1 post-ddl", note="n1"),
           tbl="app.users_1", ver=2),
        # shard 2 hasn't run its DDL yet: pre-DDL image stamped with the
        # shard's OWN (old) schema version, as a lagging DM shard does
        ev(2, "U", 103, "c2", 0, pl("s2 pre-ddl"), tbl="app.users_2",
           ver=1),
        ev(3, "DDL", 104, ddl=add_note, tbl="app.users_2"),  # re-arrival
        ev(4, "U", 105, "c3", 0, pl("s2 post-ddl", note="n2"),
           tbl="app.users_2", ver=None),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    eng = MultiTableEngine(
        log_dir,
        tables={"users": LakeTable(str(tmp_path / "tgt"), num_buckets=2)},
        rules=[("app.users_*", "users")],
    )
    eng.bootstrap(spark, {"users": os.path.dirname(base)})
    stats = eng.run(spark)
    # one schema apply, not two: the target registry has exactly 2 versions
    reg = eng.tables["users"].registry()
    assert [v.version for v in reg.versions] == [1, 2]
    got = eng.final_state(spark, "users").toPandas()
    by_key = {(r.conv_id, r.turn_idx): r.note for r in got.itertuples()}
    assert by_key[("c1", 0)] == "n1"
    assert by_key[("c2", 0)] == "dflt"  # divergent-window default fill
    assert by_key[("c3", 0)] == "n2"
    assert_tables_equal(
        got,
        sequential_apply(base, log_dir,
                         source_tables={"app.users_1", "app.users_2"},
                         shard_merge=True),
    )


def test_shard_ddl_conflict_raises(spark, tmp_path):
    """Incompatible shard DDLs (same column name, different types) raise
    ShardDDLConflict loudly — the optimist conflict state — instead of
    silently applying either schema."""
    from tiflow_spark.registry import ShardDDLConflict

    base = write_base(
        os.path.join(str(tmp_path), "base", "t.parquet"),
        [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")],
    )
    events = [
        ev(0, "DDL", 101, ddl={"action": "add_column", "name": "note",
                               "type": "string"}, tbl="app.users_1"),
        ev(1, "DDL", 102, ddl={"action": "add_column", "name": "note",
                               "type": "bigint"}, tbl="app.users_2"),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    eng = MultiTableEngine(
        log_dir,
        tables={"users": LakeTable(str(tmp_path / "tgt2"), num_buckets=2)},
        rules=[("app.users_*", "users")],
    )
    eng.bootstrap(spark, {"users": os.path.dirname(base)})
    with pytest.raises(ShardDDLConflict, match="note"):
        eng.run(spark)


def test_reconcile_shard_ddl_matrix():
    """Driver-side reconciliation table: apply / noop / conflict for every
    column-DDL shape against a joint schema."""
    from tiflow_spark.registry import (
        ShardDDLConflict, SchemaRegistry, reconcile_shard_ddl as rec,
    )

    reg = SchemaRegistry.initial()  # role/text/tool/ts
    reg.apply_ddl({"action": "add_column", "name": "note",
                   "type": "string", "default": "d"}, 100)

    assert rec(reg, {"action": "add_column", "name": "fresh"}) == "apply"
    assert rec(reg, {"action": "add_column", "name": "note",
                     "type": "string", "default": "d"}) == "noop"
    assert rec(reg, {"action": "add_column", "name": "note",
                     "type": "string"}) == "noop"  # default omitted = same
    with pytest.raises(ShardDDLConflict):
        rec(reg, {"action": "add_column", "name": "note", "type": "bigint"})
    assert rec(reg, {"action": "drop_column", "name": "note"}) == "apply"
    assert rec(reg, {"action": "drop_column", "name": "gone"}) == "noop"
    assert rec(reg, {"action": "rename_column", "name": "note",
                     "new_name": "memo"}) == "apply"
    assert rec(reg, {"action": "rename_column", "name": "gone",
                     "new_name": "note"}) == "noop"  # already renamed
    with pytest.raises(ShardDDLConflict):
        rec(reg, {"action": "rename_column", "name": "note",
                  "new_name": "text"})  # collides with live column
    with pytest.raises(ShardDDLConflict):
        rec(reg, {"action": "rename_column", "name": "gone",
                  "new_name": "also_gone"})
    assert rec(reg, {"action": "modify_column", "name": "note",
                     "type": "bigint"}) == "apply"
    assert rec(reg, {"action": "modify_column", "name": "note",
                     "type": "string", "default": "d"}) == "noop"
    with pytest.raises(ShardDDLConflict):
        rec(reg, {"action": "modify_column", "name": "gone",
                  "type": "string"})
    assert rec(reg, {"action": "truncate_table"}) == "apply"  # global ops


def test_streaming_shard_ddl_and_sql_patterns_parity(spark, tmp_path):
    """The STREAMING front-end's multi-table sub-applies carry the same
    shard-DDL dedup and sql-pattern config as the batch path (front-ends
    must stay byte-identical): a duplicated shard ADD COLUMN applies once,
    a pattern-matched DDL is skipped, and the streamed final byte-matches
    both the batch replay and the filtered shard-merge oracle."""
    from tiflow_spark.streaming import StreamingChangefeed

    base = write_base(
        os.path.join(str(tmp_path), "base", "t.parquet"),
        [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")],
    )
    add_note = {"action": "add_column", "name": "note", "type": "string",
                "default": "d"}
    add_secret = {"action": "add_column", "name": "secret",
                  "type": "string", "default": "s"}
    events = [
        ev(0, "DDL", 101, ddl=add_note, tbl="app.users_1"),
        ev(1, "DDL", 102, ddl=add_secret, tbl="app.users_1"),  # filtered
        ev(2, "U", 103, "c1", 0, pl("s1", note="n"), tbl="app.users_1",
           ver=None),
        ev(3, "R", 150),
        ev(4, "DDL", 201, ddl=add_note, tbl="app.users_2"),  # shard dup
        ev(5, "U", 202, "c2", 0, pl("s2"), tbl="app.users_2", ver=1),
        ev(6, "R", 300),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    pats = ["ADD COLUMN secret"]

    def mk(tag):
        return MultiTableEngine(
            log_dir,
            tables={"users": LakeTable(str(tmp_path / f"tgt_{tag}"),
                                       num_buckets=2)},
            rules=[("app.users_*", "users")],
            sql_patterns=pats,
        )

    streamed = mk("stream")
    streamed.bootstrap(spark, {"users": os.path.dirname(base)})
    epochs = StreamingChangefeed(
        streamed, str(tmp_path / "chk")
    ).run_available(spark)
    assert epochs and all(e.committed for e in epochs)

    batch = mk("batch")
    batch.bootstrap(spark, {"users": os.path.dirname(base)})
    batch.run(spark, barrier_stride=1)

    got_s = streamed.final_state(spark, "users").toPandas()
    got_b = batch.final_state(spark, "users").toPandas()
    assert "secret" not in got_s.columns and "note" in got_s.columns
    reg = streamed.tables["users"].registry()
    assert [v.version for v in reg.versions] == [1, 2]  # note once, no secret
    assert_tables_equal(got_s, got_b)
    assert_tables_equal(
        got_s,
        sequential_apply(base, log_dir,
                         source_tables={"app.users_1", "app.users_2"},
                         shard_merge=True, sql_patterns=pats),
    )


def test_online_ddl_classifier_and_filter(spark):
    """Classifier matrix for both schemes + the executor-side DML filter
    twin: helper-table DML drops, real and NULL-table rows keep."""
    from tiflow_spark.operators.filters import (
        classify_online_ddl, online_ddl_dml_filter,
    )

    assert classify_online_ddl("app._users_gho", "gh-ost") == ("ghost", "app.users")
    assert classify_online_ddl("app._users_ghc", "gh-ost") == ("trash", "app.users")
    assert classify_online_ddl("app._users_del", "gh-ost") == ("trash", "app.users")
    assert classify_online_ddl("app.users", "gh-ost") == ("real", "app.users")
    assert classify_online_ddl("_t_new", "pt-osc") == ("ghost", "t")
    assert classify_online_ddl("_t_old", "pt-osc") == ("trash", "t")
    assert classify_online_ddl("app._users_gho", "pt-osc") == ("real", "app._users_gho")
    assert classify_online_ddl(None, "gh-ost") == ("real", None)

    df = spark.createDataFrame(
        [("U", "app.users"), ("U", "app._users_gho"), ("U", "app._users_del"),
         ("U", "app._users_ghc"), ("U", None), ("U", "app.musers_gho")],
        "op string, tbl string",
    )
    kept = {r["tbl"] for r in online_ddl_dml_filter(df, "gh-ost").collect()}
    assert kept == {"app.users", None, "app.musers_gho"}


def test_online_ddl_ghost_stash_applies_at_rename(spark, tmp_path):
    """gh-ost flow end-to-end (D2, online_ddl.go:195-260): the ghost
    table's ALTER is stashed (not applied), its backfill DML is dropped,
    trash-table rows are dropped, and the ALTER lands on the real table
    exactly at the cut-over RENAME's commit_ts — events between the ghost
    ALTER and the rename still decode under the OLD schema. Byte-match vs
    the online-DDL oracle, through crash/resume."""
    base = write_base(
        os.path.join(str(tmp_path), "base", "t.parquet"),
        [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")],
    )
    events = [
        ev(0, "U", 101, "c1", 0, pl("v1"), tbl="app.users"),
        # gh-ost starts: applies the ALTER to the ghost copy
        ev(1, "DDL", 102, ddl={"action": "add_column", "name": "note",
                               "type": "string", "default": "d"},
           tbl="app._users_gho"),
        # ghost backfill writes + trash churn: must NOT replicate
        ev(2, "I", 103, "c1", 0, pl("backfill copy"), tbl="app._users_gho"),
        ev(3, "I", 104, "zz", 0, pl("ghc log row"), tbl="app._users_ghc"),
        # real-table write DURING the migration: still OLD schema
        ev(4, "U", 105, "c2", 0, pl("mid-migration"), tbl="app.users",
           ver=1),
        ev(5, "R", 150),
        # cut-over: RENAME swaps ghost over real — the ALTER takes effect
        ev(6, "DDL", 200, ddl={"action": "rename_table",
                               "from": "app._users_gho", "to": "app.users"},
           tbl="app.users"),
        ev(7, "U", 201, "c3", 0, pl("post-cutover", note="n"),
           tbl="app.users", ver=None),
        ev(8, "R", 300),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)

    def mk(tag):
        return MultiTableEngine(
            log_dir,
            tables={"users": LakeTable(str(tmp_path / f"tgt_{tag}"),
                                       num_buckets=2)},
            rules=[("app.*", "users")],  # glob would match helpers too
            online_ddl="gh-ost",
        )

    eng = mk("a")
    eng.bootstrap(spark, {"users": os.path.dirname(base)})
    eng.run(spark, max_epochs=1, barrier_stride=1)  # epoch 1: pre-cutover
    reg_mid = eng.tables["users"].registry()
    assert [v.version for v in reg_mid.versions] == [1]  # ALTER still stashed
    eng2 = mk("a")  # crash/resume across the cut-over
    eng2.run(spark, barrier_stride=1)
    reg = eng2.tables["users"].registry()
    assert [v.version for v in reg.versions] == [1, 2]
    assert reg.versions[1].active_from_ts == 200  # applied AT the rename

    got = eng2.final_state(spark, "users").toPandas()
    assert set(got["conv_id"]) == {"c1", "c2", "c3"}  # no helper rows
    by = {r.conv_id: (r.text, r.note) for r in got.itertuples()}
    assert by["c1"] == ("v1", "d")          # backfill copy dropped
    assert by["c2"] == ("mid-migration", "d")
    assert by["c3"] == ("post-cutover", "n")
    assert_tables_equal(
        got,
        sequential_apply(base, log_dir, source_tables={"app.users"},
                         shard_merge=True, online_ddl="gh-ost"),
    )
    # second migration of the same table re-uses the ghost name: the first
    # stash was consumed at its rename, nothing re-applies
    assert eng2.run(spark).epochs == []


def test_online_ddl_config_surface(tmp_path):
    """TOML: online-ddl validates the scheme and requires routes."""
    from tiflow_spark.config import load_config

    log = tmp_path / "log"
    log.mkdir()
    ok = tmp_path / "ok.toml"
    ok.write_text(f'log = "{log}"\ntarget = "t"\nonline-ddl = "gh-ost"\n'
                  '[[routes]]\nsource = "app.*"\ntarget = "users"\n')
    assert load_config(str(ok)).online_ddl == "gh-ost"
    bad_scheme = tmp_path / "bad1.toml"
    bad_scheme.write_text(f'log = "{log}"\ntarget = "t"\nonline-ddl = "nope"\n'
                          '[[routes]]\nsource = "a"\ntarget = "users"\n')
    with pytest.raises(ValueError, match="gh-ost"):
        load_config(str(bad_scheme))
    no_routes = tmp_path / "bad2.toml"
    no_routes.write_text(f'log = "{log}"\ntarget = "t"\nonline-ddl = "gh-ost"\n')
    with pytest.raises(ValueError, match="routes"):
        load_config(str(no_routes))


def test_online_ddl_pt_osc_flow(spark, tmp_path):
    """pt-osc scheme end-to-end: `_t_new` is the ghost, `_t_old` the trash
    — same stash/flush contract as gh-ost, plus the bare (non-online)
    rename_table is simply not replicated."""
    base = write_base(
        os.path.join(str(tmp_path), "base", "t.parquet"),
        [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")],
    )
    events = [
        ev(0, "DDL", 101, ddl={"action": "add_column", "name": "note",
                               "type": "string", "default": "p"},
           tbl="app._users_new"),
        ev(1, "I", 102, "c1", 0, pl("copy"), tbl="app._users_new"),
        ev(2, "I", 103, "zz", 0, pl("old churn"), tbl="app._users_old"),
        # a bare rename of an unrelated (non-helper) table: dropped, not fatal
        ev(3, "DDL", 104, ddl={"action": "rename_table",
                               "from": "app.aux", "to": "app.aux2"},
           tbl="app.aux"),
        ev(4, "DDL", 200, ddl={"action": "rename_table",
                               "from": "app._users_new", "to": "app.users"},
           tbl="app.users"),
        ev(5, "U", 201, "c2", 0, pl("post", note="x"), tbl="app.users",
           ver=None),
        ev(6, "R", 300),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    eng = MultiTableEngine(
        log_dir,
        tables={"users": LakeTable(str(tmp_path / "tgt"), num_buckets=2)},
        rules=[("app.*", "users")],
        online_ddl="pt-osc",
    )
    eng.bootstrap(spark, {"users": os.path.dirname(base)})
    eng.run(spark)
    reg = eng.tables["users"].registry()
    assert [v.version for v in reg.versions] == [1, 2]
    assert reg.versions[1].active_from_ts == 200
    got = eng.final_state(spark, "users").toPandas()
    assert set(got["conv_id"]) == {"c1", "c2"}
    assert_tables_equal(
        got,
        sequential_apply(base, log_dir,
                         source_tables={"app.users", "app.aux"},
                         shard_merge=True, online_ddl="pt-osc"),
    )


def test_online_ddl_cutover_ddl_matches_sql_pattern_by_real_table(spark,
                                                                   tmp_path):
    """The cut-over ALTER a gh-ost rename splices in reaches the sql-pattern
    filter with its REAL table name, not the default table's: a pattern
    qualified with ``app.users`` skips it in both the batch run and the
    streaming tick unit (advance_to), matching the oracle."""
    base = write_base(
        os.path.join(str(tmp_path), "base", "t.parquet"),
        [("c1", 0, "user", "v0", None, "2024-01-01T00:00:00")],
    )
    events = [
        ev(0, "DDL", 102, ddl={"action": "add_column", "name": "note",
                               "type": "string", "default": "d"},
           tbl="app._users_gho"),
        ev(1, "U", 105, "c1", 0, pl("mid"), tbl="app.users", ver=1),
        ev(2, "R", 150),
        ev(3, "DDL", 200, ddl={"action": "rename_table",
                               "from": "app._users_gho", "to": "app.users"},
           tbl="app.users"),
        ev(4, "I", 201, "c2", 0, pl("post"), tbl="app.users", ver=1),
        ev(5, "R", 300),
    ]
    log_dir = write_log(os.path.join(str(tmp_path), "log"), events)
    pats = [r"^ALTER TABLE app\.users ADD COLUMN note"]

    def mk(tag):
        eng = MultiTableEngine(
            log_dir,
            tables={"users": LakeTable(str(tmp_path / f"tgt_{tag}"),
                                       num_buckets=2)},
            rules=[("app.*", "users")],
            online_ddl="gh-ost",
            sql_patterns=pats,
        )
        eng.bootstrap(spark, {"users": os.path.dirname(base)})
        return eng

    batch = mk("batch")
    batch.run(spark)
    ticked = mk("ticked")
    ticked.advance_to(spark, 150)
    ticked.advance_to(spark, 300)
    want = sequential_apply(base, log_dir, source_tables={"app.users"},
                            shard_merge=True, online_ddl="gh-ost",
                            sql_patterns=pats)
    assert "note" not in want.columns
    for eng in (batch, ticked):
        assert [v.version for v in eng.tables["users"].registry().versions] == [1]
        assert_tables_equal(eng.final_state(spark, "users").toPandas(), want)
