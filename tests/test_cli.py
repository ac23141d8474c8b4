"""Config-file-driven changefeed lifecycle: ``python -m tiflow_spark``
(create/run/query over a TOML config — the `cdc cli changefeed` analogue)
plus the engine-level filter plumbing the config's `[filter]` section
drives (ignore-txn-start-ts, event-filter)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    from tiflow_spark.generator import generate_changefeed

    d = tmp_path_factory.mktemp("cli_feed")
    return generate_changefeed(
        str(d), n_convs=40, turns_per_conv=5, n_changes=2500, seed=11,
        resolved_every=500,
        ddl_plan=[(0.5, {"action": "add_column", "name": "note",
                         "type": "string", "default": ""})],
    ), str(d)


def _some_start_ts(log_path, k=2):
    t = pq.read_table(log_path, columns=["op", "start_ts"]).to_pylist()
    seen = sorted({r["start_ts"] for r in t
                   if r["op"] in ("I", "U", "D") and r["start_ts"] is not None})
    return seen[: k]


def test_cli_sql_patterns_filters_ddl(feed, tmp_path, spark):
    """[filter] sql-patterns end-to-end through the CLI: the matching DDL
    (the feed's add_column note) is skipped, so the final table has no
    ``note`` column and byte-matches the pattern-filtered oracle; the same
    key is rejected for MQ sinks (DM-only vocabulary)."""
    from tiflow_spark.config import load_config
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tests.helpers import assert_tables_equal

    f, d = feed
    target = str(tmp_path / "target_sqlpat")
    cfg_path = str(tmp_path / "sqlpat.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{target}"
base = "{f.base_path}"
num-buckets = 8

[filter]
sql-patterns = ["ADD COLUMN note"]
""")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "create",
         "--config", cfg_path, "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]

    eng = ChangefeedEngine(f.log_path, LakeTable(target, num_buckets=8))
    got = eng.final_state(spark).toPandas()
    assert "note" not in got.columns
    assert_tables_equal(
        got,
        sequential_apply(f.base_path, f.log_path,
                         sql_patterns=["ADD COLUMN note"]),
    )

    # MQ sinks publish every DDL — sql-patterns there is a config error
    bad = str(tmp_path / "sqlpat_mq.toml")
    with open(bad, "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{tmp_path / 'mq_topic'}"

[filter]
sql-patterns = ["x"]

[sink]
type = "mq"
""")
    with pytest.raises(ValueError, match="sql-patterns"):
        load_config(bad)


def test_cli_create_query_and_filtered_oracle(feed, tmp_path, spark):
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tests.helpers import assert_tables_equal

    f, d = feed
    ignored = _some_start_ts(f.log_path)
    target = str(tmp_path / "target")
    cfg_path = str(tmp_path / "changefeed.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{target}"
base = "{f.base_path}"
num-buckets = 8

[filter]
ignore-txn-start-ts = [{", ".join(str(x) for x in ignored)}]
""")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "create",
         "--config", cfg_path, "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert res["verb"] == "create" and res["result"]["epochs"] >= 1

    # query: manifest-backed status, no Spark session
    q = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "query", "--config", cfg_path],
        capture_output=True, text=True, timeout=120, env=env, cwd=str(tmp_path),
    )
    assert q.returncode == 0, q.stderr[-2000:]
    status = json.loads(q.stdout)
    assert status["state"] == "normal"
    assert status["checkpoint_ts"] == f.max_commit_ts
    assert status["lineage"]  # per-bucket lineage rows present

    # `run` again: committed checkpoint => 0 epochs (idempotent resume)
    out2 = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "run",
         "--config", cfg_path, "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    res2 = json.loads([l for l in out2.stdout.splitlines() if l.startswith("{")][-1])
    assert res2["result"]["epochs"] == 0

    # gc verb: expire old manifests, current state untouched
    g = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "gc", "--config", cfg_path],
        capture_output=True, text=True, timeout=120, env=env, cwd=str(tmp_path),
    )
    assert g.returncode == 0, g.stderr[-2000:]
    gres = json.loads(g.stdout)["result"]
    assert "removed_manifests" in gres
    q2 = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "query", "--config", cfg_path],
        capture_output=True, text=True, timeout=120, env=env, cwd=str(tmp_path),
    )
    assert json.loads(q2.stdout)["checkpoint_ts"] == f.max_commit_ts

    # final state must equal the sequential oracle WITH the txn filter
    eng = ChangefeedEngine(f.log_path, LakeTable(target, num_buckets=8))
    got = eng.final_state(spark).toPandas()
    want = sequential_apply(f.base_path, f.log_path,
                            ignore_txn_start_ts=set(ignored))
    assert_tables_equal(got, want)
    # and differ from the unfiltered oracle (the filter actually dropped txns)
    assert len(pq.read_table(f.log_path).to_pylist()) > 0
    unfiltered = sequential_apply(f.base_path, f.log_path)
    assert not got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[
        ["conv_id", "turn_idx"]
    ].equals(
        unfiltered.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[
            ["conv_id", "turn_idx"]
        ]
    ) or len(got) != len(unfiltered) or not got.equals(unfiltered)


def test_event_filter_equals_prefiltered_log(feed, tmp_path, spark):
    """engine(event_filter=P) over the log == plain engine over a log with
    P-matching DML rows removed — the DM expression-filter contract."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tests.helpers import assert_tables_equal

    f, d = feed
    pred = "turn_idx >= 7"  # drops a real slice of DML

    t1 = str(tmp_path / "t_filtered_engine")
    e1 = ChangefeedEngine(f.log_path, LakeTable(t1, num_buckets=8),
                          event_filter=pred)
    e1.bootstrap(spark, f.base_path)
    e1.run(spark)

    # rewrite the log without the matching DML rows (control rows kept)
    tab = pq.read_table(f.log_path)
    rows = tab.to_pylist()
    kept = [r for r in rows
            if r["op"] not in ("I", "U", "D")
            or not (r["turn_idx"] is not None and r["turn_idx"] >= 7)]
    assert len(kept) < len(rows)
    import pyarrow as pa

    log2 = str(tmp_path / "log2")
    os.makedirs(log2)
    pq.write_table(pa.Table.from_pylist(kept, schema=tab.schema),
                   os.path.join(log2, "part-0.parquet"))

    t2 = str(tmp_path / "t_prefiltered_log")
    e2 = ChangefeedEngine(log2, LakeTable(t2, num_buckets=8))
    e2.bootstrap(spark, f.base_path)
    e2.run(spark)

    assert_tables_equal(
        e1.final_state(spark).toPandas(), e2.final_state(spark).toPandas()
    )


def test_cli_stream_drains_to_oracle(feed, tmp_path, spark):
    """`stream` verb: bootstrap + availableNow drain through the Structured
    Streaming front-end must land the same final state as the batch path."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tests.helpers import assert_tables_equal

    f, d = feed
    target = str(tmp_path / "stream_target")
    cfg_path = str(tmp_path / "stream.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{target}"
base = "{f.base_path}"
num-buckets = 8
max-files-per-trigger = 4
""")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "tiflow_spark", "stream",
         "--config", cfg_path, "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert res["result"]["epochs"] >= 1

    eng = ChangefeedEngine(f.log_path, LakeTable(target, num_buckets=8))
    got = eng.final_state(spark).toPandas()
    want = sequential_apply(f.base_path, f.log_path)
    assert_tables_equal(got, want)


def test_config_validation_rejects_unknown_keys(tmp_path, feed):
    from tiflow_spark.config import load_config

    f, d = feed
    p = str(tmp_path / "bad.toml")
    with open(p, "w") as fh:
        fh.write(f'log = "{f.log_path}"\ntarget = "x"\nsink-uri = "y"\n')
    with pytest.raises(ValueError, match="unknown config keys"):
        load_config(p)

    p2 = str(tmp_path / "bad2.toml")
    with open(p2, "w") as fh:
        fh.write('target = "x"\n')
    with pytest.raises(ValueError, match="missing required"):
        load_config(p2)

    p3 = str(tmp_path / "bad3.toml")
    with open(p3, "w") as fh:
        fh.write(f'log = "{f.log_path}"\ntarget = "x"\n'
                 '[filter]\nsql-patterns = ["ok", "ADD COLUMN ("]\n')
    with pytest.raises(ValueError, match=r"sql-patterns.*'ADD COLUMN \('"):
        load_config(p3)


_MQ = '[sink]\ntype = "mq"\n'
_ROUTES = '[[routes]]\nsource = "*"\ntarget = "t"\n'


@pytest.mark.parametrize("mode,name,toml", [
    ("mq", "target-ts", "target-ts = 5000"),
    ("mq", "syncpoint-every", "syncpoint-every = 100"),
    ("mq", "start-ts", "start-ts = 10"),
    ("mq", "base", 'base = "dump.parquet"'),
    ("mq", "validate-state", "validate-state = true"),
    ("mq", "validate-rows", "validate-rows = true"),
    ("mq", "routes", _ROUTES),
    ("multi-table", "bootstrap-chunk-files", "bootstrap-chunk-files = 2"),
    ("multi-table", "target-ts", "target-ts = 5000"),
    ("multi-table", "syncpoint-every", "syncpoint-every = 100"),
])
def test_load_config_refuses_options_a_mode_cannot_honour(tmp_path, mode, name, toml):
    """Every (mode, option) pair a front end cannot honour is refused when
    the config loads, naming the option — never silently ignored."""
    from tiflow_spark.config import load_config

    tables = _MQ if mode == "mq" else _ROUTES
    head = f'log = "{tmp_path}"\ntarget = "{tmp_path / "t"}"\n'
    p = str(tmp_path / "refused.toml")
    with open(p, "w") as fh:  # the option first: it may be a top-level key
        fh.write(f"{head}{toml}\n{tables}")
    with pytest.raises(ValueError, match=f"{mode} changefeeds do not support: {name}"):
        load_config(p)
    with open(p, "w") as fh:  # the same config without it loads
        fh.write(head + tables)
    assert load_config(p).sink_type == ("mq" if mode == "mq" else "lake")


def test_checkpoint_is_null_until_every_target_is_bootstrapped(feed, tmp_path, spark):
    """The changefeed checkpoint is the min over ALL its targets: with one
    of two routed tables bootstrapped, query, list and the engine all report
    a null checkpoint (and list a null epoch), not the bootstrapped table's.
    list applies the same rule to a topic nothing was published to yet."""
    from tiflow_spark import lifecycle
    from tiflow_spark.__main__ import main
    from tiflow_spark.config import build_engine, load_config

    f, _ = feed
    cfg_dir = str(tmp_path / "feeds")
    os.makedirs(cfg_dir)
    cfg_path = os.path.join(cfg_dir, "two.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{tmp_path / 'two_targets'}"
num-buckets = 2

[[routes]]
source = "transcripts"
target = "alpha"

[[routes]]
source = "other_*"
target = "beta"
""")
    engine = build_engine(load_config(cfg_path))
    engine.bootstrap(spark, {"alpha": f.base_path}, start_ts=500)
    assert engine.tables["alpha"].current_manifest()["checkpoint_ts"] == 500
    assert engine.checkpoint_ts() is None

    import contextlib
    import io

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["query", "--config", cfg_path]) == 0
    status = json.loads(out.getvalue())
    assert status["checkpoint_ts"] is None
    assert status["tables"]["alpha"]["checkpoint_ts"] == 500
    assert status["tables"]["beta"] == {"state": "not bootstrapped"}

    with open(os.path.join(cfg_dir, "topic.toml"), "w") as fh:
        fh.write(f'log = "{f.log_path}"\ntarget = "{tmp_path / "topic"}"\n'
                 '[sink]\ntype = "mq"\n')
    rows = lifecycle.list_changefeeds(cfg_dir)
    assert [r["id"] for r in rows] == ["topic", "two"]
    for row in rows:
        assert row["checkpoint_ts"] is None and row["epoch"] is None
        assert row["state"] == "not bootstrapped"


def test_engine_filter_null_semantics(spark):
    """A drop-predicate that evaluates to NULL must KEEP the row (it did
    not match): deletes carry payload=NULL, so a payload predicate is NULL
    on every delete and bare ~pred would silently drop them all. Same for
    a NULL start_ts against an ignore list."""
    from tiflow_spark.model import CHANGE_EVENT_SCHEMA
    from tiflow_spark.operators.filters import engine_event_filters

    rows = [
        # (seq, op, commit_ts, start_ts, ver, conv, turn, payload, pre, ddl, ph, tbl)
        (1, "U", 10, 5, None, "c1", 0, '{"text": "spam here"}', None, None, None, None),
        (2, "U", 11, 6, None, "c1", 1, '{"text": "clean"}', None, None, None, None),
        (3, "D", 12, 7, None, "c1", 2, None, None, None, None, None),  # NULL payload
        (4, "U", 13, None, None, "c1", 3, '{"text": "clean2"}', None, None, None, None),
    ]
    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)

    kept = engine_event_filters(df, None, "payload LIKE '%spam%'").collect()
    assert sorted(r["seq"] for r in kept) == [2, 3, 4]  # delete (NULL) kept

    kept = engine_event_filters(df, [5], None).collect()
    assert sorted(r["seq"] for r in kept) == [2, 3, 4]  # NULL start_ts kept


def test_event_filter_on_payload_keeps_deletes(feed, tmp_path, spark):
    """e2e twin of the NULL-semantics unit test: a payload predicate must
    not swallow delete events (regression: final state would keep rows the
    feed deleted)."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tests.helpers import assert_tables_equal

    f, d = feed
    pred = "payload LIKE '%zz-never-matches-zz%'"
    t1 = str(tmp_path / "t_payload_filter")
    e1 = ChangefeedEngine(f.log_path, LakeTable(t1, num_buckets=8),
                          event_filter=pred)
    e1.bootstrap(spark, f.base_path)
    e1.run(spark)
    # predicate matches nothing (and is NULL on deletes) => identical to
    # the unfiltered replay, deletes applied
    t2 = str(tmp_path / "t_no_filter")
    e2 = ChangefeedEngine(f.log_path, LakeTable(t2, num_buckets=8))
    e2.bootstrap(spark, f.base_path)
    e2.run(spark)
    assert_tables_equal(
        e1.final_state(spark).toPandas(), e2.final_state(spark).toPandas()
    )


def test_advance_to_applies_engine_filters(feed, tmp_path, spark):
    """The streaming front-end's unit (advance_to) must apply the same
    filter config as the batch run — regression: MultiTableEngine's
    advance_to built its sub-engines without the filters."""
    from tiflow_spark.engine import MultiTableEngine
    from tiflow_spark.lake import LakeTable
    from tests.helpers import assert_tables_equal

    f, d = feed
    ignored = _some_start_ts(f.log_path)

    def mk(path):
        eng = MultiTableEngine(
            f.log_path,
            {"transcripts": LakeTable(str(path), num_buckets=8)},
            ignore_txn_start_ts=ignored,
        )
        eng.bootstrap(spark, {"transcripts": f.base_path})
        return eng

    batch = mk(tmp_path / "mt_batch")
    batch.run(spark)
    ticked = mk(tmp_path / "mt_ticked")
    ticked.advance_to(spark, f.max_commit_ts)

    assert_tables_equal(
        ticked.final_state(spark, "transcripts").toPandas(),
        batch.final_state(spark, "transcripts").toPandas(),
    )


def test_cli_lifecycle_pause_resume_remove_list(feed, tmp_path):
    """Lifecycle round-trip (pkg/cmd/cli/cli_changefeed_pause/_resume/
    _remove/_list.go): create → pause (run refused) → resume (run works)
    → remove (run refused, stream checkpoint gone, data kept) → create
    re-registers; list shows the right state at each step."""
    f, d = feed
    target = str(tmp_path / "lc_target")
    cfg_dir = str(tmp_path / "feeds")
    os.makedirs(cfg_dir)
    cfg_path = os.path.join(cfg_dir, "alpha.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{target}"
base = "{f.base_path}"
num-buckets = 4
""")
    env = dict(os.environ, PYTHONPATH=REPO)

    def cli(*args, ok=True, timeout=600):
        out = subprocess.run(
            [sys.executable, "-m", "tiflow_spark", *args],
            capture_output=True, text=True, timeout=timeout, env=env,
            cwd=str(tmp_path),
        )
        if ok:
            assert out.returncode == 0, out.stderr[-2000:]
        else:
            assert out.returncode != 0
        return out

    def listed():
        out = cli("list", "--config-dir", cfg_dir, timeout=120)
        rows = json.loads(out.stdout)
        assert [r["id"] for r in rows] == ["alpha"]
        return rows[0]

    assert listed()["state"] == "not bootstrapped"
    cli("create", "--config", cfg_path, "--master", "local[4]")
    row = listed()
    assert row["state"] == "normal" and row["checkpoint_ts"] == f.max_commit_ts

    cli("pause", "--config", cfg_path, timeout=120)
    assert listed()["state"] == "paused"
    bad = cli("run", "--config", cfg_path, "--master", "local[4]",
              ok=False, timeout=120)
    assert "paused" in bad.stderr

    cli("resume", "--config", cfg_path, timeout=120)
    assert listed()["state"] == "normal"
    out = cli("run", "--config", cfg_path, "--master", "local[4]")
    res = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert res["result"]["epochs"] == 0  # already drained — resume is exact

    chk_dir = os.path.join(target, "_stream_ckpt")
    os.makedirs(chk_dir, exist_ok=True)
    cli("remove", "--config", cfg_path, timeout=120)
    assert listed()["state"] == "removed"
    assert not os.path.exists(chk_dir)  # stream checkpoint released
    assert os.path.exists(os.path.join(target, "_CURRENT"))  # data kept
    bad2 = cli("run", "--config", cfg_path, "--master", "local[4]",
               ok=False, timeout=120)
    assert "removed" in bad2.stderr
    bad3 = cli("pause", "--config", cfg_path, ok=False, timeout=120)
    assert "removed" in bad3.stderr

    # create re-registers the removed feed id (table already bootstrapped)
    cli("create", "--config", cfg_path, "--master", "local[4]")
    assert listed()["state"] == "normal"

    # full teardown: --drop-data releases the sink directory itself
    cli("remove", "--config", cfg_path, "--drop-data", timeout=120)
    assert not os.path.exists(target)
    assert listed()["state"] == "not bootstrapped"  # fresh id, no sidecar


def test_cli_validate_state_audit_and_drift(feed, tmp_path):
    """``validate-state = true`` records per-bucket digests at every commit;
    the ``validate`` verb audits them (green), and an out-of-band edit of a
    data file turns it red with a nonzero exit (the continuous-validator
    CLI surface, dm/syncer/data_validator.go:62-196)."""
    import pyarrow as pa

    f, d = feed
    target = str(tmp_path / "val_target")
    cfg_path = str(tmp_path / "val.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{target}"
base = "{f.base_path}"
num-buckets = 4
validate-state = true
""")
    env = dict(os.environ, PYTHONPATH=REPO)

    def cli(*args, ok=True):
        out = subprocess.run(
            [sys.executable, "-m", "tiflow_spark", *args],
            capture_output=True, text=True, timeout=600, env=env,
            cwd=str(tmp_path),
        )
        assert (out.returncode == 0) == ok, out.stderr[-2000:]
        return out

    cli("create", "--config", cfg_path, "--master", "local[4]")
    out = cli("validate", "--config", cfg_path, "--master", "local[4]")
    res = json.loads([l for l in out.stdout.splitlines()
                      if l.startswith("{")][-1])
    assert res["result"]["ok"] and res["result"]["buckets_uncovered"] == 0

    # out-of-band edit of one LIVE data file (manifest-referenced)
    with open(os.path.join(target, "_CURRENT")) as fh:
        cur = fh.read().strip()
    with open(os.path.join(target, "_manifests", cur)) as fh:
        entries = json.load(fh)["files"]
    fp = sorted(os.path.join(target, e["path"]) for e in entries)[0]
    t = pq.read_table(fp)
    df = t.to_pandas()
    df.loc[df.index[0], "text"] = "TAMPERED"
    pq.write_table(
        pa.Table.from_pandas(df, schema=t.schema, preserve_index=False),
        fp, coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    crc = os.path.join(os.path.dirname(fp), f".{os.path.basename(fp)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    bad = cli("validate", "--config", cfg_path, "--master", "local[4]",
              ok=False)
    assert "validation failed" in bad.stderr


def test_config_bootstrap_chunk_files_and_validate_state(feed, tmp_path):
    """New config knobs parse and reach the engine: bootstrap-chunk-files
    (resumable dump restore) and validate-state (continuous checksums)."""
    from tiflow_spark.config import build_engine, load_config

    f, d = feed
    cfg_path = str(tmp_path / "knobs.toml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{tmp_path / 'knobs_target'}"
base = "{f.base_path}"
num-buckets = 4
bootstrap-chunk-files = 2
validate-state = true
""")
    cfg = load_config(cfg_path)
    assert cfg.bootstrap_chunk_files == 2 and cfg.validate_state
    eng = build_engine(cfg)
    assert eng.table.checksums  # validate_after_apply reached the table


def test_list_shows_mq_protocol(feed, tmp_path):
    """list surfaces the MQ changefeed's envelope protocol — from the topic
    manifest once published, falling back to the configured codec before."""
    from tiflow_spark import lifecycle

    f, _ = feed
    cfg_dir = str(tmp_path / "mq_feeds")
    os.makedirs(cfg_dir)
    with open(os.path.join(cfg_dir, "topic.toml"), "w") as fh:
        fh.write(f"""
log = "{f.log_path}"
target = "{tmp_path / 'lst_topic'}"

[sink]
type = "mq"
partitions = 2
protocol = "canal-json"
""")
    rows = lifecycle.list_changefeeds(cfg_dir)
    assert rows[0]["sink"] == "mq"
    assert rows[0]["protocol"] == "canal-json"
