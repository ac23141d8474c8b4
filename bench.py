"""Headline benchmark. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Two parts:
- catalog queries from __spark_entry__.queries() run at $SPARK_GRAFT_SF_DIR
  (default /root/testdata/sf0.1) — per-query wall seconds;
- the CDC engine itself: a seed-fixed synthetic changefeed sized to the sf
  (bootstrap CTAS + full single-epoch replay + LWW MERGE commit), reported
  as `cdc_replay` seconds plus `cdc_replay_events_per_sec`.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the host CPU count),
BENCH_QUERIES (csv subset), BENCH_CDC_EVENTS (override event count).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "cdc_lww_replay",
    "cdc_canonical_order",
    "cdc_update_split",
    "cdc_lineage",
    "cdc_syncpoint",
    "cdc_sql_pattern_filter",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_embedding",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_fresh",
    "text_stats",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_pii_redact",
    "text_repetition",
    "text_decontaminate",
    "mm_binary_meta",
    "mm_decode_meta",
    "mm_resize",
    "mm_frame_sample",
    # encode-codec queries (cdc_encode_*) are excluded like the other wire
    # codecs: full-corpus hex-string materialization is oracle-evidence, not
    # a throughput headline
]

# sf → synthetic changefeed size (events) for the engine replay leg
CDC_EVENTS_BY_SF = {"0.001": 20_000, "0.01": 200_000, "0.1": 5_000_000}


def _sf_of(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return base[2:] if base.startswith("sf") else base


def bench_cdc_replay(spark, sf: str, cpus: int) -> tuple[float, dict]:
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.generator import generate_changefeed
    from tiflow_spark.lake import LakeTable

    n_events = int(os.environ.get("BENCH_CDC_EVENTS", CDC_EVENTS_BY_SF.get(sf, 200_000)))
    n_convs = max(n_events // 50, 100)
    from tiflow_spark.generator import FEED_VERSION

    work = f"/tmp/tiflow_bench_sf{sf}_{n_events}_v{FEED_VERSION}"
    feed_dir = os.path.join(work, "feed")
    if not os.path.exists(os.path.join(feed_dir, "log")):
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(feed_dir, exist_ok=True)
        generate_changefeed(
            feed_dir,
            n_convs=n_convs,
            turns_per_conv=10,
            n_changes=n_events,
            seed=42,
            resolved_every=max(n_events // 10, 1000),
            hot_key_frac=0.05,
            n_files=max(cpus, 8),
            ddl_plan=[(0.5, {"action": "add_column", "name": "note", "type": "string", "default": ""})],
        )
    # same protocol as tools/scaling_bench.py: warm the page cache (a
    # cluster's scan I/O scales with executors, one box's cold disk does
    # not), then min-of-2 trials so the first trial's one-time codegen
    # compilation doesn't masquerade as replay cost
    base_fp = os.path.join(feed_dir, "base", "transcripts.parquet")
    target = os.path.join(work, "target")
    ChangefeedEngine(os.path.join(feed_dir, "log"),
                     LakeTable(target, num_buckets=max(cpus, 16))
                     ).read_log(spark).count()
    spark.read.parquet(base_fp).count()
    # run-to-convergence: trial 0 pays codegen compile, trial 1 often still
    # pays JVM C2 JIT on the merge path (measured 9.6s -> 6.7s -> 6.3s
    # settling), and on a contended box the settling can take longer — the
    # round-3 driver run never converged (24.6 -> 13.7 -> 10.0 with a fixed
    # 3-trial cap). Keep replaying until the last two trials agree within
    # 10% (or the cap), so the reported min is a settled steady-state number.
    n_min = int(os.environ.get("BENCH_CDC_TRIALS", "3"))
    n_max = int(os.environ.get("BENCH_CDC_MAX_TRIALS", "7"))
    trials, boots = [], []

    def _converged() -> bool:
        if len(trials) < n_min:
            return False
        a, b = trials[-2], trials[-1]
        return abs(a - b) <= 0.10 * min(a, b)

    while len(trials) < n_max and not _converged():
        shutil.rmtree(target, ignore_errors=True)
        table = LakeTable(target, num_buckets=max(cpus, 16))
        engine = ChangefeedEngine(os.path.join(feed_dir, "log"), table)
        t0 = time.time()
        engine.bootstrap(spark, base_fp)
        boots.append(time.time() - t0)
        t0 = time.time()
        stats = engine.run(spark)  # single coalesced epoch = max throughput
        trials.append(time.time() - t0)
    elapsed = min(trials)
    total = stats.total_events
    return elapsed, {
        "cdc_replay_events": total,
        "cdc_replay_events_per_sec": round(total / elapsed, 1),
        "cdc_replay_epochs": len(stats.epochs),
        # per-trial: trial 0 is the page-cache-warm-but-codegen-cold run;
        # headline replay = min over trials (protocol noted in BENCH.md)
        "cdc_bootstrap_sec": round(min(boots), 3),
        "cdc_bootstrap_trials": [round(x, 3) for x in boots],
        "cdc_replay_trials": [round(x, 3) for x in trials],
        # last two trials within 10% — false means the cap stopped a
        # still-descending series (contended box) and the min is conservative
        "cdc_replay_converged": _converged(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    sf = _sf_of(sf_dir)
    subset = os.environ.get("BENCH_QUERIES")
    names = subset.split(",") if subset else HEADLINE

    from tiflow_spark.queries import QUERIES
    from tiflow_spark.session import get_spark

    from pyspark.sql import functions as F

    spark = get_spark(app="tiflow_spark_bench", cpus=cpus, shuffle_partitions=cpus)
    # session warmup: JVM/scheduler init otherwise lands on the first query
    spark.range(1000).groupBy(F.pmod("id", 7)).count().collect()

    # run-to-convergence per query, same protocol as the replay leg:
    # trial 0 pays the one-time whole-stage-codegen compile (observed 20s vs
    # 5s warm on the widest expression trees) — a per-query constant, not
    # throughput — and on a contended host the warm number itself can
    # wobble. Trials repeat until the best two agree within 10% — with a
    # 50 ms absolute floor, since for sub-second queries a relative-only
    # band is tighter than scheduler jitter (cap 6; round 4's 15%/4 let
    # host contention freeze a 2-3× inflated min on the dedup legs). Every
    # query carries its own converged flag so a reader can tell a settled
    # number from a cap-stopped one. All trials reported.
    q_max = int(os.environ.get("BENCH_QUERY_MAX_TRIALS", "6"))

    def _settled(per: list[float]) -> bool:
        if len(per) < 2:
            return False
        a, b = sorted(per)[:2]
        return b - a <= max(0.10 * a, 0.05)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    converged: dict[str, bool] = {}
    for name in names:
        fn = QUERIES[name]
        per = []
        while len(per) < q_max and not _settled(per):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            per.append(round(time.time() - t0, 3))
        timings[name] = min(per)
        cold[name] = max(per)
        converged[name] = _settled(per)
        print(f"# {name}: {timings[name]}s ({n} rows, converged="
              f"{converged[name]}, trials={per})", file=sys.stderr)

    cdc_sec, cdc_extra = bench_cdc_replay(spark, sf, cpus)
    timings["cdc_replay"] = round(cdc_sec, 3)
    print(f"# cdc_replay: {cdc_sec:.1f}s ({cdc_extra})", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total wall sec: headline queries + synthetic changefeed replay (LWW MERGE, exactly-once commit)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold_trial": cold,
        "queries_converged": converged,
        "sf": float(sf),
        "cpus": cpus,
        **cdc_extra,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
