"""CDC benchmark for tiflow_spark: one command, seed-fixed workloads,
oracle-checked outputs.

    python3 perfbench/run.py --workload tail-lag --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.WORKLOADS``) against the public API of the
``tiflow_spark`` package found next to this directory, in a local[N] Spark
session (``workloads.SPARK_CORES``). Stdout carries one ``{"record": ...}``
line (host, versions, every named end-to-end figure with its unit, producer
lateness, tracing overhead) and, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones; the
workload names, metric names and units are read from that file.

Everything the run writes lives under ``.bench_work/`` in the checkout; the
oracle digest cache survives between runs, the rest is removed at exit.
The exit code is 0 only when every operation passed its output check.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measurement window per run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: span-traced run reporting per-layer metrics")
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the benchmark's own test")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one target data file before each output "
                         "check (self-test: must be reported as failed)")
    return ap.parse_args(argv)


def _redirect_jvm_stderr(log_path: Path):
    """Point fd 2 at ``log_path`` so the JVM (started later, inheriting
    fd 2) logs there, while Python's own stderr keeps the terminal. The
    log is where codegen fallbacks ("grows beyond 64 KB") are counted."""
    saved = os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(saved, "w", buffering=1)


def _cpu_ticks() -> list[int]:
    """The host's cumulative CPU ticks by state, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "tiflow_spark" / "__init__.py").is_file():
        print(f"perfbench: no tiflow_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # keep every temp file, spill dir and worker import inside the checkout
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # spark-submit's launcher JVM, which builds the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401

        import tiflow_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    import workloads

    _redirect_jvm_stderr(run_dir / "driver.log")
    ctx = workloads.Context(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), tiny=args.size == "tiny",
        corrupt=args.corrupt, run_dir=run_dir, cache_dir=WORK / "cache",
    )
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "nproc": os.cpu_count(),
        "master": f"local[{workloads.SPARK_CORES[args.workload]}]",
        "python": platform.python_version(), "spark": pyspark.__version__,
        "loadavg_before": list(os.getloadavg()),
    }
    ticks = _cpu_ticks()
    try:
        res = workloads.run(ctx)
    except Exception:
        import traceback

        traceback.print_exc()
        _tail_log(run_dir / "driver.log")
        ctx.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    record["loadavg_after"] = list(os.getloadavg())
    # the share of CPU time the hypervisor gave to other guests: a high
    # figure means the host, not the engine, set this run's times
    d = [b - a for a, b in zip(ticks, _cpu_ticks())]
    record["host_steal_frac"] = d[7] / max(sum(d), 1)
    record.update(res.record)
    print(json.dumps({"record": record}, sort_keys=True))
    correct = res.failed == 0
    if args.trace:
        # a layer the workload does not exercise reads 0
        values = {m["name"]: res.layer_metrics.get(m["name"], 0.0)
                  for m in SPEC["per_layer"]}
    else:
        values = {m["name"]: res.e2e_metrics[m["name"]]
                  for m in SPEC["end_to_end"] if m["name"] in res.e2e_metrics}
        correct = correct and len(values) == len(SPEC["end_to_end"])
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()},
    }))
    if not correct:
        _tail_log(run_dir / "driver.log")
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if correct else 1


def _tail_log(path: Path, n: int = 40) -> None:
    try:
        lines = path.read_text(errors="replace").splitlines()[-n:]
    except OSError:
        return
    print("--- driver log tail ---", *lines, sep="\n", file=sys.stderr)


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: exit {code} after {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    sys.exit(code)
