"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipelines,query_mix}
                             --seed N --seconds S --trace {0,1}

Runs from the root of a source checkout: it makes the workload's
inputs from the seed, sets up the engine (several session starts plus
one checked first pass over the workload), then runs whole workload
operations back to back, one at a time, until ``--seconds`` have
passed. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reruns the same loop
with layer spans and reports the per-layer metrics, and writes every
span to ``.bench_out/``. Scratch files live in ``.bench_work/`` and
are removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3  # session starts per run; setup_s takes their median

clock = time.perf_counter


def _configure_env(work: Path) -> dict:
    """Pin cores, memory and every scratch location inside ``work``.
    Must run before pyspark is imported."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _start_session(conf: dict):
    from etl_guiacores_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm():
    from pyspark import SparkContext

    return SparkContext._gateway


def _jvm_peak_rss_mb() -> float:
    try:
        with open(f"/proc/{_jvm().proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def run(workload, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    """Prepare, set up, measure; returns the result object (before printing)."""
    conf = _configure_env(work)
    from perfbench import layers
    from perfbench.spans import Tracer

    workload.prepare(str(work), seed)

    starts, sessions = [], []
    for _ in range(SETUPS):
        if sessions:
            sessions[-1].stop()
        t0 = clock()
        # old session objects stay referenced: the package memoizes
        # per-session state by id(), which a freed object could recycle
        sessions.append(_start_session(conf))
        starts.append(clock() - t0)
    spark = sessions[-1]
    try:
        t0 = clock()
        attempted, failed = workload.warmup(spark)
        warmup_s = clock() - t0

        tracer = Tracer(spark, enabled=trace)
        ops = []
        t_begin = clock()
        while not ops or clock() - t_begin < seconds:
            try:
                op = workload.run(spark, tracer, len(ops))
            except Exception as e:  # noqa: BLE001 — reported as a failed request
                print(f"operation failed: {type(e).__name__}: {e}", file=sys.stderr)
                attempted, failed = attempted + 1, failed + 1
                break
            ops.append(op)
            attempted += op.attempted
            failed += op.failed

        session = {
            "jvm_launch_s": starts[0],
            "start_s": statistics.median(starts),
            "warmup_s": warmup_s,
            "jvm_peak_rss_mb": _jvm_peak_rss_mb(),
        }
        if not ops:
            metrics = {}
        elif trace:
            metrics = layers.per_layer(tracer, ops, session)
            out = ROOT / ".bench_out"
            out.mkdir(exist_ok=True)
            tracer.dump(str(out / f"spans-{workload.name}-seed{seed}.json"))
        else:
            metrics = layers.end_to_end(ops, session)
    finally:
        spark.stop()
    return {
        "correct": failed == 0 and bool(ops),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    try:
        result = run(WORKLOADS[args.workload](), args.seed, args.seconds,
                     bool(args.trace), work)
    finally:
        gateway = _jvm() if "pyspark" in sys.modules else None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
