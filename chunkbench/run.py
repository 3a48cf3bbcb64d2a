#!/usr/bin/env python3
"""Chunk-loop benchmark: one workload, one seed, one run.

    python3 chunkbench/run.py --workload adaptive_sparse_scan --seed 1 \
        --seconds 20 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line is a
JSON object whose metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics.  Lines before it are a
human-readable report, and a full artifact (environment stamp, every rep's
raw samples) is written under ``.bench_work/results/``.  See
chunkbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Set-up iterations per run; setup_s is their median.
SETUPS = 5
#: Reps of each kind always measured, however long they take.
MIN_REPS = 1


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _load_library():
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import dbix_batchchunker_spark

    where = os.path.realpath(dbix_batchchunker_spark.__file__)
    if not where.startswith(os.path.realpath(ROOT) + os.sep):
        raise ImportError(f"dbix_batchchunker_spark imported from {where}, not from {ROOT}")


def _spark_env(work: str) -> None:
    """Keep every temp file the run makes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    # The driver heap starts at 1 GiB (of SPARK_DRIVER_MEMORY, default 2g):
    # growing it on demand made the JVM's share of peak RSS vary run to run
    # by a fifth, while starting at the maximum slowed the loop.
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>.
    # A fixed set of JIT compiler threads: envstamp.tree_cpu_s leaves their
    # CPU out, which needs every one of them alive until the end.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{java_opts}' pyspark-shell"
    # spark-submit first runs a short launcher JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _start_spark(cpus: int, event_dir: "str | None"):
    from dbix_batchchunker_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_dir,
        })
    spark = get_spark(app_name="chunkbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _measure(wl, tracers, seconds: float, min_reps: int) -> "list[list]":
    """Reps, cycling through ``tracers``, until ``seconds`` have passed and
    every tracer has ``min_reps``; one list of results per tracer."""
    out = [[] for _ in tracers]
    t0 = time.perf_counter()
    i = 0
    while min(map(len, out)) < min_reps or time.perf_counter() - t0 < seconds:
        k = i % len(tracers)
        tracers[k].rep = len(out[k])
        out[k].append(wl.rep(tracers[k]))
        i += 1
    return out


def run(args) -> int:
    from . import envstamp, report
    from .inputs import SCALES
    from .tracing import Tracer, read_event_log
    from .workloads import WORKLOADS, Stopwatch

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    bench = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _spark_env(work)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or envstamp.nproc())
    stamp = envstamp.before(cpus)

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    t = time.perf_counter()
    spark = _start_spark(cpus, event_dir)
    stamp["session_start_s"] = time.perf_counter() - t
    try:
        stamp["sentinel_before_s"] = envstamp.sentinel(spark)
        wl = WORKLOADS[args.workload](
            spark, os.path.join(work, "data"), os.path.join(bench, "cache"), args.seed,
            SCALES["full"],
        )
        setups = []  # (wall_s, cpu_s, steal_s) of each set-up
        for _ in range(SETUPS):
            sw = Stopwatch()
            wl.setup()
            setups.append(sw.stop())
        # a fixed amount of work, not of time: the JIT is then equally far
        # along at the first measured rep however loaded the machine is
        (warm,) = _measure(wl, [Tracer()], 0, wl.warm_reps)
        stamp["warmup_s"] = [r.wall_s for r in warm]
        traced = traced_reps = None
        if args.trace:
            # traced and untraced reps alternate in the same event-logged
            # session, so their difference is what the job-group tagging costs
            traced = Tracer(sc=spark.sparkContext)
            traced_reps, reps = _measure(wl, [traced, Tracer()], args.seconds, MIN_REPS)
        else:
            (reps,) = _measure(wl, [Tracer()], args.seconds, MIN_REPS)
        stamp["sentinel_after_s"] = envstamp.sentinel(spark)
        stamp["peak_rss_mb"] = envstamp.peak_rss_mb()
    finally:
        envstamp.stop(spark)
    stamp.update(envstamp.after(stamp))

    all_reps = warm + reps + (traced_reps or [])
    checks_ok = all(r.ok for r in all_reps)
    if args.trace:
        jobs, stages = read_event_log(event_dir)
        metrics = report.per_layer(traced_reps, traced, jobs, stages, reps)
    else:
        metrics = report.end_to_end(wl, reps, setups, stamp["peak_rss_mb"])
    attempted = sum(r.ops for r in all_reps) + len(all_reps)
    failed = attempted if not checks_ok else sum(r.retries for r in all_reps)
    result = {
        "correct": checks_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    report.write_artifact(
        os.path.join(bench, "results"), wl, args, stamp, result, setups, reps, traced_reps
    )
    report.print_human(wl, args, stamp, result, reps, setups)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        _load_library()
    except ImportError as exc:
        print(f"cannot import the library from this checkout: {exc}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    # re-enter through the package so the relative imports in run() resolve
    sys.path.insert(0, ROOT)
    from chunkbench.run import main as _main

    sys.exit(_main())
