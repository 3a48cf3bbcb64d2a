"""Re-record ``data/eventlog_small.jsonl`` and ``data/spans_small.json``.

    python3 chunkbench/tests/record_eventlog.py

Runs two traced layer calls on a two-core session — ``outer`` (one
aggregate job) holding ``inner`` (a shuffle job) — and keeps only the event
types and fields ``tracing.read_event_log`` reads, so the fixture stays
small.
"""

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageSubmitted": ("Stage Info", "Properties"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Task Metrics"),
}
TASK_METRICS = ("Executor CPU Time", "Memory Bytes Spilled", "Disk Bytes Spilled", "Shuffle Write Metrics")
PROPS = ("spark.jobGroup.id", "spark.job.description")


def _slim(e: dict) -> dict:
    out = {"Event": e["Event"]}
    for k in KEEP[e["Event"]]:
        v = e.get(k)
        if k == "Stage Info":
            v = {"Stage ID": v["Stage ID"]}
        elif k == "Properties":
            v = {p: v[p] for p in PROPS if p in (v or {})}
        elif k == "Task Metrics":
            v = {m: v[m] for m in TASK_METRICS if m in (v or {})}
        out[k] = v
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from chunkbench import envstamp, run
    from chunkbench.tracing import Tracer

    work = os.path.join(run.ROOT, ".bench_work", "record-eventlog")
    shutil.rmtree(work, ignore_errors=True)
    run._spark_env(work)
    spark = run._start_spark(2, os.path.join(work, "eventlog"))
    tr = Tracer(sc=spark.sparkContext)
    with tr.span("outer"):
        spark.range(1000).agg(F.sum("id")).first()
        with tr.span("inner"):
            spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    envstamp.stop(spark)
    (log,) = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(work, "eventlog"))
        for f in fs
        if f.startswith("events_")
    ]
    with open(log) as fh, open(os.path.join(HERE, "data", "eventlog_small.jsonl"), "w") as out:
        for line in fh:
            e = json.loads(line)
            if e["Event"] in KEEP:
                out.write(json.dumps(_slim(e)) + "\n")
    with open(os.path.join(HERE, "data", "spans_small.json"), "w") as out:
        json.dump([s.__dict__ for s in tr.spans], out, indent=1)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
