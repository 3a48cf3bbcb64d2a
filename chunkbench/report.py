"""Metric assembly, the human-readable report and the run artifact.

The metric names here are the ones BENCHMARK.json declares; a unit test
keeps the two lists equal.
"""

from __future__ import annotations

import json
import os
import time

from .stats import beyond, median, percentile, tail_percentile, union_length
from .tracing import EVENT_FIELDS, layer_metrics

#: name -> unit, in report order.  Every timing here is CPU seconds of the
#: process tree (driver, JVM, Python workers): on a shared virtual machine
#: the steal time other guests cause moves wall time by up to twice between
#: runs minutes apart, and CPU time not at all (README.md, "Why CPU time").
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_ratio": "ratio",
}

#: Wall-clock figures: printed and kept in the artifact, but not bounded
#: metrics, because steal moves them more than any bound could allow.
WALL_CLOCK = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "chunk_p50_s": "s",
    "chunk_p90_s": "s",
    "steal_share": "ratio",
}

#: Layers wrapped by Tracer.span in workloads.py, each reported with every
#: EVENT_FIELDS metric.
LAYERS = (
    "chunker.range", "chunker.loop", "coderef", "concurrent.execute",
    "parquet.plan_build", "parquet.commit", "gram_store.ingest",
    "gram_store.purge", "gram_store.compact", "dedup.near_dup",
)

#: Per-layer metrics the workloads measure directly (RepResult.layer keys).
DIRECT = {
    "chunker.range_s": "s",
    "chunker.loop_self_s": "s",
    "chunker.loop_self_ms_per_chunk": "ms",
    "chunker.ladder.processed": "count",
    "chunker.ladder.skipped": "count",
    "chunker.ladder.shrunk": "count",
    "chunker.ladder.expanded": "count",
    "chunker.ladder.single_id": "count",
    "chunker.useful_probe_ratio": "ratio",
    "chunker.retries": "count",
    "chunker.hook_s": "s",
    "concurrent.busy_ratio": "ratio",
    "parquet.plan_build_s": "s",
    "parquet.commit_s": "s",
    "parquet.commit_p50_s": "s",
    "parquet.bytes_written": "bytes",
    "parquet.files_written": "count",
    "gram_store.ingest_s": "s",
    "gram_store.ingest_p50_s": "s",
    "gram_store.ingest_growth": "ratio",
    "gram_store.purge_s": "s",
    "gram_store.compact_s": "s",
    "gram_store.bytes_on_disk": "bytes",
    "gram_store.files": "count",
    "dedup.near_dup_s": "s",
    "dedup.pairs_out": "count",
}

#: Per-layer job counts under the names the layer map uses, read from the
#: event log: name -> layer whose own jobs it counts.
JOB_ALIASES = {
    "chunker.probe_jobs": "chunker.loop",
    "parquet.commit_jobs": "parquet.commit",
    "gram_store.ingest_jobs": "gram_store.ingest",
}

_EVENT_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_cpu_s": "s",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "plan_s": "s", "gap_s": "s",
}

TRACE = {
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
}


def per_layer_units() -> "dict[str, str]":
    units = dict(DIRECT)
    units.update({k: "count" for k in JOB_ALIASES})
    for layer in LAYERS:
        for f in EVENT_FIELDS:
            units[f"{layer}.{f}"] = _EVENT_UNITS[f]
    units.update(TRACE)
    return units


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(wl, reps, setups, peak_rss_mb: float) -> dict:
    values = {
        "setup_s": median([cpu for _wall, cpu, _steal in setups]),
        "cpu_s": median([r.cpu_s for r in reps]),
        "peak_rss_mb": peak_rss_mb,
        "stored_bytes_ratio": median([r.stored_bytes for r in reps]) / wl.input_bytes,
    }
    return {k: _m(values[k], u) for k, u in END_TO_END.items()}


def wall_clock(wl, reps, cpus: int) -> dict:
    wall = median([r.wall_s for r in reps])
    chunks = [x for r in reps for x in r.chunk_s]
    values = {
        "wall_s": wall,
        "rows_per_s": wl.rows / wall,
        "chunk_p50_s": percentile(chunks, 50),
        "chunk_p90_s": percentile(chunks, 90),
        "steal_share": sum(r.steal_s for r in reps) / (cpus * sum(r.wall_s for r in reps)),
    }
    return {k: _m(values[k], u) for k, u in WALL_CLOCK.items()}


def per_layer(traced_reps, tracer, jobs, stages, untraced_reps) -> dict:
    """Medians over the traced reps of every per-layer metric; a layer the
    workload never calls reads 0."""
    units = per_layer_units()
    rows: "list[dict[str, float]]" = []
    for k, rep in enumerate(traced_reps):
        spans = [s for s in tracer.spans if s.rep == k]
        lm = layer_metrics(spans, jobs, stages)
        row = {name: rep.layer.get(name, 0.0) for name in DIRECT}
        for layer in LAYERS:
            for f in EVENT_FIELDS:
                row[f"{layer}.{f}"] = lm.get(layer, {}).get(f, 0.0)
        for name, layer in JOB_ALIASES.items():
            row[name] = row[f"{layer}.jobs"]
        top = [(s.start, s.end) for s in spans if s.parent is None]
        row["trace.unattributed_share"] = max(0.0, rep.wall_s - union_length(top)) / rep.wall_s
        rows.append(row)
    traced_wall = median([r.wall_s for r in traced_reps])
    out = {}
    for name, unit in units.items():
        if name == "trace.wall_s":
            v = traced_wall
        elif name == "trace.overhead_s":
            v = traced_wall - median([r.wall_s for r in untraced_reps])
        else:
            v = median([row[name] for row in rows])
        out[name] = _m(v, unit)
    return out


def _rep_record(r) -> dict:
    return {
        "wall_s": r.wall_s, "cpu_s": r.cpu_s, "steal_s": r.steal_s, "chunk_s": r.chunk_s,
        "ops": r.ops, "retries": r.retries, "ok": r.ok, "stored_bytes": r.stored_bytes,
        "layer": r.layer,
    }


def write_artifact(out_dir, wl, args, stamp, result, setups, reps, traced_reps) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir,
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
        f"-{os.getpid()}.json",
    )
    doc = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": stamp, "result": result,
        "setups": [dict(zip(("wall_s", "cpu_s", "steal_s"), x)) for x in setups],
        "wall_clock": wall_clock(wl, reps, stamp["nproc"]),
        "reps": [_rep_record(r) for r in reps],
        "traced_reps": [_rep_record(r) for r in traced_reps] if traced_reps else None,
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    return path


def print_human(wl, args, stamp, result, reps, setups) -> None:
    chunks = [x for r in reps for x in r.chunk_s]
    n = len(chunks)
    print(f"# workload {wl.name} seed={args.seed} trace={args.trace}")
    print(f"#   why: {wl.why}")
    print(
        f"# env: nproc={stamp['nproc']} master={stamp['spark_master']} "
        f"SPARK_GRAFT_CPUS={stamp['SPARK_GRAFT_CPUS']} "
        f"load={stamp['loadavg_before'][0]:.2f}->{stamp['loadavg_after'][0]:.2f} "
        f"sentinel={stamp['sentinel_before_s']:.3f}s->{stamp['sentinel_after_s']:.3f}s "
        f"session_start={stamp['session_start_s']:.2f}s steal={stamp['steal_s']:.2f}s"
    )
    print(f"# reps={len(reps)} setups={len(setups)} chunk samples={n}")
    for name, m in result["metrics"].items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}")
    print("# wall clock (unbounded: moves with steal)")
    for name, m in wall_clock(wl, reps, stamp["nproc"]).items():
        extra = ""
        if name == "chunk_p90_s":
            tail = tail_percentile(n)
            extra = f"  (n={n}, {beyond(chunks, 90)} beyond; " + (
                f"p{tail:g} is the highest percentile with 10 beyond)" if tail
                else "fewer than 20 samples: pool runs for a tail)"
            )
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}{extra}")
    print(
        f"# check: {'PASS' if result['correct'] else 'FAIL'} "
        f"attempted={result['attempted']} failed={result['failed']}"
    )
