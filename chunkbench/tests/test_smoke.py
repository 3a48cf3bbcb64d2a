"""Tiny-scale smoke of every workload: one traced rep each in one shared
session, output checks, and every declared metric assembled."""

import os
import shutil
import subprocess
import sys

import pytest

from chunkbench import envstamp, report, run
from chunkbench.inputs import SCALES
from chunkbench.tracing import Tracer, read_event_log
from chunkbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_every_workload_at_tiny_scale(tmp_path):
    work = str(tmp_path)
    with pytest.MonkeyPatch.context() as mp:
        for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_WAREHOUSE_DIR", "SPARK_DRIVER_MEMORY",
                  "PYSPARK_SUBMIT_ARGS", "SPARK_LAUNCHER_OPTS"):
            mp.delenv(k, raising=False)
        run._spark_env(work)
        spark = run._start_spark(2, os.path.join(work, "eventlog"))
        done = {}
        try:
            for name, cls in WORKLOADS.items():
                wl = cls(spark, os.path.join(work, name), os.path.join(work, "cache"), 1,
                         SCALES["tiny"])
                wl.setup()
                tr = Tracer(sc=spark.sparkContext)
                rep = wl.rep(tr)
                assert rep.ok, name
                assert rep.ops > 0 and rep.retries == 0
                e2e = report.end_to_end(wl, [rep], [(0.6, 0.5, 0.0)], 100.0)
                assert list(e2e) == list(report.END_TO_END)
                assert all(m["value"] > 0 for m in e2e.values()), e2e
                wall = report.wall_clock(wl, [rep], 2)
                assert all(m["value"] > 0 for k, m in wall.items() if k != "steal_share"), wall
                done[name] = (rep, tr)
        finally:
            envstamp.stop(spark)
    jobs, stages = read_event_log(os.path.join(work, "eventlog"))
    layers = {
        name: report.per_layer([rep], tr, jobs, stages, [rep])
        for name, (rep, tr) in done.items()
    }
    for m in layers.values():
        assert set(m) == set(report.per_layer_units())
        assert m["trace.overhead_s"]["value"] == 0.0

    def value(name, metric):
        return layers[name][metric]["value"]

    assert value("adaptive_sparse_scan", "chunker.probe_jobs") > 0
    assert value("adaptive_sparse_scan", "chunker.ladder.single_id") == 1
    assert value("chunked_update_commit", "chunker.probe_jobs") == 0
    assert value("chunked_update_commit", "parquet.commit_jobs") > 0
    assert value("corpus_dedup_pipeline", "gram_store.ingest_jobs") > 0
    assert value("corpus_dedup_pipeline", "dedup.pairs_out") > 0


def test_fails_without_the_library(tmp_path):
    """Where only BENCHMARK.json and the benchmark exist, it exits non-zero
    and prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "chunkbench"), tmp_path / "chunkbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "chunkbench/run.py", "--workload", "adaptive_sparse_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
