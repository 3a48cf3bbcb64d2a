"""The event-log reader and the per-layer attribution, against a small log
recorded from a real session (re-record with record_eventlog.py)."""

import json
import os

from chunkbench.tracing import EVENT_FIELDS, Span, layer_metrics, read_event_log

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _load():
    jobs, stages = read_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    with open(os.path.join(DATA, "spans_small.json")) as fh:
        spans = [Span(**s) for s in json.load(fh)]
    return jobs, stages, spans


def test_reader_attributes_jobs_and_stages_to_the_innermost_call():
    jobs, stages, _spans = _load()
    by_desc = {}
    for j in jobs.values():
        by_desc.setdefault(j.desc, []).append(j)
    assert sorted(by_desc) == ["inner#0", "outer#0"]
    assert all(j.end >= j.start > 0 for j in jobs.values())
    ran = [s for s in stages.values() if s.ran]
    assert {s.desc for s in ran} == {"inner#0", "outer#0"}
    inner = [s for s in ran if s.desc == "inner#0"]
    # the groupBy writes shuffle output in its map stage
    assert sum(s.shuffle_write_bytes for s in inner) > 0
    assert sum(s.tasks for s in ran) >= 4


def test_layer_metrics_nest_plan_and_gap():
    jobs, stages, spans = _load()
    m = layer_metrics(spans, jobs, stages)
    assert set(m) == {"outer", "inner"}
    for layer in m.values():
        assert set(layer) == set(EVENT_FIELDS)
    outer, inner = m["outer"], m["inner"]
    n_outer = sum(1 for j in jobs.values() if j.desc == "outer#0")
    n_inner = sum(1 for j in jobs.values() if j.desc == "inner#0")
    assert outer["jobs"] == n_outer and inner["jobs"] == n_inner
    # the groupBy shuffles 7 keys from 4 tasks; the global sum only 1 row per task
    assert inner["shuffle_write_bytes"] > outer["shuffle_write_bytes"] > 0
    assert inner["task_cpu_s"] > 0
    walls = {s.layer: s.wall for s in spans}
    for name, layer in m.items():
        assert 0 <= layer["plan_s"] <= walls[name]
        assert 0 <= layer["gap_s"] <= walls[name]
    # outer's covered time includes inner's jobs, so its gap cannot exceed
    # its wall minus the inner jobs' span
    inner_jobs = [j for j in jobs.values() if j.desc == "inner#0"]
    busy = max(j.end for j in inner_jobs) - min(j.start for j in inner_jobs)
    assert outer["gap_s"] <= walls["outer"] - busy + 1e-6


def test_reader_skips_a_torn_last_line(tmp_path):
    src = os.path.join(DATA, "eventlog_small.jsonl")
    with open(src) as fh:
        text = fh.read()
    torn = tmp_path / "log"
    torn.write_text(text + '{"Event": "SparkListenerJobStart", "Job ID"')
    assert read_event_log(str(torn))[0].keys() == read_event_log(src)[0].keys()
