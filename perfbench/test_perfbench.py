"""Tests of the benchmark's own parts: seeded inputs and the event-log
folder. Run with ``python3 -m pytest perfbench -q``; no Spark needed."""

import json
import math

import pytest

import gen
from eventlog import Span, fold, read_log, unattributed_jobs


def _ingest_digest(seed: int) -> str:
    x = gen.ingest_inputs(seed)
    batch, _ = x.probe_batch(3)
    return gen.digest(x.docs, batch)


@pytest.mark.parametrize("make", [
    lambda s: gen.digest(*gen.dq_tables(s).values()),
    _ingest_digest,
], ids=["dq", "ingest"])
def test_seed_fixes_inputs(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_corpus_plants_copies_above_their_sources():
    x = gen.ingest_inputs(3)
    ids = x.docs["doc_id"].to_pylist()
    texts = x.docs["text"].to_pylist()
    first_id = {}
    for i, t in sorted(zip(ids, texts)):
        first_id.setdefault(t, i)
    copies = [i for i in ids if i >= gen.COPY_BASE]
    assert len(copies) == x.exact_copies > 0
    # every exact copy has an identical doc with a smaller id
    assert all(first_id[t] < i for i, t in zip(ids, texts)
               if i >= gen.COPY_BASE)


def test_probe_batch_pairs_copies_with_sources():
    x = gen.ingest_inputs(5)
    batch, pairs = x.probe_batch(0)
    text = dict(zip(x.docs["doc_id"].to_pylist(),
                    x.docs["text"].to_pylist()))
    got = dict(zip(batch["doc_id"].to_pylist(), batch["text"].to_pylist()))
    assert len(pairs) == gen.PROBE_BATCH // 2
    assert all(got[b] == text[s] for b, s in pairs.items())


def _write_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _task(launch, run_ms, cpu_ns, gc_ms=1, inp=10, shw=5, peak=100):
    return {"Event": "SparkListenerTaskEnd",
            "Task Info": {"Launch Time": launch},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Peak Execution Memory": peak,
                "Input Metrics": {"Bytes Read": inp},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shw}}}


def test_fold_synthetic_event_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    t = 1_000_000  # ms
    _write_log(app / "events_1_local-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": t + 100},
        _task(t + 110, 200, 150_000_000),
        _task(t + 120, 300, 50_000_000, peak=400),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": t + 500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": t + 400},
    ])
    # the second rolled part ends the overlapping job 1, then a job
    # after a gap
    _write_log(app / "events_2_local-1", [
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": t + 700},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": t + 800},
        _task(t + 810, 100, 100_000_000, gc_ms=0),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": t + 900},
        # a job between the two spans, then one of the second span
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Submission Time": t + 1100},
        {"Event": "SparkListenerJobEnd", "Job ID": 4, "Completion Time": t + 1150},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": t + 1500},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": t + 1600},
    ])
    (app / "appstatus_local-1").write_text("")
    jobs, tasks = read_log(str(tmp_path))
    assert len(jobs) == 5 and len(tasks) == 3

    spans = [Span("a", 1000.0, 1001.0), Span("b", 1001.2, 1001.55)]
    out = fold(spans, jobs, tasks)
    a = out["a"][0]
    assert a["jobs"] == 3 and a["tasks"] == 3
    assert math.isclose(a["job_union_s"], 0.7)      # [100,700] + [800,900]
    assert math.isclose(a["driver_s"], 0.3)
    assert math.isclose(a["driver_s"] + a["job_union_s"], a["wall_s"])
    assert a["job_outside_s"] == 0
    assert math.isclose(a["executor_run_s"], 0.6)
    assert math.isclose(a["executor_cpu_s"], 0.3)
    assert math.isclose(a["cpu_share"], 0.5)
    assert math.isclose(a["gc_s"], 0.002)
    assert a["input_bytes"] == 30 and a["shuffle_write_bytes"] == 15
    assert a["peak_exec_mem_bytes"] == 400
    # job 3 runs past the end of span b: clipped to the span
    b = out["b"][0]
    assert b["jobs"] == 1 and b["tasks"] == 0
    assert math.isclose(b["job_union_s"], 0.05)
    assert math.isclose(b["driver_s"] + b["job_union_s"], b["wall_s"])
    assert math.isclose(b["job_outside_s"], 0.05)
    # the job between the spans is in neither; the jobs before the first
    # span and after the last are outside the traced window
    stray = unattributed_jobs(spans, jobs)
    assert [j.submit_ms for j in stray] == [t + 1100]
    assert unattributed_jobs(spans[1:], jobs) == []
