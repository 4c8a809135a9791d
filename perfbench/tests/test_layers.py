import json
import os

import numpy as np
import pytest

import datagen
import layers

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "rest_snapshot.json")


@pytest.fixture(scope="module")
def snap():
    with open(FIXTURE) as fh:
        return json.load(fh)


@pytest.mark.parametrize("text, value", [
    ("57", 57.0),
    ("3,389", 3389.0),
    ("1640.0 B", 1640.0),
    ("260.2 KiB", 260.2 * 1024),
    ("10.0 MiB", 10 * 2**20),
    ("440 ms", 0.44),
    ("2.5 s", 2.5),
    ("total (min, med, max (stageId: taskId))\n512 ms (253 ms, 259 ms, 259 ms (stage 17.0: task 3))", 0.512),
])
def test_parse_metric(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_garbage():
    with pytest.raises(ValueError):
        layers.parse_metric("n/a")


def test_parse_time_and_interval_union():
    a = layers.parse_time("2026-10-17T03:06:14.332GMT")
    assert layers.parse_time("2026-10-17T03:06:15.247GMT") - a == pytest.approx(0.915)
    assert layers.interval_union([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_job_group_scopes_the_scan_and_shuffle_op(snap):
    jobs = layers.op_jobs(snap["jobs"], "q1_pricing_summary", 0.0, 0.0)
    assert sorted(j["jobId"] for j in jobs) == [0, 1, 2]
    c = layers.layer_counts(snap, jobs)
    assert c["exec.jobs"] == 3
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in snap["stages"] if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    assert c["exec.tasks"] == sum(s["numCompleteTasks"] for s in stages)
    assert c["exec.task_s"] == pytest.approx(sum(s["executorRunTime"] for s in stages) / 1e3)
    assert c["exec.cpu_s"] == pytest.approx(sum(s["executorCpuTime"] for s in stages) / 1e9)
    assert c["shuffle.write_bytes"] == sum(s["shuffleWriteBytes"] for s in stages) > 0
    assert c["exec.scan_bytes"] > 0 and c["exec.scan_s"] > 0
    assert c["python.nodes"] == 0
    walls = [(layers.parse_time(j["submissionTime"]), layers.parse_time(j["completionTime"]))
             for j in jobs]
    assert c["exec.job_wall_s"] == pytest.approx(layers.interval_union(walls))


def test_python_node_metrics_of_the_mapinpandas_op(snap):
    jobs = layers.op_jobs(snap["jobs"], "dedup_embedding_cosine", 0.0, 0.0)
    c = layers.layer_counts(snap, jobs)
    assert c["python.nodes"] == 1
    assert c["python.run_s"] == pytest.approx(2.5)
    assert c["python.start_s"] == pytest.approx(1.7)
    assert c["python.bytes_sent"] == pytest.approx(260.2 * 1024)
    assert c["python.bytes_recv"] == pytest.approx(1640.0)


def test_time_window_attributes_jobs_of_another_group(snap):
    t0 = layers.parse_time("2026-10-17T03:06:05.000GMT")
    t1 = layers.parse_time("2026-10-17T03:06:06.000GMT")
    jobs = layers.op_jobs(snap["jobs"], "some-stream-run-id", t0, t1)
    assert sorted(j["jobId"] for j in jobs) == [6, 7, 8]


def test_span_cover_leaves_gaps_between_spans_uncovered():
    assert layers.span_cover([(0.0, 1.0), (3.0, 4.0)], 0.0, 4.0) == pytest.approx(0.5)
    # clipped to the op, overlaps counted once
    spans = [(-5.0, 1.0), (0.5, 2.0), (3.5, 9.0)]
    assert layers.span_cover(spans, 0.0, 4.0) == pytest.approx(0.625)
    assert layers.span_cover([], 0.0, 2.0) == 0.0


def test_spans_and_executor_memory(snap):
    jobs = layers.op_jobs(snap["jobs"], "q1_pricing_summary", 0.0, 0.0)
    spans = layers.job_spans(jobs, snap, lambda t: "op")
    job_spans = [s for s in spans if s["parent"] == "op"]
    assert len(job_spans) == 3
    assert all(s["end"] >= s["start"] for s in spans)
    assert {s["parent"] for s in spans} - {"op"} <= {s["id"] for s in job_spans}
    assert layers.jvm_heap_peak_bytes(snap) > 0


def test_stream_counts_sum_progress_inside_the_window():
    ev = [
        {"t": 1.0, "rows": 5, "durationMs": {"triggerExecution": 10, "addBatch": 4,
                                             "queryPlanning": 2, "walCommit": 1}, "state_rows": 7},
        {"t": 2.0, "rows": 0, "durationMs": {"triggerExecution": 3}, "state_rows": 0},
        {"t": 9.0, "rows": 1, "durationMs": {"triggerExecution": 99}, "state_rows": 1},
    ]
    c = layers.stream_counts(ev, 0.5, 2.5)
    assert c["streaming.batches"] == 2
    assert c["streaming.trigger_ms"] == 13
    assert c["streaming.add_batch_ms"] == 4 and c["streaming.planning_ms"] == 2
    assert c["streaming.wal_ms"] == 1 and c["streaming.state_rows"] == 7


def test_datagen_is_a_function_of_the_seed():
    a, b, c = (datagen.generate(s, 0.001) for s in (7, 7, 8))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.row_counts(0.001)["lineitem"]


def test_inject_nulls_reports_the_nulls_it_made():
    t = datagen.generate(3, 0.001)["orders"]
    out, counts = datagen.inject_nulls(t, seed=5, frac=0.1)
    assert counts == {c: out.column(c).null_count for c in out.column_names}
    assert 0 < sum(counts.values()) < t.num_rows * t.num_columns
    assert np.isclose(sum(counts.values()) / (t.num_rows * t.num_columns), 0.1, atol=0.03)
