import json

import pytest

import eventlog
from spans import Span


def _job_start(job_id, submit_ms, stages, span=None):
    props = {"spark.job.description": "x"}
    if span is not None:
        props["perfbench.span"] = str(span)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submit_ms, "Stage IDs": stages, "Properties": props}


def _task_end(stage, run_ms, shuffle_bytes=0, shuffle_records=0, failed=False,
              gc_ms=0, spilled=0, records_read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spilled,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes,
                                      "Shuffle Records Written": shuffle_records},
            "Input Metrics": {"Records Read": records_read},
        },
    }


LOG = [
    _job_start(0, 1_000_500, [0, 1], span=2),
    _task_end(0, 100, shuffle_bytes=10, shuffle_records=2),
    _task_end(0, 300, shuffle_bytes=20, shuffle_records=3, gc_ms=50),
    _task_end(1, 200, failed=True, spilled=7, records_read=5),
    # launched from a thread without the property: attributed by time
    _job_start(1, 1_003_200, [2]),
    _task_end(2, 1000),
    # outside every span: unattributed
    _job_start(2, 1_020_000, [3]),
    _task_end(3, 1),
]


def test_parse_sums_task_metrics_per_job():
    jobs = eventlog.parse_events(json.dumps(e) for e in LOG)
    assert [j.id for j in jobs] == [0, 1, 2]
    first = jobs[0]
    assert first.span == 2
    assert first.tasks == 3 and first.task_s == pytest.approx(0.6)
    assert first.shuffle_bytes == 30 and first.shuffle_records == 5
    assert first.failed_tasks == 1 and first.spill_bytes == 7
    assert first.gc_s == pytest.approx(0.05) and first.input_records == 5
    assert jobs[1].span is None


def test_attribution_by_property_then_innermost_time_window():
    spans = [
        Span(1, "run", None, 0.0, 10.0),
        Span(2, "commit-a", 1, 0.2, 2.0),
        Span(3, "commit-b", 1, 3.0, 4.0),
    ]
    jobs = eventlog.parse_events(json.dumps(e) for e in LOG)
    by_span = eventlog.attribute(jobs, spans, epoch_offset=1000.0)
    assert [j.id for j in by_span[2]] == [0]
    assert [j.id for j in by_span[3]] == [1]  # innermost span at t=3.2
    assert 1 not in by_span  # job 2 falls outside every span
    assert sorted(j.id for j in eventlog.subtree_jobs(1, spans, by_span)) == [0, 1]


def test_counters_and_skew():
    jobs = eventlog.parse_events(json.dumps(e) for e in LOG[:4])
    counts = eventlog.counters(jobs)
    assert counts["jobs"] == 1 and counts["tasks"] == 3
    # stage 0: tasks of 0.1 s and 0.3 s → max/median = 0.3 / 0.2
    assert counts["task_skew"] == pytest.approx(1.5)
    assert set(eventlog.COUNTERS) <= set(counts)


def test_reads_uncompressed_files_from_a_directory(tmp_path):
    (tmp_path / "local-123").write_text("\n".join(json.dumps(e) for e in LOG) + "\n")
    (tmp_path / "local-456.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    jobs = eventlog.read_jobs(str(tmp_path))
    assert len(jobs) == 3
