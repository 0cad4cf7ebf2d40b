"""The event-log reducer, pinned on a hand-written log and on a tiny live
job. Run: ``python3 -m pytest etlbench/tests -q`` from the repo root."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

from spans import UNGROUPED, GroupMetrics, Tracer, reduce_event_log, total  # noqa: E402


def _task(stage, launch, finish, run_ms, cpu_ns, gc_ms, spill=0, read=(0, 0),
          written=0, records=0, out=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed, "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0],
                                     "Local Bytes Read": read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written,
                                      "Shuffle Records Written": records},
            "Output Metrics": {"Bytes Written": out},
        },
    }


def _stage(stage, submitted):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0,
                           "Submission Time": submitted}}


def _job(job, stages, submitted, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Submission Time": submitted, "Properties": props}


def test_reducer_on_a_known_log(tmp_path):
    events = [
        # a map stage and a result stage of group g#1
        _job(0, [0, 1], 1000, "g#1"),
        _stage(0, 1002),
        _task(0, 1005, 1100, 90, 80_000_000, 4, written=300, records=7),
        _task(0, 1010, 1120, 100, 90_000_000, 6, spill=64, written=200, records=5),
        _stage(1, 1130),
        _task(1, 1131, 1150, 15, 10_000_000, 0, read=(100, 400), out=2048),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1151},
        # a later job of the same group reuses stage 0 (skipped) + stage 2
        _job(1, [0, 2], 1200, "g#1"),
        _stage(2, 1201),
        _task(2, 1203, 1210, 5, 1_000_000, 0, failed=True),
        # a job outside any span
        _job(2, [3], 1300),
        _stage(3, 1300),
        _task(3, 1301, 1302, 1, 500_000, 0),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = reduce_event_log(str(path))
    assert set(groups) == {"g#1", UNGROUPED}
    g = groups["g#1"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (2, 3, 4, 1)
    assert round(g.executor_run_s, 6) == 0.21
    assert round(g.executor_cpu_s, 6) == 0.181
    assert round(g.gc_s, 6) == 0.01
    assert g.spill_bytes == 64
    assert g.shuffle_write_bytes == 500 and g.shuffle_write_records == 12
    assert g.shuffle_read_bytes == 500
    assert g.output_bytes == 2048
    # waits: 3 + 8 (stage 0), 1 (stage 1), 2 (stage 2) ms
    assert round(g.task_wait_s, 6) == 0.014
    assert [q for _, q in g.job_queue_ms] == [5.0, 3.0]
    u = groups[UNGROUPED]
    assert (u.jobs, u.tasks) == (1, 1)
    both = total(groups, ["g#1", UNGROUPED, "missing"])
    assert both.tasks == 5 and both.jobs == 3
    assert GroupMetrics().jobs == 0


def test_spans_tag_live_jobs(tmp_path):
    """A tiny aggregate under a span: its jobs carry the span's group, the
    shuffle written equals the shuffle read, and jobs outside stay
    ungrouped."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from openmrs_module_mamba_etl_spark.session import get_spark

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = get_spark(app_name="spans-test", master="local[2]", extra_conf={
        "spark.driver.memory": "1g",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    try:
        tr = Tracer(spark)
        with tr.span("outer") as outer:
            with tr.span("agg"):
                rows = spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k") \
                    .groupBy("k").count().collect()
        spark.range(10).collect()
        app = spark.sparkContext.applicationId
    finally:
        spark.stop()
    assert len(rows) == 7
    groups = reduce_event_log(str(log_dir / app))
    (agg,) = tr.ids("agg")
    g = groups[agg]
    assert g.jobs >= 1
    assert g.shuffle_write_records == 4 * 7  # one partial row per key per map task
    assert g.shuffle_write_bytes == g.shuffle_read_bytes > 0
    assert g.tasks >= 5 and g.failed_tasks == 0
    assert tr.subtree(outer) == [outer, agg]
    assert outer not in groups  # every job ran inside the inner span
    assert groups[UNGROUPED].jobs >= 1


def test_failed_spans_are_not_samples():
    """A call that raises leaves its span out of the timing samples."""
    tr = Tracer()
    with tr.span("tick"):
        pass
    try:
        with tr.span("tick"):
            raise RuntimeError("refresh failed")
    except RuntimeError:
        pass
    assert len(tr.spans) == 2
    assert len(tr.walls("tick")) == 1 and tr.ids("tick") == ["tick#1"]
