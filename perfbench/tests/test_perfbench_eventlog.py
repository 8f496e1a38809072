import json
import os

from perfbench.eventlog import PY_RECEIVED, PY_SENT, parse, parse_lines


def _task(stage, run_ms, ok=True, accum=()):
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Failed": not ok, "Accumulables": [{"Name": n, "Update": str(v)} for n, v in accum]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 3,
            "Input Metrics": {"Bytes Read": 100},
            "Output Metrics": {"Bytes Written": 50},
        },
    })


def test_parse_lines_aggregates_tasks_per_stage():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb3"}}),
        json.dumps({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 6}, "Properties": {"spark.jobGroup.id": "pb3"}}),
        _task(1, 40, accum=[(PY_SENT, 1000), (PY_RECEIVED, 200)]),
        _task(1, 10),
        _task(1, 99, ok=False),
        "",
    ]
    log = parse_lines(lines)
    assert log.jobs[0].group == "pb3" and log.jobs[0].stage_ids == [0, 1]
    st = log.stages[1]
    assert st.group == "pb3"
    assert st.tasks == 3 and st.failed_tasks == 1
    assert st.run_ms == [40, 10]
    assert st.cpu_ns == 50_000_000 and st.gc_ms == 2
    assert st.shuffle_read_bytes == 30 and st.shuffle_write_bytes == 14
    assert st.spill_bytes == 6 and st.input_bytes == 200 and st.output_bytes == 100
    assert st.py_sent_bytes == 1000 and st.py_received_bytes == 200
    assert 0 not in log.stages  # skipped stage: never submitted, no tasks


def test_parse_event_log_of_a_tiny_query(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logdir = tmp_path / "events"
    logdir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(logdir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", "pb42")
        rows = spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 10).alias("k")).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 10
    finally:
        spark.stop()
    (name,) = os.listdir(logdir)
    log = parse(str(logdir / name))
    groups = {j.group for j in log.jobs.values()}
    assert "pb42" in groups
    stages = [s for s in log.stages.values() if s.group == "pb42"]
    assert stages and all(s.failed_tasks == 0 for s in stages)
    assert sum(s.tasks for s in stages) >= 3  # two map tasks and at least one reduce task
    assert sum(s.shuffle_write_bytes for s in stages) > 0
    assert sum(s.shuffle_read_bytes for s in stages) > 0
    assert all(len(s.run_ms) == s.tasks for s in stages)
