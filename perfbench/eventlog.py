"""Reader for an uncompressed, non-rolling Spark event log.

The log is one JSON object per line.  Only the events that carry job,
stage and task facts are read; every stage is keyed to the job group of
the thread that submitted it (``spark.jobGroup.id``), which is how the
tracer ties executor work to the span that caused it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Stage:
    stage_id: int
    group: str | None = None
    submit_ms: int | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: list[int] = field(default_factory=list)  # per successful task
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    py_sent_bytes: int = 0
    py_received_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)


def _accum(info: dict, name: str) -> int:
    total = 0
    for acc in info.get("Accumulables") or ():
        if acc.get("Name") == name:
            try:
                total += int(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return total


def _stage(log: EventLog, stage_id: int) -> Stage:
    st = log.stages.get(stage_id)
    if st is None:
        st = log.stages[stage_id] = Stage(stage_id)
    return st


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            log.jobs[jid] = Job(jid, props.get(GROUP), ev.get("Submission Time", 0), list(ev.get("Stage IDs") or ()))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = _stage(log, info["Stage ID"])
            st.group = (ev.get("Properties") or {}).get(GROUP)
            st.submit_ms = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            st = _stage(log, ev["Stage ID"])
            info = ev.get("Task Info") or {}
            st.tasks += 1
            if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                st.failed_tasks += 1
                continue
            m = ev.get("Task Metrics") or {}
            st.run_ms.append(int(m.get("Executor Run Time", 0)))
            st.cpu_ns += int(m.get("Executor CPU Time", 0))
            st.gc_ms += int(m.get("JVM GC Time", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
            st.shuffle_write_bytes += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
            st.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
            st.output_bytes += int((m.get("Output Metrics") or {}).get("Bytes Written", 0))
            st.py_sent_bytes += _accum(info, PY_SENT)
            st.py_received_bytes += _accum(info, PY_RECEIVED)
    return log


def parse(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse_lines(fh)
