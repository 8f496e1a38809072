"""Which calls of the program are traced, and how spans, the event log
and streaming progress become per-layer metrics.

Layers, by the module they measure:

- ``entry``: the entry's ``spark_fn`` call (plan construction, which
  runs eager jobs in loop entries) and its driver actions;
- ``materialize``: ``localCheckpoint``/``checkpoint``/``cache``/``persist``;
- ``catalog``: ``catalog.load``/``register_views``/``fanout``;
- ``plan``: Catalyst analysis, optimization and physical planning;
- ``exec``: the jobs of the noop-sink write;
- ``udf``: stages that ship rows to Python workers;
- ``ddl``: ``ddl.Engine`` statements (MERGE, snapshots, writes);
- ``stream``: ``streaming.stream_runner`` calls and micro-batches.
"""

from __future__ import annotations

import datetime as dt
import inspect
import os
import threading

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import stats
from perfbench.eventlog import EventLog
from perfbench.trace import GROUP_PREFIX, Span, Tracer, self_times

MATERIALIZE = ("localCheckpoint", "checkpoint", "cache", "persist")
ACTIONS = ("collect", "count", "first", "head", "take", "tail", "toPandas", "isEmpty", "toLocalIterator", "foreach", "foreachPartition")
WRITES = ("save", "parquet", "saveAsTable", "insertInto")
DURATIONS = {  # StreamingQueryProgress.durationMs key -> metric
    "triggerExecution": "stream.trigger_s",
    "addBatch": "stream.add_batch_s",
    "queryPlanning": "stream.query_planning_s",
    "walCommit": "stream.wal_commit_s",
    "commitOffsets": "stream.commit_offsets_s",
    "latestOffset": "stream.latest_offset_s",
}


def instrument(tracer: Tracer, spark) -> list:
    """Wrap the calls into each layer; ``tracer.unwrap()`` undoes it.

    Returns the list that every ``ddl.Engine`` created while tracing is
    appended to, so the caller can size the tables they leave.
    """
    from pyspark.sql import DataFrameWriter

    from qpmodel_spark import catalog, ddl
    from qpmodel_spark.streaming import stream_runner

    def fanout_result(sp, args, out):
        sp.attrs["repartitioned"] = out is not args[0]

    engines: list = []

    def engine_created(sp, args, out):
        engines.append(args[0])

    for name in ("load", "register_views"):
        tracer.wrap(catalog, name, f"catalog.{name}")
    tracer.wrap(catalog, "fanout", "catalog.fanout", on_result=fanout_result)
    tracer.wrap(ddl.Engine, "__init__", "ddl.init", on_result=engine_created)
    for name, fn in vars(ddl.Engine).items():
        if inspect.isfunction(fn) and not name.startswith("_"):
            tracer.wrap(ddl.Engine, name, f"ddl.{name}")
    for name, fn in vars(stream_runner).items():
        if inspect.isfunction(fn) and not name.startswith("_") and fn.__module__ == stream_runner.__name__:
            tracer.wrap(stream_runner, name, f"stream.{name}")
    frame_cls = type(spark.range(1))
    for name in MATERIALIZE:
        tracer.wrap(frame_cls, name, "materialize", nested=False)
    for name in ACTIONS:
        tracer.wrap(frame_cls, name, "action", nested=False)
    for name in WRITES:
        tracer.wrap(DataFrameWriter, name, "write", nested=False)
    return engines


def table_bytes(engine) -> int:
    """Bytes of the current files of every table an Engine holds."""
    return sum(dir_bytes(engine._path(t)) for t in engine.distribution)


class StreamProbe(StreamingQueryListener):
    """Keeps every streaming query's start and micro-batch progress.

    Listener events arrive on another thread; the start time maps a
    query's run id (the job group of its micro-batch jobs) to an entry.
    """

    def __init__(self):
        self.lock = threading.Lock()
        self.started: list[tuple[str, float]] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append((str(event.runId), _epoch(event.timestamp)))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "start": _epoch(p.timestamp),
            "duration_ms": dict(p.durationMs or {}),
            "input_rows": int(p.numInputRows or 0),
            "state": [(int(s.numRowsTotal), int(s.memoryUsedBytes), int(s.commitTimeMs)) for s in p.stateOperators or ()],
        }
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def microbatch_seconds(progress: list[dict]) -> list[float]:
    return [p["duration_ms"].get("triggerExecution", 0) / 1000 for p in progress]


def layer_of(sp: Span, by_id: dict[int, Span]) -> str:
    """The layer a span's self time belongs to.  An action or write
    belongs to the layer that issued it (a MERGE's parquet write is
    ddl time); issued by the entry itself, it is entry time."""
    if sp.name == "entry":
        return "harness"  # gaps between an entry's build, plan and exec
    if sp.phase in ("plan", "exec"):
        return sp.phase
    if sp.name in ("action", "write"):
        parent = by_id.get(sp.parent)
        return layer_of(parent, by_id) if parent is not None else "entry"
    return sp.name.split(".")[0]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Analysis:
    """Per-layer metrics of the traced passes of one run."""

    def __init__(self, tracer: Tracer, log: EventLog, probe, entries: dict[int, dict], cores: int, final_bytes: float):
        self.tracer = tracer
        self.final_bytes = final_bytes  # table bytes left by Engine in the traced passes
        self.log = log
        self.entries = entries  # entry execution id -> {"pass", "traced", "start", "end", "name"}
        self.cores = cores
        self.spans = [s for s in tracer.spans if s.entry in entries and entries[s.entry]["traced"]]
        self.by_id = {s.id: s for s in self.spans}
        self.progress = [p for p in probe.progress if self._entry_at(p["start"]) is not None]
        self.runs = {run: self._entry_at(t) for run, t in probe.started}
        self._add_microbatch_spans()
        self.passes = len({e["pass"] for e in entries.values() if e["traced"]}) or 1

    def _entry_at(self, t: float) -> int | None:
        for eid, e in self.entries.items():
            if e["traced"] and e["start"] <= t <= e["end"]:
                return eid
        return None

    def _add_microbatch_spans(self) -> None:
        added = []
        for p in self.progress:
            eid = self._entry_at(p["start"])
            end = p["start"] + p["duration_ms"].get("triggerExecution", 0) / 1000
            # the batch nests under the innermost main-thread span waiting on it
            waiting = [
                s for s in self.spans
                if s.entry == eid and s.phase == "build" and not s.attrs.get("callback") and s.start <= p["start"] and end <= s.end
            ]
            if waiting:
                parent = min(waiting, key=lambda s: s.dur)
                added.append(self.tracer.add("stream.microbatch", p["start"], end, eid, parent.id))
        # a foreachBatch callback's outermost spans nest under the batch
        # that ran them
        by_id = {s.id: s for s in self.spans}
        for sp in self.spans:
            parent = by_id.get(sp.parent)
            if not sp.attrs.get("callback") or (parent is not None and parent.attrs.get("callback")):
                continue
            for mb in added:
                if mb.entry == sp.entry and mb.start <= sp.start and sp.end <= mb.end:
                    sp.parent = mb.id
                    break
        self.spans.extend(added)
        self.by_id.update({s.id: s for s in added})

    def _within(self, sid: int | None, pred) -> bool:
        while sid is not None:
            sp = self.by_id.get(sid)
            if sp is None:
                return False
            if pred(sp):
                return True
            sid = sp.parent
        return False

    def _span_of_group(self, group: str | None) -> int | None:
        if group and group.startswith(GROUP_PREFIX) and group[len(GROUP_PREFIX):].isdigit():
            sid = int(group[len(GROUP_PREFIX):])
            return sid if sid in self.by_id else None
        return None

    def _jobs(self, pred) -> list:
        return [j for j in self.log.jobs.values() if self._within(self._span_of_group(j.group), pred)]

    def _stages(self, pred) -> list:
        return [s for s in self.log.stages.values() if self._within(self._span_of_group(s.group), pred)]

    def _stream_jobs(self) -> list:
        return [j for j in self.log.jobs.values() if j.group in self.runs and self.runs[j.group] is not None]

    def metrics(self) -> dict[str, float]:
        P = self.passes
        spans = self.spans
        named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
        in_build = lambda s: s.phase == "build"  # noqa: E731
        m: dict[str, float] = {}

        build_jobs = self._jobs(in_build) + self._stream_jobs()
        m["entry.build_s"] = sum(s.dur for s in named("entry.build")) / P
        m["entry.build_jobs"] = len(build_jobs) / P
        m["entry.build_stages"] = sum(len(j.stage_ids) for j in build_jobs) / P
        mat = [s for s in named("materialize") if in_build(s)]
        m["materialize.calls"] = len(mat) / P
        m["materialize.s"] = sum(s.dur for s in mat) / P
        m["entry.driver_actions"] = sum(1 for s in spans if s.name in ("action", "write") and in_build(s)) / P

        loads = named("catalog.load")
        m["catalog.load_calls"] = len(loads) / P
        m["catalog.load_s"] = sum(s.dur for s in loads) / P
        m["catalog.load_jobs"] = len(self._jobs(lambda s: s.name == "catalog.load")) / P
        m["catalog.register_views_s"] = sum(s.dur for s in named("catalog.register_views")) / P
        fan = named("catalog.fanout")
        m["catalog.fanout_calls"] = len(fan) / P
        m["catalog.fanout_repartitioned"] = sum(1 for s in fan if s.attrs.get("repartitioned")) / P

        plans = named("plan")
        for phase in ("analysis", "optimization", "planning"):
            m[f"plan.{phase}_s"] = sum(s.attrs.get(phase, 0.0) for s in plans) / P
        m["plan.s"] = sum(s.dur for s in plans) / P

        execs = named("exec")
        exec_wall = sum(s.dur for s in execs)
        ex_jobs = self._jobs(lambda s: s.phase == "exec")
        ex_stages = [st for st in self._stages(lambda s: s.phase == "exec") if st.run_ms or st.failed_tasks]
        run_ms = sum(sum(st.run_ms) for st in ex_stages)
        m["exec.s"] = exec_wall / P
        m["exec.jobs"] = len(ex_jobs) / P
        m["exec.stages"] = len(ex_stages) / P
        m["exec.tasks"] = sum(st.tasks for st in ex_stages) / P
        m["exec.run_s"] = run_ms / 1000 / P
        m["exec.cpu_s"] = sum(st.cpu_ns for st in ex_stages) / 1e9 / P
        m["exec.gc_s"] = sum(st.gc_ms for st in ex_stages) / 1000 / P
        m["exec.busy_frac"] = run_ms / 1000 / (exec_wall * self.cores) if exec_wall else 0.0
        skewed = [(sum(st.run_ms), max(st.run_ms) / max(stats.median(st.run_ms), 1)) for st in ex_stages if len(st.run_ms) >= 2]
        weight = sum(w for w, _ in skewed)
        m["exec.task_skew"] = sum(w * r for w, r in skewed) / weight if weight else 1.0
        for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes"):
            m[f"exec.{key}"] = sum(getattr(st, key) for st in ex_stages) / P
        m["exec.failed_tasks"] = sum(st.failed_tasks for st in ex_stages) / P

        all_stages = self._stages(lambda s: True) + [
            st for j in self._stream_jobs() for sid in j.stage_ids if (st := self.log.stages.get(sid)) is not None
        ]
        py = [st for st in all_stages if st.py_sent_bytes or st.py_received_bytes]
        m["udf.bytes_to_python"] = sum(st.py_sent_bytes for st in py) / P
        m["udf.bytes_from_python"] = sum(st.py_received_bytes for st in py) / P
        m["udf.stage_run_s"] = sum(sum(st.run_ms) for st in py) / 1000 / P

        merges = named("ddl.merge_into")
        m["ddl.merge_calls"] = len(merges) / P
        m["ddl.merge_s"] = sum(s.dur for s in merges) / P
        m["ddl.merge_jobs"] = len(self._jobs(lambda s: s.name == "ddl.merge_into")) / P
        written = sum(st.output_bytes for st in self._stages(lambda s: s.name.startswith("ddl.")))
        m["ddl.bytes_written"] = written / P
        m["ddl.write_amp"] = written / self.final_bytes if self.final_bytes else 0.0

        prog = self.progress
        m["stream.batches"] = len(prog) / P
        m["stream.input_rows"] = sum(p["input_rows"] for p in prog) / P
        for key, name in DURATIONS.items():
            m[name] = sum(p["duration_ms"].get(key, 0) for p in prog) / 1000 / P
        m["stream.state_rows"] = sum(max((s[0] for s in p["state"]), default=0) for p in prog) / max(len(prog), 1)
        m["stream.state_memory_bytes"] = max((s[1] for p in prog for s in p["state"]), default=0)
        m["stream.state_commit_s"] = sum(s[2] for p in prog for s in p["state"]) / 1000 / P
        mb = microbatch_seconds(prog)
        m["microbatch_p50_s"] = stats.median(mb) if mb else 0.0
        m["microbatch_tail_s"] = stats.tail(mb)[0] if mb else 0.0
        return m

    def breakdown(self, pass_wall: float) -> dict:
        """Self time per layer over the traced passes, per pass: for the
        whole workload and for each of its entries."""
        selfs = self_times(self.spans)
        by_entry: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            layers = by_entry.setdefault(self.entries[sp.entry]["name"], {})
            layer = layer_of(sp, self.by_id)
            layers[layer] = layers.get(layer, 0.0) + selfs[sp.id] / self.passes
        by_layer: dict[str, float] = {}
        for layers in by_entry.values():
            for layer, v in layers.items():
                by_layer[layer] = by_layer.get(layer, 0.0) + v
        # a pass is covered where a layer span, not the harness, runs:
        # gaps inside an entry and between entries lower the coverage
        covered = sum(v for k, v in by_layer.items() if k != "harness")

        def ranked(layers):
            return {k: round(v, 4) for k, v in sorted(layers.items(), key=lambda kv: -kv[1])}

        return {
            "self_s": ranked(by_layer),
            "dominant": max(by_layer, key=by_layer.get) if by_layer else None,
            "coverage": covered / pass_wall if pass_wall else 0.0,
            "entries": {name: {"self_s": ranked(v), "dominant": max(v, key=v.get)} for name, v in sorted(by_entry.items())},
        }
