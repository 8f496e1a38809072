#!/usr/bin/env python3
"""spark-qp benchmark: one closed-loop client running a workload's entries.

    python3 perfbench/run.py --workload sql_sf01 --seed 1 --seconds 12 --trace 0

One run is one process with one client thread.  It starts the engine's
Spark session on ``local[nproc]`` with the JVM's C1 compiler only (see
``JVM_OPTIONS``), then makes an untimed warm-up pass over the workload's
entries (codegen, footer reads, fixture builds and the spawn of the
reused Python workers) that also checks each entry's output against the
expected values derived from its DuckDB oracle (``expected.json``).  A
fixed number of timed passes follows, as many as fill ``--seconds`` on a
4-core host (at least two; one more when traced): each entry is
``spec.spark_fn(spark, sf_dir)`` followed by a noop-sink write, in an
order shuffled by ``--seed``.  The metrics and their units are the ones
``BENCHMARK.json`` declares.

``--trace 0`` measures the end-to-end metrics.  ``--trace 1`` is the
separate traced run: it alternates untraced and traced passes, records
spans around the calls into each layer (``layers.py``), reads jobs,
stages and tasks from an uncompressed event log and reports the
per-layer metrics, the tracing overhead and the self-time breakdown by
layer.

Every run gets a private scratch root (``TMPDIR``, ``SPARK_LOCAL_DIRS``,
the JVM's temp dir, the SQL warehouse and the event log), removed at
exit.  A result file with the host record goes to
``.perfbench/results/``.  The last line of stdout is the JSON result.
The sf0.1 input tables (``workloads.sf_dir()``) are read, never
written.
"""

from __future__ import annotations

import time

T_START = time.time()  # the run's set-up time is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.check import mismatch, summarize_spark  # noqa: E402
from perfbench.derive_expected import oracle_digest  # noqa: E402
from perfbench.eventlog import EventLog, parse  # noqa: E402
from perfbench.layers import Analysis, StreamProbe, dir_bytes, instrument, microbatch_seconds, table_bytes  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, sf_dir  # noqa: E402

# An execution still running after this is cancelled (its Spark jobs are
# cancelled, so spark_fn or the write raises) and counts as failed.
ENTRY_TIMEOUT_S = 60.0
# The driver heap's ceiling; session.py's default is larger than a small
# host's memory.
DRIVER_MEMORY = "2g"
# A run is far too short for the JVM's optimizing (C2) compiler to
# finish: its background compiles take cores from the task threads for
# the first minute of timed passes, and how much differs from run to run
# (on a 4-core host, sql_sf01 passes fell from 5.4 to 3.2 s over 15
# timed passes).  With the C1 compiler only, code reaches its steady
# speed during the warm-up pass.  The price: absolute times are C1 times
# (op_pagerank_support2 takes 6.6 s per call against 3.1-4.2 s under
# C2), and a change that only pays off under C2 does not show.
#
# The heap is committed at its ceiling (-Xms) but not touched, and the
# young generation has a fixed size (-Xmn), so G1 never resizes either.
# A page becomes resident when the program first uses it, so resident
# memory grows when the program uses more of the heap, not when G1
# decides to grow the heap: left to resize, G1 grew it at different
# points in each run and peak_rss_mb spread 14-23% across seeds; fixed,
# it spread 2-3%.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn512m -XX:TieredStopAtLevel=1"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _read_status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and
    its live descendants: the driver, its JVM and the Python workers."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = int(fields[11]) + int(fields[12])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def git_commit() -> str | None:
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = top.stdout.split()
    if top.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None  # not a git checkout of this tree
    return lines[1]


class Run:
    """One benchmark run: session, warm-up pass, timed passes, teardown."""

    def __init__(self, args, workload, tables: str, scratch: str):
        self.args = args
        self.workload = workload
        self.sf_dir = tables
        self.scratch = scratch
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.samples: list[float] = []
        self.passes: list[dict] = []
        self.entries: dict[int, dict] = {}
        self.final_bytes = 0
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)

    # -- session -------------------------------------------------------
    def start(self) -> None:
        import bench
        from qpmodel_spark import registry
        from qpmodel_spark.session import get_spark

        self.host_before = bench.host_load()
        self.jiffies_before = cpu_jiffies()
        self.cores = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        # no hsperfdata files in /tmp from the launcher or the driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={tempfile.gettempdir()}",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.scratch, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            os.makedirs(os.path.join(self.scratch, "eventlog"))
        self.setup = {"import_s": time.time() - T_START}
        c0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.setup["session_s"] = time.perf_counter() - c0
        self.specs = {n: registry.get(n) for n in self.workload.entries}
        self.probe = StreamProbe()
        self.spark.streams.addListener(self.probe)
        self.tracer = Tracer(self.spark.sparkContext)
        self.engines = []
        if self.args.trace:
            self.engines = instrument(self.tracer, self.spark)

    def stop(self) -> None:
        from pyspark import SparkContext

        self.tracer.unwrap()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)

    # -- passes --------------------------------------------------------
    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append({"entry": name, "why": why[:500]})

    @contextmanager
    def _deadline(self):
        """Cancel every Spark job once an execution passes ENTRY_TIMEOUT_S;
        yields a list that holds True if it did."""
        fired: list[bool] = []

        def cancel():
            fired.append(True)
            self.spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(ENTRY_TIMEOUT_S, cancel)
        timer.daemon = True
        timer.start()
        try:
            yield fired
        finally:
            timer.cancel()
            timer.join()

    def warm_up(self) -> None:
        """Untimed pass: one-time costs, and the output check."""
        for name in self._order():
            self.attempted += 1
            spec = self.specs[name]
            want = self.expected.get(name)
            if want is None or spec.oracle is None:
                self._fail(name, "no expected output; run derive_expected.py")
                continue
            if want["oracle_sha"] != oracle_digest(spec.oracle):
                self._fail(name, "oracle changed since expected.json was derived; rerun derive_expected.py")
                continue
            c0 = time.perf_counter()
            with self._deadline() as timed_out:
                try:
                    why = mismatch(summarize_spark(spec.spark_fn(self.spark, self.sf_dir)), want)
                except Exception as exc:  # a failing entry is counted, the run goes on
                    why = f"{type(exc).__name__}: {exc}"
            if timed_out:
                why = f"timed out after {ENTRY_TIMEOUT_S:.0f}s"
            self.setup[f"warm_up.{name}_s"] = time.perf_counter() - c0
            if why:
                self._fail(name, f"output check: {why}")

    def _order(self) -> list[str]:
        order = list(self.workload.entries)
        self.rng.shuffle(order)
        return order

    def _phases(self, df, sp) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                sp.attrs[phase] = opt.get().durationMs() / 1000

    def run_entry(self, name: str, eid: int, traced: bool) -> None:
        tr = self.tracer
        tr.entry = eid
        self.attempted += 1
        rec = self.entries[eid] = {"name": name, "pass": len(self.passes), "traced": traced, "start": time.time()}
        c0 = time.perf_counter()
        try:
            with self._deadline() as timed_out, tr.span("entry", entry=name):
                tr.phase = "build"
                with tr.span("entry.build"):
                    df = self.specs[name].spark_fn(self.spark, self.sf_dir)
                if traced:
                    tr.phase = "plan"
                    with tr.span("plan") as sp:
                        self._phases(df, sp)
                tr.phase = "exec"
                with tr.span("exec"):
                    df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # counted in error_rate; the loop goes on
            self._fail(name, f"timed out after {ENTRY_TIMEOUT_S:.0f}s" if timed_out else f"{type(exc).__name__}: {exc}")
            return
        finally:
            tr.phase = None
            rec["end"] = time.time()
        lat = time.perf_counter() - c0
        if timed_out:  # cancelled jobs that spark_fn swallowed
            self._fail(name, f"timed out after {ENTRY_TIMEOUT_S:.0f}s")
            return
        self.samples.append(lat)
        rec["latency_s"] = lat
        if traced:
            self.final_bytes += sum(table_bytes(e) for e in self.engines)
        self.engines.clear()

    def timed(self) -> None:
        self.t_first = time.time()
        eid = 0
        n_passes = self.workload.passes(self.args.seconds) + self.args.trace
        while len(self.passes) < n_passes:
            # a traced run alternates untraced and traced passes; their
            # medians give the tracing overhead.  The first timed pass is
            # still warming the JIT, so it is untraced and left out of the
            # overhead.
            traced = bool(self.args.trace) and len(self.passes) % 2 == 1
            self.tracer.enabled = traced
            cpu0, j0 = tree_cpu_s(os.getpid()), cpu_jiffies()
            c0 = time.perf_counter()
            for name in self._order():
                eid += 1
                self.run_entry(name, eid, traced)
            wall = time.perf_counter() - c0
            jiffies = [b - a for a, b in zip(j0, cpu_jiffies())]
            self.passes.append({
                "s": wall,
                "cpu_s": tree_cpu_s(os.getpid()) - cpu0,
                "steal_frac": jiffies[7] / sum(jiffies) if sum(jiffies) else 0.0,
                "traced": traced,
            })
        self.tracer.enabled = False

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_read_status_kb(jvm_pid, "VmHWM") + _read_status_kb("self", "VmHWM")) / 1024

    def drain_listeners(self) -> None:
        from py4j.protocol import Py4JError

        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        except Py4JError:
            time.sleep(1.0)

    def host_record(self) -> dict:
        import platform

        import bench

        sc = self.spark.sparkContext
        delta = [b - a for a, b in zip(self.jiffies_before, cpu_jiffies())]
        total, steal = sum(delta), delta[7]
        return {
            "nproc": os.cpu_count(),
            "cpus_usable": self.cores,
            "spark_cores": sc.defaultParallelism,
            "spark_master": sc.master,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark_version": self.spark.version,
            "java_version": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "python_version": platform.python_version(),
            "git_commit": git_commit(),
            "sf_dir": self.sf_dir,
            "load_before": self.host_before,
            "load_after": bench.host_load(),
            "cpu_steal_frac": steal / total if total else None,
        }


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> dict:
    untraced = [p["s"] for p in run.passes if not p["traced"]]
    return {
        "pass_s": stats.median(untraced),
        "latency_p50_s": stats.median(run.samples),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }


def count_leftovers(tmp: str) -> int:
    """Scratch dirs the program made under TMPDIR and did not remove."""
    try:
        return sum(1 for d in os.listdir(tmp) if d.startswith("qp_"))
    except OSError:
        return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "qpmodel_spark")):
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2
    tables = sf_dir()
    if not os.path.isdir(tables):
        print(f"input tables not found: {tables}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    # a terminated run still removes its scratch root (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    tempfile.tempdir = tmp

    run = Run(args, workload, tables, scratch)
    try:
        run.start()
        run.warm_up()
        run.timed()
        setup_s = run.t_first - T_START
        rss_mb = run.peak_rss_mb()
        run.drain_listeners()
        host = run.host_record()
        run.stop()
        log = EventLog()
        if args.trace:
            (log_file,) = os.listdir(os.path.join(scratch, "eventlog"))
            log = parse(os.path.join(scratch, "eventlog", log_file))
        dirs_left = count_leftovers(tmp)
        scratch_bytes = dir_bytes(scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    e2e = end_to_end(run, setup_s, rss_mb)
    tail, tail_pct, n = stats.tail(run.samples)
    mb = microbatch_seconds([p for p in run.probe.progress if p["start"] >= run.t_first])
    mb_tail = stats.tail(mb) if mb else (None, None, 0)
    extra = {
        "error_rate": run.failed / run.attempted,
        "latency_tail_s": tail,
        "latency_tail_pct": tail_pct,
        "latency_samples": n,
        "passes": len(run.passes),
        "pass_cpu_s": stats.median([p["cpu_s"] for p in run.passes if not p["traced"]]),
        "microbatches": len(mb),
        "microbatch_p50_s": stats.median(mb) if mb else None,
        "microbatch_tail_s": mb_tail[0],
        "microbatch_tail_pct": mb_tail[1],
    }
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "entries": list(workload.entries),
        "end_to_end": e2e,
        "extra": extra,
        "passes": run.passes,
        "executions": list(run.entries.values()),
        "failures": run.failures,
        "host": host,
        "setup": run.setup,
        "scratch": {"dirs_left": dirs_left, "bytes": scratch_bytes},
    }
    if args.trace:
        an = Analysis(run.tracer, log, run.probe, run.entries, run.cores, run.final_bytes)
        traced = [p["s"] for p in run.passes if p["traced"]]
        untraced = [p["s"] for p in run.passes if not p["traced"]]
        layer = an.metrics()
        layer["scratch.dirs_left"] = dirs_left
        layer["scratch.bytes"] = scratch_bytes
        layer["trace.overhead_frac"] = stats.median(traced) / stats.median(untraced[1:] or untraced) - 1
        breakdown = an.breakdown(stats.median(traced))
        layer["trace.coverage"] = breakdown["coverage"]
        result["per_layer"] = layer
        result["breakdown"] = breakdown
        result["spans"] = [[sp.id, sp.name, sp.start, sp.end, sp.parent, sp.entry, sp.phase] for sp in an.spans]
    e2e_units = declared_units("end_to_end")
    units = declared_units("per_layer") if args.trace else e2e_units
    values = result["per_layer"] if args.trace else e2e
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(values)} differ from BENCHMARK.json's {sorted(units)}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    path = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}.json")
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")

    for k, v in e2e.items():
        print(f"{k:24s} {v:12.4f} {e2e_units[k]}")
    print(f"{'latency_tail_s':24s} {tail:12.4f} s   (p{tail_pct:.0f} of {n} samples)")
    print(f"{'pass_cpu_s':24s} {extra['pass_cpu_s']:12.4f} s   (CPU of the driver, JVM and Python workers)")
    print(f"{'error_rate':24s} {extra['error_rate']:12.4f} ratio ({run.failed}/{run.attempted})")
    if mb:
        print(f"{'microbatch_p50_s':24s} {extra['microbatch_p50_s']:12.4f} s   ({len(mb)} micro-batches)")
        print(f"{'microbatch_tail_s':24s} {extra['microbatch_tail_s']:12.4f} s   (p{extra['microbatch_tail_pct']:.0f})")
    if args.trace:
        for k, v in result["per_layer"].items():
            print(f"{k:28s} {v:16.4f} {metrics[k]['unit']}")
        print("self time per pass by layer (s): " + ", ".join(f"{k}={v:.3f}" for k, v in breakdown["self_s"].items()))
        print(f"dominant layer: {breakdown['dominant']}")
    for f in run.failures:
        print(f"FAILED {f['entry']}: {f['why']}", file=sys.stderr)
    print(f"result file: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
