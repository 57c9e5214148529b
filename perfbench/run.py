"""Lineage-hook benchmark: what a lineage user pays for, end to end and
layer by layer: the CPU a query costs, then the wait for its lineage.

One driver process runs Spark on ``local[4]`` with the lineage tracker
installed as a QueryExecutionListener (``LineageTracker.install``), the
way the hook is deployed. One client runs a closed loop: it builds a
query's DataFrame, runs its action, then waits until the listener bus
has drained (the query's lineage record is stored) before the next
operation. Inputs are generated from ``--seed`` (``datagen.py``).

Before timing, one untimed pass runs every operation once and checks
each output against the DuckDB oracle (or requires rows when there is
none); it is also the warm-up. The timed window is the workload's
``timed_passes`` whole passes and at least ``--seconds``. Every
end-to-end time is a median over the window's passes, so the first
passes, which still run slow while the JIT settles, do not set it. Each
timed operation is checked:

- its lineage record exists, covers the output columns, and resolves
  every column to base-table cells unless the captured plan holds a
  pandas/Arrow Python exec; reads through a written sink must reach the
  same base-table cells as the write did;
- it started no Spark job outside its own job group, i.e. lineage
  capture did not execute the query's stages again.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see ``BENCHMARK.json``). Query wall time and throughput move with
other tenants' load on a shared host, so they are printed and reported
per layer (``wall.*``), and the bounded query metric is its CPU time.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Usage::

    python3 perfbench/run.py --workload hook_sweep --seed 1 --seconds 5 --trace 0
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import spans  # noqa: E402 — this directory is on sys.path when run as a script
from workloads import WORKLOADS, make_groups  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
BUS_TIMEOUT_MS = 120_000
# a pandas/Arrow Python exec in a captured plan (physical exec names,
# or their logical counterparts when only the logical plan is captured)
PYTHON_EXEC = re.compile(r"InPandas|InArrow|EvalPython|PythonUDF|PythonMapInArrow")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class StampedList(list):
    """Stands in for ``LineageTracker.queries``: records when each
    lineage record is stored."""

    def __init__(self) -> None:
        super().__init__()
        self.stamps: list[float] = []

    def append(self, item) -> None:
        self.stamps.append(time.perf_counter())
        super().append(item)


@dataclass
class Callback:
    """One traced listener callback: entry time, its QueryExecution, the
    records it stored (``tracker.queries[k0:k1]``) and its layer deltas."""

    t_in: float
    qe: object
    k0: int
    k1: int
    layers: dict


@dataclass
class Sample:
    op: str
    traced: bool
    query_s: float = 0.0
    lag_s: float | None = None
    query_cpu_s: float | None = None
    error: str | None = None
    lineage_error: str | None = None
    records: int = 0
    extra_jobs: int = 0
    layers: dict = field(default_factory=dict)


# -- process and file hygiene ------------------------------------------------


def _children(pid: int) -> list[int]:
    """All descendants of ``pid`` (from /proc)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _ticks(stat_path: str, n: int) -> int:
    """Sum of the ``n`` clock-tick fields from utime on of a /proc stat
    line (utime, stime, cutime, cstime)."""
    with open(stat_path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[11:11 + n])


# JVM threads that compile bytecode: warm-up work of the JVM, which
# decays over a run at a pace set by the host, not the query's own
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


class CpuClock:
    """CPU seconds used by this process and every process under it (the
    JVM and its Python workers), less the JVM's JIT compiler threads.
    Read from /proc in clock ticks of user and system time; a reaped
    child's time moves into its parent's ``cutime``/``cstime``, which
    count too. Unlike wall time it leaves out time a thread waits, for
    a wake-up or for a vCPU the host lent to another machine."""

    def __init__(self) -> None:
        self.tick = os.sysconf("SC_CLK_TCK")
        self.refresh()

    def refresh(self) -> None:
        """List the processes and JIT threads again (Spark starts Python
        workers on demand); reads between refreshes compare the same."""
        self.pids = [os.getpid()] + _children(os.getpid())
        self.jit: dict[str, int] = {}
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() != "java":
                        continue
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        if fh.read().startswith(JIT_THREADS):
                            path = f"/proc/{pid}/task/{tid}/stat"
                            self.jit[path] = _ticks(path, 2)
                except OSError:
                    continue

    def read(self) -> float:
        ticks = 0
        for pid in self.pids:
            try:
                ticks += _ticks(f"/proc/{pid}/stat", 4)
            except OSError:
                continue  # ended and reaped: its time is in its parent's
        for path in self.jit:
            try:
                self.jit[path] = _ticks(path, 2)
            except OSError:
                pass  # the thread ended: its time stays in the process's
            ticks -= self.jit[path]
        return ticks / self.tick


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait until each has ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is None:
        return
    descendants = _children(proc.pid)
    try:
        gw.shutdown()
    except (Py4JError, OSError):
        pass  # the JVM is torn down below either way
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in descendants) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in descendants:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def spark_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``run_dir``, before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (launcher and driver): temp files here, no hsperfdata in /tmp
    # all JIT compiler threads started up front, not on demand, so that
    # CpuClock finds each of them when it lists the JVM's threads
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"--conf spark.local.dir={local}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


# -- checks ------------------------------------------------------------------


def _plan_classes(docs) -> list[str]:
    """Every ``class`` name in nested plan JSON. Cached-plan docs share
    sub-documents (a checkpoint's doc can appear many times), so each
    object is visited once: dumped whole, dd08's come to about 177 MB."""
    names, seen, todo = [], set(), [docs]
    while todo:
        o = todo.pop()
        if id(o) in seen:
            continue
        seen.add(id(o))
        if isinstance(o, dict):
            if isinstance(o.get("class"), str):
                names.append(o["class"])
            todo.extend(v for v in o.values() if isinstance(v, (dict, list)))
        elif isinstance(o, list):
            todo.extend(v for v in o if isinstance(v, (dict, list)))
    return names


def has_python_exec(cap) -> bool:
    if cap.physical is not None:
        names = [n.kind for n in cap.physical.walk()]
    else:
        names = [str(n.get("class", "")) for n in cap.raw_logical]
    names += _plan_classes(cap.cached_plans)
    return any(PYTHON_EXEC.search(n) for n in names)


def base_reach(ql, base_tables: set[str]) -> dict[str, set]:
    """Per output column, the base-table cells its lineage reaches."""
    return {c.name: {b for b in c.bases if b[0] in base_tables} for c in ql.result.columns}


def _norm(p: str | None) -> str:
    return re.sub(r"^file:/+", "/", p or "").rstrip("/")


def action_record(op, records: list):
    """Index into ``records`` of the lineage record of ``op``'s action."""
    for i in range(len(records) - 1, -1, -1):
        ql = records[i]
        if op.expect == "query":
            root = str(ql.captured.raw_logical[0].get("class", "")) if ql.captured.raw_logical else ""
            if ql.command_type == "QUERY" and root.endswith("OverwriteByExpression"):
                return i
        elif ql.command_type == "INSERT" and _norm(ql.output_path) == _norm(op.target):
            return i
    return None


def lineage_problem(op, ql, columns: list[str], base_tables: set[str], barrier: bool,
                    writer: dict | None) -> str | None:
    """Why ``ql`` fails the lineage check, or None. ``barrier``: the
    query's captured plan (or, for a read-back, its writer's) holds a
    Python exec, below which columns may stay unresolved. ``writer``:
    for a read-back, ``base_reach`` of the record that wrote the sink."""
    from hive_lineage_spark.lineage import UNKNOWN

    got = {c.name for c in ql.result.columns}
    missing = set(columns) - got
    if missing:
        return f"columns without lineage: {sorted(missing)}"
    if not barrier:
        bad = [c.name for c in ql.result.columns if UNKNOWN in c.bases]
        if bad:
            return f"unresolved columns: {bad}"
        if not ql.result.input_tables:
            return "no input tables"
    if op.reads_back:
        # through the sink, each column must reach the same base cells
        # as when it was written, not stop at the sink
        if writer is None:
            return "no lineage record of the write"
        reach = base_reach(ql, base_tables)
        bad = sorted(c for c in writer if reach.get(c) != writer[c])
        if bad:
            return f"read-back lineage differs from the write's: {bad}"
    return None


# -- the run -----------------------------------------------------------------


class Bench:
    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.tracer = None
        self.callbacks: list[Callback] = []
        self.phases: dict[str, float] = {}
        # query -> (its plan had a Python exec, base_reach) from its last
        # op that is not a read-back: the write a read-back goes through
        self.writer: dict[str, tuple[bool, dict]] = {}
        self.ran: list[str] = []  # every op run so far; its index names the job group

    # set-up ---------------------------------------------------------------

    def prepare_inputs(self, wl) -> None:
        """Generate the tables and the DuckDB oracle fingerprints in a
        child process, before Spark starts."""
        self.sf_dir = os.path.join(self.run_dir, f"sf{wl.sf}")
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), self.sf_dir, str(wl.sf),
             str(self.args.seed), *sorted(set(wl.queries))],
            stdout=subprocess.PIPE, text=True, timeout=600,
        )
        if p.returncode != 0:
            raise RuntimeError(f"input generation failed (exit {p.returncode})")
        self.expected = json.loads(p.stdout.strip().splitlines()[-1])

    def start(self, wl) -> None:
        import __spark_entry__ as entry
        from hive_lineage_spark.hook import LineageTracker
        from hive_lineage_spark.session import get_spark
        from hive_lineage_spark.sources.registry import TABLES

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.bus = self.jsc.listenerBus()
        self.phases["session_s"] = time.perf_counter() - t0
        self.tracker = LineageTracker()
        self.tracker.queries = StampedList()
        self.tracker.install(self.spark)
        self.cpu = CpuClock()
        self.base_tables = set(TABLES)
        self.groups = make_groups(wl, self.spark, self.sf_dir, os.path.join(self.run_dir, "stitch"), entry.queries())
        self.position = {op.name: i for i, op in enumerate(op for g in self.groups for op in g)}

    def install_tracing(self) -> None:
        import hive_lineage_spark.hook as hook
        import hive_lineage_spark.plans.capture as capture
        import hive_lineage_spark.sources.registry as registry

        t = self.tracer = spans.Tracer()
        for fn in (registry.load_table, registry.load_events, registry.fan_out_scan):
            t.patch_function("sources", fn)
        for fn in (capture.capture_qe, capture.capture_write_commands, capture.capture_view_command):
            t.patch_function("capture", fn)
        t.patch_method("analyze", hook.LineageTracker, "track_captured")
        t.patch_py4j()
        listener = self.tracker._jlistener
        orig = listener.onSuccess
        bench = self

        def on_success(func_name, qe, duration_ns):
            if not t.enabled:
                return orig(func_name, qe, duration_ns)
            k0, t_in, snap = len(bench.tracker.queries), time.perf_counter(), t.snapshot()
            try:
                return t.call("hook", orig, func_name, qe, duration_ns)
            finally:
                bench.callbacks.append(Callback(
                    t_in, qe, k0, len(bench.tracker.queries), spans.delta(t.snapshot(), snap)
                ))

        listener.onSuccess = on_success

    # one operation ----------------------------------------------------------

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def run_op(self, op, idx: int, traced: bool, verify: dict | None = None) -> Sample:
        s = Sample(op=op.name, traced=traced)
        group = f"pb{idx}"
        self.sc.setJobGroup(group, op.name)
        j0 = self.next_job_id()
        k0 = len(self.tracker.queries)
        self.callbacks.clear()
        if self.tracer is not None:
            self.tracer.enabled = traced
            snap0 = self.tracer.snapshot()
        columns: list[str] = []
        self.cpu.refresh()
        c0 = self.cpu.read()
        t0 = time.perf_counter()
        t1 = None
        try:
            if traced:
                df = self.tracer.call("operators", op.build)
            else:
                df = op.build()
            columns = list(df.columns)
            if verify is not None:
                from hive_lineage_spark.oracle import spark_fingerprint

                verify[op.name] = spark_fingerprint(df)
            if verify is None or op.expect != "query":
                # the warm-up's collect already ran a plain read; writes
                # still run, since later reads go through their sinks
                op.act(df)
            t1 = time.perf_counter()
            s.query_cpu_s = self.cpu.read() - c0
            s.query_s = t1 - t0
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            s.error = f"{type(e).__name__}: {str(e)[:200]}"
        self.bus.waitUntilEmpty(BUS_TIMEOUT_MS)
        if self.tracer is not None:
            self.tracer.enabled = False
            layers = spans.delta(self.tracer.snapshot(), snap0) if traced else None
        records = self.tracker.queries[k0:]
        stamps = self.tracker.queries.stamps[k0:]
        s.records = len(records)
        if s.error is None:
            i = action_record(op, records)
            if i is None:
                s.lineage_error = f"no {op.expect} lineage record"
            else:
                s.lag_s = stamps[i] - t1
                barrier = has_python_exec(records[i].captured)
                if op.reads_back:
                    w_barrier, reach = self.writer.get(op.query, (False, None))
                    s.lineage_error = lineage_problem(
                        op, records[i], columns, self.base_tables, barrier or w_barrier, reach)
                else:
                    self.writer[op.query] = (barrier, base_reach(records[i], self.base_tables))
                    s.lineage_error = lineage_problem(
                        op, records[i], columns, self.base_tables, barrier, None)
                if traced:
                    s.layers = self.layer_sample(group, records[i], k0 + i, layers, t1)
        own = len(self.sc.statusTracker().getJobIdsForGroup(group))
        s.extra_jobs = self.next_job_id() - j0 - own
        if s.extra_jobs > 0 and s.lineage_error is None:
            s.lineage_error = f"{s.extra_jobs} job(s) started outside the query's action"
        if op.after is not None:
            op.after()
        return s

    def layer_sample(self, group: str, ql, rec_idx: int, layers: dict, t1: float) -> dict:
        """Per-layer figures of one traced operation (read after its
        lineage is stored, outside the timed windows)."""
        from hive_lineage_spark.lineage import UNKNOWN

        sec, calls, py4j = layers["seconds"], layers["calls"], layers["py4j"]
        # the listener callback that stored the action's record; other
        # callbacks in the window are lineage of build-time actions
        mine = [c for c in self.callbacks if c.k0 <= rec_idx < c.k1]
        cb = mine[0] if mine else Callback(t1, None, 0, 0, {"seconds": {}, "calls": {}, "py4j": {}})
        out = {
            "operators.build_s": sec.get("operators", 0.0),
            "operators.py4j_calls": py4j.get("operators", 0),
            "sources.load_s": sec.get("sources", 0.0),
            "sources.load_calls": calls.get("sources", 0),
            "sources.py4j_calls": py4j.get("sources", 0),
            "capture.s": cb.layers["seconds"].get("capture", 0.0),
            "capture.py4j_calls": cb.layers["py4j"].get("capture", 0),
            "analyze.s": cb.layers["seconds"].get("analyze", 0.0),
            "hook.py4j_calls": cb.layers["py4j"].get("hook", 0),
            "hook.wait_s": cb.t_in - t1,
        }
        cap = ql.captured
        out["capture.plan_nodes"] = sum(1 for _ in cap.logical.walk()) + (
            sum(1 for _ in cap.physical.walk()) if cap.physical is not None else 0
        )
        out["capture.json_kb"] = len(json.dumps(cap.raw_logical)) / 1024.0
        out["capture.cached_subplans"] = len(cap.cached_plans)
        out["analyze.columns"] = len(ql.result.columns)
        out["analyze.unknown_cols"] = sum(1 for c in ql.result.columns if UNKNOWN in c.bases)
        # the query's own analysis runs eagerly inside the build; the
        # command's analysis phase is under the tracker's 1 ms resolution
        for phase in ("optimization", "planning"):
            out[f"plan.{phase}_s"] = 0.0
            if cb.qe is not None:
                got = cb.qe.tracker().phases().get(phase)
                if got.isDefined():
                    out[f"plan.{phase}_s"] = got.get().durationMs() / 1000.0
        out.update(self.stage_sample(group))
        return out

    def stage_sample(self, group: str) -> dict:
        """Spark's own accounting of the jobs in ``group``."""
        from py4j.protocol import Py4JJavaError

        store = self.jsc.statusStore()
        spans, n_stages = [], 0
        tot = dict(tasks=0, run_ms=0, shr=0, shw=0, spill=0, out=0)
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        for jid in jobs:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            sids = jd.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:
                    # an old stage whose shuffle output this job reused,
                    # since evicted from the store (spark.ui.retainedStages)
                    continue
                n = st.numCompleteTasks()
                if n == 0:
                    continue  # skipped (reused shuffle output)
                n_stages += 1
                tot["tasks"] += n
                tot["run_ms"] += st.executorRunTime()
                tot["shr"] += st.shuffleReadBytes()
                tot["shw"] += st.shuffleWriteBytes()
                tot["spill"] += st.diskBytesSpilled()
                tot["out"] += st.outputBytes()
        busy, end = 0, None
        for a, b in sorted(spans):
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        mb = 1024.0 * 1024.0
        return {
            "execute.s": busy / 1000.0,
            "execute.jobs": len(jobs),
            "execute.stages": n_stages,
            "execute.tasks": tot["tasks"],
            "execute.task_run_s": tot["run_ms"] / 1000.0,
            "execute.shuffle_read_mb": tot["shr"] / mb,
            "execute.shuffle_write_mb": tot["shw"] / mb,
            "execute.spill_mb": tot["spill"] / mb,
            "execute.output_mb": tot["out"] / mb,
        }

    # passes -----------------------------------------------------------------

    def verify_pass(self) -> dict:
        """Untimed warm-up pass: every operation once, its output
        fingerprinted; returns {op name: fingerprint or error}."""
        fps: dict = {}
        for grp in self.groups:
            for op in grp:
                s = self.run_op(op, len(self.ran), traced=False, verify=fps)
                self.ran.append(op.name)
                if s.error:
                    fps[op.name] = s.error
        return fps

    def check_outputs(self, fps: dict) -> dict[str, str]:
        """Compare warm-up outputs with the DuckDB oracle (or, for a
        query without one, require rows); returns {op name: problem}."""
        oracle = self.expected["oracle"]
        bad: dict[str, str] = {}
        for grp in self.groups:
            for op in grp:
                fp = fps.get(op.name)
                want = oracle.get(op.query)
                if not isinstance(fp, tuple):
                    bad[op.name] = fp or "no output"
                elif want is not None and not isinstance(want, str):
                    if (fp[0], list(fp[1]), fp[2]) != (want[0], list(want[1]), want[2]):
                        bad[op.name] = f"output differs from oracle: rows {fp[0]} vs {want[0]}"
                elif fp[0] == 0:
                    bad[op.name] = "0 rows"
        return bad

    def passes(self, seconds: float, rng: random.Random, trace: bool = False,
               min_passes: int = 1) -> tuple[list[Sample], list[float]]:
        """Closed-loop passes over the workload, each in a fresh seeded
        order, until ``min_passes`` are done and ``seconds`` have passed.
        Only whole passes run, so every run measures the same mix.
        Returns the samples and each pass's wall."""
        samples: list[Sample] = []
        walls: list[float] = []
        seen: dict[str, int] = {}
        deadline = time.perf_counter() + seconds
        while len(walls) < min_passes or time.perf_counter() < deadline:
            order = list(self.groups)
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for grp in order:
                for op in grp:
                    n = seen.get(op.name, 0)
                    seen[op.name] = n + 1
                    # traced run: each op alternates traced and untraced
                    # samples, half of the ops starting traced, so the
                    # tracing overhead is not confounded with warm-up
                    traced = trace and (n + self.position[op.name]) % 2 == 0
                    samples.append(self.run_op(op, len(self.ran), traced=traced))
                    self.ran.append(op.name)
            walls.append(time.perf_counter() - t_pass)
        return samples, walls


# -- metrics -----------------------------------------------------------------


def _p90(xs: list[float]) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.9 * len(xs)))] if xs else 0.0


def _sum_of_medians(samples: list[Sample], key) -> float:
    by: dict[str, list[float]] = {}
    for s in samples:
        v = key(s)
        if v is not None:
            by.setdefault(s.op, []).append(v)
    return sum(statistics.median(v) for v in by.values())


def end_to_end(samples, bad_outputs, setup_s) -> dict:
    ok_q = [s for s in samples if s.error is None and s.op not in bad_outputs]
    ok_l = [s for s in samples if s.error is None and s.lineage_error is None]
    return {
        "query_cpu_s": (_sum_of_medians(ok_q, lambda s: s.query_cpu_s), "s"),
        "lineage_lag_s": (_sum_of_medians(samples, lambda s: s.lag_s), "s"),
        "lineage_ok_frac": (len(ok_l) / len(samples), "fraction"),
        "query_ok_frac": (len(ok_q) / len(samples), "fraction"),
        "setup_s": (setup_s, "s"),
        "driver_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
    }


def wall_figures(samples, walls, bad_outputs) -> dict:
    """The closed loop's wall-clock figures: operations done with their
    lineage per second of timed wall, and ``query_s`` as ``bench.py``
    defines it (untraced samples only). On a shared host they move with
    other tenants' load (see README), so they are not bounded."""
    ok_q = [s for s in samples if s.error is None and s.op not in bad_outputs]
    done = [s for s in ok_q if s.lineage_error is None]
    return {
        "wall.qps": (len(done) / sum(walls), "1/s"),
        "wall.query_s": (_sum_of_medians([s for s in ok_q if not s.traced], lambda s: s.query_s), "s"),
    }


LAYER_UNITS = {
    "operators.build_s": "s", "operators.build_p90_s": "s", "operators.py4j_calls": "count",
    "sources.load_s": "s", "sources.load_calls": "count", "sources.py4j_calls": "count",
    "plan.optimization_s": "s", "plan.planning_s": "s",
    "execute.s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.task_run_s": "s", "execute.shuffle_read_mb": "MB",
    "execute.shuffle_write_mb": "MB", "execute.spill_mb": "MB", "execute.output_mb": "MB",
    "execute.rerun_jobs": "count",
    "capture.s": "s", "capture.py4j_calls": "count", "capture.plan_nodes": "count",
    "capture.json_kb": "KB", "capture.cached_subplans": "count",
    "analyze.s": "s", "analyze.columns": "count", "analyze.unknown_cols": "count",
    "hook.dispatch_s": "s", "hook.wait_s": "s", "hook.py4j_calls": "count",
    "hook.records_per_query": "count", "hook.tracker_queries": "count",
    "hook.location_map": "count",
    "host.spin_ms": "ms", "host.load1": "load",
    "trace.query_s": "s", "trace.lineage_lag_s": "s",
    "trace.overhead_query_frac": "fraction", "trace.overhead_lag_frac": "fraction",
}


def per_layer(samples, bench: Bench, host: dict) -> dict:
    """Per-pass figures: for every op, the median over its traced
    samples, summed over ops (the same aggregation as ``query_cpu_s``)."""
    traced = [s for s in samples if s.traced and s.layers]
    plain = [s for s in samples if not s.traced and s.error is None and s.lag_s is not None]
    out: dict[str, float] = {}
    for key in traced[0].layers if traced else []:
        out[key] = _sum_of_medians(traced, lambda s, k=key: s.layers.get(k))
    out["operators.build_p90_s"] = _p90([s.layers["operators.build_s"] for s in traced])
    lag = _sum_of_medians(traced, lambda s: s.lag_s)
    out["hook.dispatch_s"] = lag - out.get("capture.s", 0.0) - out.get("analyze.s", 0.0)
    out["hook.records_per_query"] = statistics.mean(s.records for s in samples)
    out["hook.tracker_queries"] = len(bench.tracker.queries)
    out["hook.location_map"] = len(bench.tracker.location_map)
    out["execute.rerun_jobs"] = sum(s.extra_jobs for s in samples)
    out["host.spin_ms"] = host["spin_ms"]
    out["host.load1"] = (host.get("load") or [0.0])[0]
    out["trace.query_s"] = _sum_of_medians(traced, lambda s: s.query_s)
    out["trace.lineage_lag_s"] = lag
    # tracing overhead: traced vs untraced samples of the same ops
    both = {s.op for s in traced} & {s.op for s in plain}
    for name, key in (("query", lambda s: s.query_s), ("lag", lambda s: s.lag_s)):
        a = _sum_of_medians([s for s in traced if s.op in both], key)
        b = _sum_of_medians([s for s in plain if s.op in both], key)
        out[f"trace.overhead_{name}_frac"] = a / b - 1.0 if b > 0 else 0.0
    return {k: (out.get(k, 0.0), unit) for k, unit in LAYER_UNITS.items()}


# -- main --------------------------------------------------------------------


def run(args, run_dir: str) -> dict:
    import bench as repo_bench

    wl = WORKLOADS[args.workload]
    host = repo_bench.machine_load_evidence()
    b = Bench(args, run_dir)
    spark_env(run_dir)
    b.prepare_inputs(wl)
    t_inputs = time.perf_counter()
    b.start(wl)
    try:
        if args.trace:
            b.install_tracing()
        t_warm = time.perf_counter()
        fps = b.verify_pass()
        rng = random.Random(args.seed)
        t_ready = time.perf_counter()
        # set-up: session, tracker install and the checked warm-up
        # pass (events layout and index frames are built there on
        # first use); input generation, the oracle and host sampling
        # are the benchmark's own work and are left out
        setup_s = t_ready - t_inputs
        b.phases.update(inputs_s=t_inputs - T_START, warmup_s=t_ready - t_warm)
        samples, walls = b.passes(args.seconds, rng, bool(args.trace), wl.timed_passes)
        b.phases["timed_s"] = sum(walls)
        b.phases["passes"] = len(walls)
        tracker_sizes = (len(b.tracker.queries), len(b.tracker.location_map))
        bad_outputs = b.check_outputs(fps)
        wall = wall_figures(samples, walls, bad_outputs)
        if args.trace:
            metrics = per_layer(samples, b, host) | wall
        else:
            metrics = end_to_end(samples, bad_outputs, setup_s)
    finally:
        if b.tracer is not None:
            b.tracer.restore()
        stop_spark(b.spark)
    failed = [s for s in samples if s.error or s.lineage_error or s.op in bad_outputs]
    report(wl, args, samples, walls, wall, bad_outputs, metrics, host, tracker_sizes, b.phases)
    return {
        "correct": not failed and not bad_outputs,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def report(wl, args, samples, walls, wall, bad_outputs, metrics, host, tracker_sizes, phases) -> None:
    """Human-readable lines ahead of the JSON result."""
    print(f"workload {wl.name}  sf {wl.sf}  seed {args.seed}  trace {args.trace}  "
          f"host spin {host['spin_ms']} ms load {host.get('load')}")
    print("phases " + "  ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    print("pass walls " + " ".join(f"{w:.2f}" for w in walls) + "  "
          + "  ".join(f"{k} {v:.4f} {u}" for k, (v, u) in wall.items()))
    print(f"samples {len(samples)} over {len({s.op for s in samples})} ops; "
          f"tracker records {tracker_sizes[0]}, location map {tracker_sizes[1]}")
    for op, why in sorted(bad_outputs.items()):
        print(f"OUTPUT CHECK FAILED  {op}: {why}")
    for s in samples:
        if s.error or s.lineage_error:
            print(f"FAILED  {s.op}: {s.error or s.lineage_error}")
    by: dict[str, list[Sample]] = {}
    for s in samples:
        by.setdefault(s.op, []).append(s)
    for op, ss in sorted(by.items()):
        q = statistics.median(s.query_s for s in ss)
        lags = [s.lag_s for s in ss if s.lag_s is not None]
        lag = statistics.median(lags) if lags else float("nan")
        cpus = [s.query_cpu_s for s in ss if s.query_cpu_s is not None]
        cpu = statistics.median(cpus) if cpus else float("nan")
        trail = " ".join(f"{s.query_s:.2f}" for s in ss)
        print(f"  op {op:34s} n {len(ss):2d}  query {q:7.3f} s  cpu {cpu:7.3f} s  lag {lag:7.3f} s  [{trail}]")
    for k, (v, u) in metrics.items():
        print(f"  {k:28s} {v:12.4f} {u}")


def remove_run_files(run_dir: str, sf: float) -> None:
    """Remove the run's directory and the ``.scratch`` caches the
    program derived from its generated inputs."""
    from hive_lineage_spark.sources.registry import scratch_key

    shutil.rmtree(os.path.join(ROOT, ".scratch", scratch_key(os.path.join(run_dir, f"sf{sf}"))), ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hive_lineage_spark", "hook.py")):
        print(f"perfbench: no hive_lineage_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        remove_run_files(run_dir, WORKLOADS[args.workload].sf)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
