"""Session, tracing and measurement helpers shared by the workloads.

Spark numbers are read from outside the engine: job and stage counts from
the status tracker and the app status store, per-node SQL metrics
(Arrow/Python crossing, shuffle, aggregation memory) from the SQL status
store, and Catalyst phase times from a query's ``QueryExecution`` tracker.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Everything a run writes (generated inputs, Spark scratch, traces) goes
#: here, inside the checkout.
WORK = os.path.join(ROOT, ".perfbench")


def n_cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 2 GiB: well below the machine."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    return min(2048, total_kb // 4096)


def spark_conf():
    """Settings for a ``local[N]`` session sized to this machine, N = cores
    (at most 4), with Spark's scratch space inside the checkout.  Also puts
    the repository on ``PYTHONPATH`` so Python workers can import the
    package."""
    from pyspark import SparkConf

    scratch = os.path.join(WORK, "spark")
    os.makedirs(scratch, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = scratch
    n = n_cores()
    return (
        SparkConf()
        .setMaster(f"local[{n}]")
        .setAppName("perfbench")
        .set("spark.sql.shuffle.partitions", str(n))
        .set("spark.driver.memory", f"{driver_memory_mb()}m")
        .set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={scratch}")
        .set("spark.local.dir", scratch)
        .set("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
    )


def launch_jvm() -> None:
    """Start the JVM gateway alone, before any session."""
    from pyspark import SparkContext

    SparkContext._ensure_initialized(conf=spark_conf())


def start_spark():
    """A new session (and Spark context) on the running JVM."""
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.config(conf=spark_conf()).getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the JVM behind it, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
    except Exception:  # noqa: BLE001 - an interrupted gateway call; the JVM is stopped below
        pass
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def high_percentile(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(xs)
    if n < 20:
        return None
    p = int(100 * (n - 10) / n)
    return p, float(statistics.quantiles(xs, n=100, method="inclusive")[p - 1])


def calibrate() -> float:
    """Time a fixed pure-Python loop: the host drift control."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


# -- tracing ------------------------------------------------------------------


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, op id); a no-op when
    disabled.  Written out once, when the run ends."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _t0: float = field(default_factory=time.perf_counter)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


# -- process tree ---------------------------------------------------------


def _descendants() -> list[tuple[int, str, list[str]]]:
    """(pid, command name, fields of /proc/<pid>/stat after the command
    name) of every descendant of this process: the JVM, the PySpark
    daemon and the Python workers."""
    children: dict[int, list[tuple[int, str, list[str]]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        children.setdefault(int(fields[1]), []).append(
            (int(entry), head.split("(", 1)[1], fields)
        )
    found, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        proc = todo.pop()
        found.append(proc)
        todo.extend(children.get(proc[0], ()))
    return found


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> dict[str, float]:
    """User + system CPU seconds used so far by this process's descendants,
    including their reaped children: ``python`` for the PySpark daemon and
    the Python workers, where the scoring UDF runs, and ``jvm`` for the
    rest.  Time the host takes from the virtual CPUs (steal) is not
    counted."""
    out = {"python": 0.0, "jvm": 0.0}
    for _, comm, fields in _descendants():
        ticks = sum(int(f) for f in fields[11:15])
        out["python" if comm.startswith("python") else "jvm"] += ticks / _CLK_TCK
    return out


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's virtual CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the Python
    workers), sampled from ``/proc`` on a background thread.  The driver
    process itself is left out: it holds the benchmark's own inputs and
    its DuckDB oracle."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid, _, _ in _descendants():
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark metrics ------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE_RE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]*)")

#: (plan node, SQL metric name) -> our metric name.  Times in seconds,
#: sizes in bytes.
SQL_METRICS = {
    ("ArrowEvalPython", "time to run Python workers"): "py_run_s",
    ("ArrowEvalPython", "time to initialize Python workers"): "py_init_s",
    ("ArrowEvalPython", "time to start Python workers"): "py_start_s",
    ("ArrowEvalPython", "data sent to Python workers"): "bytes_to_py",
    ("ArrowEvalPython", "data returned from Python workers"): "bytes_from_py",
    ("Exchange", "shuffle bytes written"): "shuffle_bytes",
    ("HashAggregate", "spill size"): "spill_bytes",
    ("HashAggregate", "peak memory"): "peak_mem_bytes",
}


def parse_metric_value(text: str) -> float:
    """Spark's formatted SQL metric ('1,234', '8.0 MiB', or a
    'total (min, med, max ...)' header line followed by the total) as a
    number in seconds or bytes."""
    line = text.split("\n")[-1]
    m = _VALUE_RE.match(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkObserver:
    """Attributes Spark work to one operation through a job group, and reads
    the operation's scheduler and SQL metrics once it has finished."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        self._first_exec = 0

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)
        self._first_exec = self.sql_store.executionsCount()

    def collect(self, op_id: str) -> dict[str, float]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ["jobs", "stages", "tasks", "exec_s", "skew", *SQL_METRICS.values()], 0.0
        )
        job_ids = self.sc.statusTracker().getJobIdsForGroup(op_id)
        starts, ends, stage_ids = [], [], []
        for jid in job_ids:
            job = self.app_store.job(jid)
            out["jobs"] += 1
            out["stages"] += job.numCompletedStages()
            out["tasks"] += job.numCompletedTasks()
            if job.submissionTime().isDefined():
                starts.append(job.submissionTime().get().getTime())
            if job.completionTime().isDefined():
                ends.append(job.completionTime().get().getTime())
            stage_ids += _seq(job.stageIds())
        if starts and ends:
            out["exec_s"] = (max(ends) - min(starts)) / 1000.0
        out["skew"] = self._skew(stage_ids)
        n = self.sql_store.executionsCount()
        if n > self._first_exec:
            for ex in _seq(self.sql_store.executionsList(self._first_exec, n - self._first_exec)):
                self._add_sql_metrics(ex.executionId(), out)
        return out

    def _skew(self, stage_ids: list[int]) -> float:
        """Slowest over median task of the stage with the most task time."""
        best, best_time = None, -1
        for sid in set(stage_ids):
            try:
                stage = self.app_store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            if str(stage.status()) == "COMPLETE" and stage.executorRunTime() > best_time:
                best, best_time = stage, stage.executorRunTime()
        if best is None:
            return 1.0
        tasks = _seq(self.app_store.taskList(best.stageId(), best.attemptId(), 100000))
        durations = [t.duration().get() for t in tasks if t.duration().isDefined()]
        if not durations or median(durations) <= 0:
            return 1.0
        return max(durations) / median(durations)

    def _add_sql_metrics(self, execution_id: int, out: dict[str, float]) -> None:
        values = {}
        it = self.sql_store.executionMetrics(execution_id).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        for node in _seq(self.sql_store.planGraph(execution_id).allNodes()):
            name = node.name()
            for metric in _seq(node.metrics()):
                key = SQL_METRICS.get((name, metric.name()))
                if key is not None and metric.accumulatorId() in values:
                    out[key] += parse_metric_value(values[metric.accumulatorId()])


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time of ``df``'s own query
    execution, forcing its physical plan if nothing has yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = float(kv._2().durationMs())
    return {p: phases.get(p, 0.0) for p in ("analysis", "optimization", "planning")}
