"""Environment pinning, session start, spans and accounting.

Everything here runs in the benchmark process and observes the engine
from outside: spans wrap calls into the package's public functions.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


def pin_environment(work_dir: str, cpus: int) -> None:
    """Pin everything the engine would otherwise take from the host or
    the repo's defaults. Must run before the JVM starts: the JVM and the
    Python workers it forks inherit this process's environment."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_EXTRA_CONFS", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def start_session(work_dir: str, cpus: int):
    """``local[cpus]`` with shuffle partitions = cpus, a pinned driver
    heap, and every directory the engine writes under ``work_dir``."""
    from databricks_feature_store_poc_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs={
            "spark.driver.memory": DRIVER_MEM,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit. ``spark`` is None when start-up was interrupted; a JVM that
    was already launched is stopped all the same."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        try:
            spark.stop()
        except Py4JError:
            pass  # a signal broke the connection mid-call; the JVM goes below
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> float:
    """Driver Python VmHWM plus the JVM's VmHWM."""
    from pyspark import SparkContext

    total = _vm_hwm_mb("self")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        total += _vm_hwm_mb(proc.pid)
    return total


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine from /proc/stat.
    Steal is time a virtual CPU wanted to run and the host ran something
    else; its share over a pass shows a slow host apart from a slow
    program."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM and the Python workers it forks. Children
    that exited are included through their parent's cutime/cstime.
    Time the host stole from the VM is not charged to any process."""
    children: dict[int, list[int]] = {}
    times: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we walked
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        times[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += times.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values)


def rows_digest(rows) -> str:
    """Order-independent digest of collected rows; floats rounded to 9
    significant digits so summation order cannot flip the digest."""

    def norm(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return repr(v)

    lines = sorted("|".join(norm(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class CheckFailed(AssertionError):
    """An output check did not hold."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Ops:
    """Failure accounting: every layer call plus its output check is one
    op. A failed op is recorded and counted; it does not stop the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextlib.contextmanager
    def op(self, name: str):
        self.attempted += 1
        try:
            yield
        except Exception as exc:  # boundary: record, count, keep running
            self.failed += 1
            if len(self.errors) < 20:
                tb = traceback.format_exception_only(type(exc), exc)[-1].strip()
                self.errors.append(f"{name}: {tb[:300]}")


class Py4jCounter:
    """Counts py4j ``send_command`` round-trips made by this process, the
    way scripts/profile_floor.py does. ``paused`` hides the tracer's own
    calls."""

    def __init__(self):
        self.n = 0
        self.paused = False

    def install(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        for cls in (jg.GatewayClient, cs.JavaClient):
            orig = cls.__dict__.get("send_command")
            if orig is None:
                continue

            def counted(client, *a, _orig=orig, **kw):
                if not self.paused:
                    self.n += 1
                return _orig(client, *a, **kw)

            cls.send_command = counted


class Tracer:
    """Spans around every layer call: name, start, end, parent and pass
    id, kept in memory. Start/end are always recorded (a clock read and a
    list append); with ``deep`` on, each span also gets its own Spark job
    group and a py4j round-trip count, and ``attribute`` later joins the
    group's jobs and stages from Spark's status store."""

    def __init__(self, counter: Py4jCounter):
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self.counter = counter
        self.deep = False
        self.bookkeeping_s = 0.0  # time spent setting job groups
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, rec: dict | None) -> None:
        self.counter.paused = True
        t0 = time.perf_counter()
        try:
            if rec is None or "group" not in rec:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(rec["group"], rec["name"])
        finally:
            self.bookkeeping_s += time.perf_counter() - t0
            self.counter.paused = False

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "deep": self.deep,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if rec["deep"]:
            rec["group"] = f"perfbench-span-{rec['id']}"
            self._set_group(rec)
            c0 = self.counter.n
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if rec["deep"]:
                rec["py4j_calls"] = self.counter.n - c0
                self._set_group(parent if parent and parent["deep"] else None)
            self._stack.pop()

    def attribute(self, spark) -> None:
        """Join each deep span's job group to its jobs, stages and task
        metrics. A stage reused by a later job (a skipped stage) counts
        once, for the job that ran it."""
        from py4j.protocol import Py4JJavaError

        self.counter.paused = True
        try:
            sc = spark.sparkContext
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty(30_000)
            store = jsc.statusStore()
            tracker = sc.statusTracker()
            seen: set[int] = set()
            for rec in self.spans:
                if "group" not in rec:
                    continue
                jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
                acc = dict.fromkeys(
                    ("tasks", "shuffle_write_bytes", "spill_bytes",
                     "task_cpu_s", "gc_s", "output_bytes"), 0.0)
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for sid in sorted(info.stageIds if info else []):
                        if sid in seen:
                            continue
                        seen.add(sid)
                        try:
                            sd = store.lastStageAttempt(sid)
                        except Py4JJavaError:
                            continue  # never submitted
                        acc["tasks"] += sd.numCompleteTasks()
                        acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                        acc["task_cpu_s"] += sd.executorCpuTime() / 1e9
                        acc["gc_s"] += sd.jvmGcTime() / 1e3
                        acc["output_bytes"] += sd.outputBytes()
                rec["jobs"] = len(jobs)
                rec.update(acc)
        finally:
            self.counter.paused = False
