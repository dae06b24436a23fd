"""Process-level plumbing for the benchmark: where it writes, how it starts
and stops Spark, how it times spans, and how it labels a run."""

from __future__ import annotations

import os
import signal
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def prepare_env() -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers inside the checkout, and put the checkout on the Python
    workers' import path (they start from the JVM's environment, not from
    this process's ``sys.path``)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def spark_conf(event_log_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(WORK, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            # Spark 4 defaults to a zstd-compressed rolling directory,
            # which the standard library cannot read.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(p) for p in fh.read().split()]
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def start_spark(app: str, event_log_dir: str | None = None):
    """Build the engine's session through the public factory, launching
    the JVM if none runs. Returns ``(spark, seconds)``."""
    from supabase_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=spark_conf(event_log_dir))
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started (the Python workers) have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class Span:
    path: str
    name: str
    parent: str | None
    start_ms: int
    end_ms: int
    wall_s: float
    withheld: float = 0.0  # see ``withheld_share``

    @property
    def unstolen_s(self) -> float:
        """The wall less the share of it the hypervisor withheld: the
        span's wall on a host whose other guests take no CPU time."""
        return self.wall_s * (1 - self.withheld)


class Tracer:
    """Records timed spans in memory. With a SparkContext attached it also
    sets the span's path as the job group, so the event log attributes
    every job and stage to the innermost open span."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[tuple[str, str, int, float, tuple[int, int, int]]] = []

    def begin(self, name: str) -> None:
        parent = self._open[-1][0] if self._open else None
        path = f"{parent}/{name}" if parent else name
        self._open.append((path, name, int(time.time() * 1000), time.perf_counter(),
                           cpu_ticks()))
        if self.sc is not None:
            self.sc.setJobGroup(path, name)

    def end(self) -> Span:
        path, name, start_ms, t0, ticks0 = self._open.pop()
        wall = time.perf_counter() - t0
        parent = self._open[-1][0] if self._open else None
        span = Span(path, name, parent, start_ms, int(time.time() * 1000), wall,
                    withheld_share(ticks0, cpu_ticks()))
        self.spans.append(span)
        if self.sc is not None:
            if parent:
                self.sc.setJobGroup(parent, parent.rsplit("/", 1)[-1])
            else:
                self.sc.setJobGroup("idle", "idle")
        return span

    def unwind(self) -> None:
        """End every open span (after a failure inside them)."""
        while self._open:
            self.end()

    @contextmanager
    def span(self, name: str):
        self.begin(name)
        try:
            yield
        finally:
            self.end()


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def git_commit() -> str:
    """The checked-out commit, read from ``.git`` inside the checkout
    only (no parent-directory search); ``unknown`` outside a git tree."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, busy, total) jiffies of all CPUs so far, from
    ``/proc/stat``; zeros where it cannot be read. Busy is every state but
    idle and iowait, steal included."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0, 0
    if len(f) < 8:
        return 0, 0, 0
    # user nice system idle iowait irq softirq steal (guest time is
    # already counted in user and nice)
    return f[7], sum(f) - f[3] - f[4], sum(f)


def steal_pct(start: tuple[int, int, int], end: tuple[int, int, int]) -> float:
    """Share of all CPU time the hypervisor gave to other guests between
    two ``cpu_ticks`` readings, in percent."""
    total = end[2] - start[2]
    return 100 * (end[0] - start[0]) / total if total > 0 else 0.0


def withheld_share(start: tuple[int, int, int], end: tuple[int, int, int]) -> float:
    """Share of the time this machine's CPUs wanted to run, between two
    ``cpu_ticks`` readings, that the hypervisor gave to other guests.
    The driver thread and the tasks of a stage wait on one another, so a
    span's wall stretches by about this share (README.md, "Timed
    passes")."""
    busy = end[1] - start[1]
    return (end[0] - start[0]) / busy if busy > 0 else 0.0
