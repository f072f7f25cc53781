"""Run hygiene, Spark session, counters, spans and statistics shared by
the three workloads.

Nothing here starts a process at import time: ``prepare_environment``
sets the environment a run needs, ``start_session`` launches Spark.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Console progress bars would bury the result line in captured output.
#: The retention limits keep statusTracker answering for every job of
#: a traced run.
_EXTRA_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def spark_threads() -> int:
    """Half the host's CPUs (at least one) for Spark's task threads.
    The other half is left to the JVM's JIT and GC threads and to the
    Python workers Spark spawns. On a 4-vCPU host shared with other
    tenants, a 2-thread run is both faster and several times steadier
    run to run than a 4-thread one."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def host_driver_mem() -> str:
    """Driver heap sized to the host: a quarter of physical memory,
    between 2 and 6 GiB (the session default of 24g assumes a large
    dedicated machine; in local mode the driver heap serves every task
    thread)."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    gib = max(2, min(6, kib // (4 << 20)))
    return f"{gib}g"


def prepare_environment(root: str, run_dir: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``run_dir`` (inside the checkout) and make ``recipes_spark``
    importable by the Python workers Spark spawns."""
    os.makedirs(run_dir, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_threads())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host_driver_mem()
    conf = dict(_EXTRA_CONF)
    conf["spark.local.dir"] = os.environ["SPARK_LOCAL_DIRS"]
    conf["spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={run_dir} -Dderby.system.home={run_dir}"
    )
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(conf)
    import tempfile

    tempfile.tempdir = run_dir


def start_session():
    from recipes_spark.session import get_session

    spark = get_session("perfbench", str(spark_threads()))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit (the Python
    workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# -- memory ----------------------------------------------------------------


def _status_kib(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus its JVM (the
    ``java`` descendant); the JVM's Python workers are excluded."""
    me = os.getpid()
    total = _status_kib(me, "VmHWM:")
    for pid in _descendants(me):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java":
            total += _status_kib(pid, "VmHWM:")
    return total / 1024.0


# -- statistics ------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values)


def class_geomean(ops: list[tuple[str, float, list]]) -> float:
    """Geometric mean, over the operation classes present, of each
    class's median latency. Every class weighs the same whatever its
    share of the operations, so no single class sets the figure (the
    TPC-H power metric aggregates its queries the same way)."""
    by_cls: dict[str, list[float]] = {}
    for cls, dt, _ in ops:
        by_cls.setdefault(cls, []).append(dt)
    return statistics.geometric_mean(median(v) for v in by_cls.values())


class HostRef:
    """A fixed reference task run in the driver JVM: zlib compression
    (level 1) of 64 KiB of fixed pseudo-random bytes by one reused
    ``java.util.zip.Deflater``, called through py4j. It is native code
    that allocates nothing on the JVM heap and runs no code of Spark or
    of the program, so its speed depends on the host, not on the JIT's
    progress or the heap the program left behind (a ``BigInteger``
    power did, and read the ingest workload's host speed badly). It is
    sampled between operations, outside their timed regions, and tells
    how fast the host ran while the run measured. On a shared host that
    speed drifts by a factor of two within minutes, as other tenants
    come and go; the end-to-end figures are scaled to a host on which
    the task takes ``NOMINAL_MS`` (see ``factor``).

    Each sampling point runs the task a few times back to back.
    Samples are kept per phase, one phase per workload part for its
    timed operations, and a phase is summarised by the median of all
    its samples: the fastest run of a point tracks the host badly,
    because a 5-ms task often fits between the moments when other
    tenants take the core, while an operation of 0.3-5 s does not."""

    NOMINAL_MS = 5.0

    def __init__(self, spark, warmup: int = 40):
        jvm, gateway = spark._jvm, spark.sparkContext._gateway
        self._input = gateway.new_array(jvm.byte, 1 << 16)
        jvm.java.util.Random(7).nextBytes(self._input)
        self._output = gateway.new_array(jvm.byte, 1 << 17)
        self._deflater = jvm.java.util.zip.Deflater(1)
        self.samples: dict[str, list[float]] = {}
        for _ in range(warmup):
            self._once()

    def _once(self) -> float:
        d = self._deflater
        t0 = time.perf_counter()
        d.reset()
        d.setInput(self._input)
        d.finish()
        d.deflate(self._output)
        return time.perf_counter() - t0

    def sample(self, phase: str, n: int = 5) -> None:
        self.samples.setdefault(phase, []).extend(self._once() for _ in range(n))

    def median_ms(self, phase: str | None = None) -> float:
        """Median of one phase's samples, or of all when ``phase`` is None."""
        vals = self.samples.get(phase, []) if phase else [v for vs in self.samples.values() for v in vs]
        return 1000 * median(vals) if vals else 0.0

    def factor(self, phase: str | None = None) -> float:
        """Host-speed factor of a phase: NOMINAL_MS over the median
        sample. A time times this factor is the time on the nominal
        host; a rate is divided by it."""
        return self.NOMINAL_MS / self.median_ms(phase)


# -- spans and Spark counters ----------------------------------------------


@dataclass
class Span:
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)


class SparkCounters:
    """Job/stage/task counts of every job run under one job group, read
    from ``statusTracker`` (works with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def count(self, group: str) -> tuple[int, int, int, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return jobs, stages, tasks, failed


class Tracer:
    """In-memory span recorder. Every span runs under its own Spark job
    group, so the jobs a span launches (and not those of its children)
    are counted against it. ``enabled=False`` makes every call a plain
    pass-through, so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.counters = SparkCounters(spark) if enabled else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = "setup"
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.trace_id, parent, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(idx)
        group = f"perfbench-span-{idx}"
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(f"perfbench-span-{parent}", self.spans[parent].name)
            sp.jobs, sp.stages, sp.tasks, sp.failed_tasks = self.counters.count(group)

    def wrap(self, module, attr: str, name: str, force=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper. ``force``
        (called on the result inside a child span) executes a lazy
        DataFrame at the layer boundary, so the span covers the work
        the call planned."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
                if force is not None:
                    with tracer.span(name + ".exec") as sp:
                        sp.attrs["rows"] = force(out)
                return out

        wrapper.__wrapped__ = fn
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, fn))

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- summaries --------------------------------------------------------

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it covered by child spans."""
        sp = self.spans[idx]
        ivs = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def failed_tasks_total(self) -> int:
        """Failed tasks over every job of the run: those counted per
        span plus the jobs launched outside any span."""
        _, _, _, unspanned = self.counters.count(None)
        return sum(s.failed_tasks for s in self.spans) + unspanned

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str, attr: str | None = None) -> float:
        spans = self.named(name)
        if attr is None:
            return float(sum(s.end - s.start for s in spans))
        return float(sum(getattr(s, attr) for s in spans))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                rec = {
                    "id": i, "name": s.name, "trace_id": s.trace_id,
                    "parent": s.parent,
                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                    "self_s": round(self.self_time(i), 6),
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks, **s.attrs,
                }
                fh.write(json.dumps(rec, default=str) + "\n")


def force_collect(df) -> int:
    return len(df.collect())


def force_noop(df) -> int | None:
    df.write.format("noop").mode("overwrite").save()
    return None
