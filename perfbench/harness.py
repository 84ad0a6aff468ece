"""Shared machinery of the benchmark: the Spark session, spans, counters
read from outside the library, file-tree diffs and summary statistics.

Spans are kept in memory and written out by ``run.py`` when the run ends.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Fixed for every workload and commit, so runs compare like for like.
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
#: a fixed-size 3 GB driver heap (-Xms = -Xmx), touched in full at start
#: (AlwaysPreTouch), so the resident heap is the same in every run and
#: ``peak_rss_mb`` moves only with memory outside the Java heap
DRIVER_HEAP = "3g"


def start_session(work_dir: str):
    """Start the engine's tuned session (``build_session``) pinned to
    ``local[4]`` and a fixed heap, with every scratch file (Spark local
    dirs, JVM temp dir, warehouse) under ``work_dir``."""
    from config_driven_pyspark_spark import build_session

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM started from here (launcher and driver) keeps its temp
    # files and perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    spark = build_session(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        confs={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM process has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def settle(spark) -> None:
    """Between jobs, outside timing: drop cached frames and collect
    garbage on both sides so one job's leftovers do not bill the next."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.java.lang.System.gc()


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_files(root: str) -> dict[str, int]:
    """Relative path → size of every regular file under ``root``."""
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            full = os.path.join(dirpath, name)
            out[os.path.relpath(full, root)] = os.path.getsize(full)
    return out


def tree_bytes(root: str) -> int:
    return sum(tree_files(root).values())


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# counters read through py4j
# ---------------------------------------------------------------------------


class SparkCounters:
    """Process-wide JVM counters: codegen compiles and compile time, GC
    time, heap pool peaks, and Spark jobs/tasks by job group."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.compilations = metrics.METRIC_COMPILATION_TIME()
        self.method_sizes = metrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE()
        management = jvm.java.lang.management.ManagementFactory
        self.gc_beans = list(management.getGarbageCollectorMXBeans())
        #: heap pools that hold objects past their first collection (G1's
        #: survivor and old generations); eden is left out because its
        #: peak is just the eden size G1 chose, whatever the program does
        self.kept_pools = [
            p for p in management.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory" and "Eden" not in p.getName()
        ]

    def snapshot(self) -> tuple[int, int, int]:
        """(codegen compiles, codegen compile ns, GC ms) so far."""
        return (
            int(self.compilations.getCount()),
            int(self.codegen.compileTime()),
            sum(int(b.getCollectionTime()) for b in self.gc_beans),
        )

    def reset_heap_peaks(self) -> None:
        for p in self.kept_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the survivor and old pools' peak used bytes since the
        last reset, in MB."""
        return sum(int(p.getPeakUsage().getUsed()) for p in self.kept_pools) / 2**20

    def max_method_bytes(self) -> int:
        """Largest generated-method bytecode size in the histogram's sample."""
        return int(self.method_sizes.getSnapshot().getMax())

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        jobs = self.status.getJobIdsForGroup(group)
        tasks = 0
        for job_id in jobs:
            info = self.status.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                stage = self.status.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numTasks
        return len(jobs), tasks


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    job: int = -1
    group: str = ""
    #: counter deltas over the span, filled when tracing
    jobs: int = 0
    tasks: int = 0
    compiles: int = 0
    compile_ms: float = 0.0
    gc_ms: float = 0.0
    #: free-form numbers the caller attaches (bytes, rows, phase times)
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent) around calls into the
    library. Untraced runs keep only wall times; traced runs also tag
    each span with its own Spark job group and read the counters at
    both ends."""

    def __init__(self, spark) -> None:
        self.spark = spark
        #: whether the current job is traced; run.py switches it per job
        self.traced = False
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job = -1
        #: job → per-layer numbers noted by the workload during traced jobs
        self.notes: dict[int, dict[str, float]] = {}

    def note(self, key: str, value: float) -> None:
        """Add ``value`` to ``key`` for the current job (traced jobs only)."""
        if self.traced:
            job = self.notes.setdefault(self.job, {})
            job[key] = job.get(key, 0.0) + value

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        s = Span(name=name, start=0.0, parent=parent, job=self.job)
        self.spans.append(s)
        self._stack.append(idx)
        before = None
        if self.traced:
            s.group = f"perfbench-{idx}"
            self.spark.sparkContext.setJobGroup(s.group, name)
            before = self.counters.snapshot()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.traced:
                after = self.counters.snapshot()
                s.compiles = after[0] - before[0]
                s.compile_ms = (after[1] - before[1]) / 1e6
                s.gc_ms = after[2] - before[2]
                s.jobs, s.tasks = self.counters.jobs_and_tasks(s.group)
                outer = self.spans[parent].group if parent >= 0 else None
                if outer:
                    self.spark.sparkContext.setJobGroup(outer, self.spans[parent].name)
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording a span around
        every call — how calls made inside the library (for example
        ``NestedTransformer.apply`` under ``Pipeline.run``) are timed."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)

    # -- aggregation -------------------------------------------------------

    def job_spans(self, job: int) -> list[Span]:
        return [s for s in self.spans if s.job == job]

    def self_seconds(self, job: int) -> dict[str, float]:
        """Span name → summed self time (duration minus the part covered
        by child spans) within one job."""
        spans = self.job_spans(job)
        index = {id(s): s for s in spans}
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent >= 0:
                p = self.spans[s.parent]
                if id(p) in index:
                    child_time[id(p)] = child_time.get(id(p), 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + s.seconds - child_time.get(id(s), 0.0)
        return out

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span nested under it."""
        ids = {self.spans.index(root)}
        out = [root]
        for i, s in enumerate(self.spans):
            if s.parent in ids:
                ids.add(i)
                out.append(s)
        return out


def force(tr: Tracer, df):
    """Collect ``df`` (a small result) under a ``spark.force`` span and
    return its rows; records the query's optimisation and planning phase
    times."""
    with tr.span("spark.force") as s:
        rows = df.collect()
    if tr.traced:
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("optimization", "planning"):
            if phases.contains(phase):
                p = phases.get(phase).get()
                s.extra[phase] = (p.endTimeMs() - p.startTimeMs()) / 1000.0
    return rows
