"""Shared pieces of the benchmark: host pinning, session start, spans,
Spark job counters and the statistics every workload reports.

Everything here runs in the benchmark's single driver process. Tracing
is an object the workload receives; the untraced run gets a
:class:`NullTracer` whose methods do nothing, so the end-to-end numbers
carry no span bookkeeping.
"""

from __future__ import annotations

import json
import math
import os
import platform
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

#: Driver heap for the benchmark session. The engine's default is 32g,
#: which is above the RAM of a 16 GB host.
DRIVER_MEM = "4g"


def now() -> float:
    return time.perf_counter()


def pin_host(root: str, work: str) -> dict:
    """Pin the engine's resource settings before the JVM starts and
    return the host stamp every result carries.

    ``SPARK_GRAFT_CPUS`` is the core count, the driver heap stays below
    host RAM, and Spark's scratch space, Python's temp dir and the JVM's
    temp dir all sit inside the checkout.
    """
    cpus = str(os.cpu_count() or 1)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    # the JVM keeps its perf-counter file under /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    return {
        "nproc": int(cpus),
        "mem_gb": round(_mem_total_gb(), 1),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "java": _java_version(),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.relpath(local, root),
    }


def _mem_total_gb() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 2**20
    except OSError:
        pass
    return 0.0


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    for line in out.splitlines():
        if "version" in line:
            return line.split('"')[1] if '"' in line else line.strip()
    return "unknown"


def start_session(app: str):
    """Start the engine's session (``session.get_spark``) and run one
    trivial job so the first timed operation does not pay executor
    start-up."""
    from hw_kafka_streams_spark.session import get_spark

    spark = get_spark(app)
    spark.range(1).collect()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited.

    The JVM exits when its stdin closes; Python workers are its children.
    """
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- stats


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return float(xs[k - 1])


median = statistics.median


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host since boot, from /proc/stat;
    (0, 0) where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: noisy neighbours slow every timing."""
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


# -------------------------------------------------------------- tracing


class NullTracer:
    """Tracing off: every hook is free."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield

    def job_group(self, spark, group: str) -> None:
        pass


class Tracer(NullTracer):
    """Spans (name, start, end, parent, op id), kept in memory and
    written once when the run ends.

    Spans are recorded in the benchmark's own files around each public
    call into the engine; nothing inside the engine is instrumented.
    ``self_s`` accumulates the time spent in the tracer's own
    bookkeeping, which is the overhead the traced run reports.
    """

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        t = now()
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.self_s += now() - t
        rec["start"] = now()
        try:
            yield
        finally:
            rec["end"] = now()
            t = now()
            self._stack.pop()
            self.self_s += now() - t

    def job_group(self, spark, group: str) -> None:
        with self.bookkeeping():
            spark.sparkContext.setJobGroup(group, group, False)

    @contextmanager
    def bookkeeping(self):
        """Count the enclosed work, done only for the trace, as overhead."""
        t = now()
        try:
            yield
        finally:
            self.self_s += now() - t

    def job_counts(self, spark, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran under job group ``group``.

        Read from the status tracker after the group's work has finished.
        Stages skipped because an earlier job already produced their
        shuffle output are not counted; tasks are the tasks of the
        counted stages.
        """
        st = spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numTasks
        return len(jobs), stages, tasks

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


#: per-layer metric name -> StreamingQueryProgress.durationMs key
PROGRESS_PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
}


def streaming_layers(progress: list) -> dict:
    """Per-batch medians of the progress phases, the batch count and rows
    per batch, over the timed batches' ``StreamingQueryProgress``."""
    out = {
        name: (median([p.durationMs.get(key, 0) for p in progress]), "ms")
        for name, key in PROGRESS_PHASES.items()
    }
    out["streaming.batches"] = (len(progress), "count")
    out["streaming.rows_per_batch"] = (median([p.numInputRows for p in progress]), "rows")
    return out


def source_log(path: str) -> dict[int, list[str]]:
    """Input file names per micro-batch, read from a file stream source's
    metadata log (``<checkpoint>/sources/<n>``) after the query stopped.

    Each log file is a ``v1`` header and one JSON entry per file; a
    ``.compact`` file repeats the entries of earlier batches.
    """
    out: dict[int, set[str]] = {}
    for name in os.listdir(path):
        if name.startswith("."):
            continue
        with open(os.path.join(path, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    return {b: sorted(v) for b, v in out.items()}


def emit(result: dict, host: dict, out_dir: str, workload: str, trace: bool) -> None:
    """Append the result with its host stamp to the checkout's result log
    and print the one-line result the benchmark contract asks for."""
    os.makedirs(out_dir, exist_ok=True)
    rec = {"workload": workload, "trace": trace, "host": host, **result}
    with open(os.path.join(out_dir, "results.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(result), flush=True)
    sys.stdout.flush()
