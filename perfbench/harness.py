"""Host sizing, Spark stage accounting, tracing spans and small statistics
shared by every workload of the benchmark.

Stage metrics come from Spark's status store (``AppStatusStore``), which
is populated even with the web UI disabled.  A span's stage metrics are
the stages whose completion time falls inside the span: the benchmark
is one client issuing one synchronous call at a time, so a stage that
completes inside a call's span belongs to that call, including the
stages a streaming ``foreachBatch`` runs on Spark's own thread.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import shutil
import sys
import time
import uuid
from contextlib import contextmanager

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"
OUT = ROOT / ".perfbench-out"


class BenchError(RuntimeError):
    """The benchmark cannot run here (missing engine, bad arguments)."""


def require_engine() -> None:
    """Fail fast, before any JVM starts, when the checkout lacks the engine."""
    missing = [
        p
        for p in ("investigraph_etl_spark/__init__.py", "__spark_entry__.py")
        if not (ROOT / p).is_file()
    ]
    if missing:
        raise BenchError(f"engine sources not found under {ROOT}: {missing}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_mb() -> int:
    """A quarter of physical memory, between 1 and 4 GiB.  MemTotal (not
    MemAvailable) so the heap, and with it peak RSS, does not follow
    whatever else the machine is running."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(total_mb // 4, 4096))
    raise BenchError("MemTotal missing from /proc/meminfo")


def fresh_dir(path: pathlib.Path) -> pathlib.Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def start_session(app: str):
    """A SparkSession sized to this host, writing only under ``WORK``."""
    from investigraph_etl_spark.session import get_spark

    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # Python workers import the engine from the checkout; every temp
    # file of this process, the JVM and the workers stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    n = host_cores()
    return get_spark(
        app,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{host_heap_mb()}m",
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store is the stage-metric source: keep every
            # stage and job of a run (one 16-commit tail makes ~160 stages)
            "spark.ui.retainedStages": "200000",
            "spark.ui.retainedJobs": "200000",
        },
    )


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in pathlib.Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(d.name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the Spark JVM, and wait until it and every process
    it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = _descendants(proc.pid) if proc else set()
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(pathlib.Path(f"/proc/{p}").exists() for p in started):
        if time.monotonic() > deadline:
            raise BenchError(f"processes still running after stop: {sorted(started)}")
        time.sleep(0.1)


class PeakRss:
    """Peak resident memory of the Spark JVM plus this Python process over
    one timed region.  Creating it resets both processes' high-water marks
    (``clear_refs`` 5); ``read_mb`` reads them when the region ends, before
    any correctness gate runs, so neither set-up nor the gates' own work
    (oracles, collected results) is counted."""

    def __init__(self, spark):
        self.pids = (os.getpid(), spark._jvm.ProcessHandle.current().pid())
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def read_mb(self) -> float:
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as fh:
                kb += int(re.search(r"^VmHWM:\s+(\d+) kB", fh.read(), re.M).group(1))
        return kb / 1024.0


# ------------------------------------------------------------ stage ledger

STAGE_FIELDS = (
    "cpu_s",
    "run_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
    "stages",
)


class StageLedger:
    """A copy of the status store's finished stages, keyed by (stage id,
    attempt).  Refreshed after a timed region, never inside one."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._default4 = getattr(self._store, "stageList$default$4")()
        self.stages: dict[tuple[int, int], dict] = {}

    def refresh(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        seq = self._store.stageList(None, False, False, self._default4, None)
        for i in range(seq.size()):
            s = seq.apply(i)
            key = (s.stageId(), s.attemptId())
            status = s.status().toString()
            if key in self.stages or status in ("ACTIVE", "PENDING"):
                continue
            done = s.completionTime()
            self.stages[key] = {
                "end_ms": done.get().getTime() if done.isDefined() else None,
                "status": status,
                "cpu_s": s.executorCpuTime() / 1e9,
                "run_s": s.executorRunTime() / 1e3,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(),
                "output_bytes": s.outputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled(),
                "tasks": s.numTasks() if status != "SKIPPED" else 0,
            }

    def stage_groups(self) -> dict[int, str]:
        """Stage id -> job group of the job that ran it (tagged jobs only)."""
        out: dict[int, str] = {}
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined():
                ids = j.stageIds()
                for k in range(ids.size()):
                    out.setdefault(ids.apply(k), g.get())
        return out

    def totals(self, t0: float, t1: float, only: set[int] | None = None) -> dict:
        """Summed metrics of stages completed in wall-clock [t0, t1] (s),
        restricted to the stage ids in ``only`` when given."""
        lo, hi = t0 * 1000.0, t1 * 1000.0
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for (sid, _), st in self.stages.items():
            end = st["end_ms"]
            if end is None or not lo <= end <= hi or st["status"] == "SKIPPED":
                continue
            if only is not None and sid not in only:
                continue
            for f in STAGE_FIELDS[:-1]:
                out[f] += st[f]
            out["stages"] += 1
        return out


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans around calls into the engine's layers, kept in memory.

    Each span records name, start, end, parent and run id, plus free-form
    attributes; in traced mode each also carries the stage metrics of the
    Spark stages that completed inside it.  Untraced, a span is just a
    pair of clock reads, so end-to-end runs pay nothing for it.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = spark.sparkContext
        # untraced runs still need the timed region's executor CPU-s
        self.ledger = StageLedger(spark)
        # seconds of tracing-only work done inside timed regions
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, *, tag_jobs: bool = True, **attrs):
        """``tag_jobs`` marks calls on the benchmark thread: their Spark
        jobs carry the span name as job group.  Streaming micro-batches run
        on Spark's own thread and keep the query's group."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = None
        if self.enabled and tag_jobs:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = f"perfbench:{name}:{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled and tag_jobs:
                self.sc.setJobGroup(prev or "perfbench", prev or "perfbench")

    @contextmanager
    def bookkeeping(self):
        """Time tracing-only work done inside a timed region."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def finish(self) -> None:
        """Attach stage metrics and self time to every span.  A span tagged
        with a job group gets the stages of its group's jobs; an untagged
        span gets the stages that completed inside it."""
        if not self.enabled:
            return
        self.ledger.refresh()
        by_group: dict[str, set[int]] = {}
        for sid, g in self.ledger.stage_groups().items():
            by_group.setdefault(g, set()).add(sid)
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def tree_stages(s) -> set[int]:
            out = set(by_group.get(s["group"], ())) if "group" in s else set()
            for c in children.get(s["id"], []):
                out |= tree_stages(c)
            return out

        for s in self.spans:
            s["seconds"] = s["end"] - s["start"]
            window = self.ledger.totals(s["start"], s["end"])
            if "group" in s:
                s["stage"] = self.ledger.totals(s["start"], s["end"], tree_stages(s))
                # stages inside the span that its job groups do not claim:
                # nonzero means something else ran Spark work concurrently
                s["stages_unclaimed"] = window["stages"] - s["stage"]["stages"]
            else:
                s["stage"] = window
            covered = sum(c["end"] - c["start"] for c in children.get(s["id"], []))
            s["self_seconds"] = s["seconds"] - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: pathlib.Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, **extra, "spans": self.spans}))


# --------------------------------------------------------------- statistics


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise BenchError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it:
    (value, percentile, sample count).  Below 21 samples that percentile
    is not above the median, so the median stands in (percentile 50)."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return median(s), 50.0, n
    k = n - 11  # ten samples lie above rank k
    return s[k], 100.0 * (k + 1) / n, n


def dir_bytes(path: pathlib.Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
