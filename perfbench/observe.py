"""Measurement helpers: spans, process-tree RSS, Spark's status store,
the environment stamp and a fixed-work calibration.

Nothing here touches engine code. Spans are recorded only around the
benchmark's own calls into the engine's public functions; Spark numbers
come from the driver's in-process status store (the same store the UI
reads), queried through the JVM gateway.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import threading
import time
import uuid

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder: name, start, end, parent and run id.

    Spans nest through a stack (the benchmark is single-threaded on the
    driver); ``write`` dumps them once, at the end of the run."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


class NullTracer:
    """Tracing off: the untraced runs record nothing."""

    run_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


# ---------------------------------------------------------------------------
# process-tree RSS (psutil is not installed; read /proc directly)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int | None = None) -> int:
    """Summed resident set of ``root`` and all its descendants: the
    driver Python process, its JVM and the JVM's Python workers."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class Sampler:
    """Background thread sampling callables every ``interval`` seconds
    and keeping each one's maximum."""

    def __init__(self, probes: dict, interval: float = 0.05) -> None:
        self.probes = probes
        self.interval = interval
        self.peak = {k: 0.0 for k in probes}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        for k, fn in self.probes.items():
            self.peak[k] = max(self.peak[k], float(fn()))

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


class SparkStatus:
    """Snapshots of the driver's status store; ``delta`` turns two of
    them into the per-execution numbers of the ``spark.*`` layer."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = spark._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def sql_executions(self) -> int:
        """Dataset actions started so far (one per collect/count/write)."""
        return int(self.spark._jsparkSession.sharedState().statusStore().executionsCount())

    def storage_bytes(self) -> int:
        return sum(
            int(r.memSize()) + int(r.diskSize()) for r in self.spark._jsc.sc().getRDDStorageInfo()
        )

    def snapshot(self) -> dict:
        jobs = {int(j.jobId()) for j in _seq(self.store.jobsList(None))}
        stages = {}
        for d in _seq(self.store.stageList(None, False, False, self._no_quantiles, None)):
            stages[(int(d.stageId()), int(d.attemptId()))] = d
        return {"jobs": jobs, "stages": stages}

    def delta(self, before: dict, after: dict) -> dict:
        new = [d for k, d in after["stages"].items() if k not in before["stages"]]
        ran = [d for d in new if str(d.status().toString()) != "SKIPPED"]
        run_ms = [int(d.executorRunTime()) for d in ran]
        out = {
            "jobs": len(after["jobs"] - before["jobs"]),
            "stages": len(ran),
            "tasks": sum(int(d.numCompleteTasks()) + int(d.numFailedTasks()) for d in ran),
            "task_failures": sum(int(d.numFailedTasks()) for d in ran),
            "executor_run_s": sum(run_ms) / 1e3,
            "executor_cpu_s": sum(int(d.executorCpuTime()) for d in ran) / 1e9,
            "shuffle_write_mb": sum(int(d.shuffleWriteBytes()) for d in ran) / 1e6,
            "shuffle_read_mb": sum(int(d.shuffleReadBytes()) for d in ran) / 1e6,
            "spill_mb": sum(int(d.memoryBytesSpilled()) + int(d.diskBytesSpilled()) for d in ran) / 1e6,
            "gc_s": sum(int(d.jvmGcTime()) for d in ran) / 1e3,
            "task_skew": 1.0,
        }
        run = out["executor_run_s"]
        # the share of executor time not spent on the JVM's own CPU: on
        # Arrow/pandas stages, mostly time the task waits on its Python
        # worker
        out["python_share"] = (run - out["executor_cpu_s"]) / run if run > 0 else 0.0
        if ran:
            big = ran[run_ms.index(max(run_ms))]
            summary = self.store.taskSummary(int(big.stageId()), int(big.attemptId()), self._quantiles)
            if summary.isDefined():
                med, top = _seq(summary.get().executorRunTime())
                out["task_skew"] = float(top) / float(med) if med > 0 else 1.0
        return out


# ---------------------------------------------------------------------------
# environment stamp and calibration
# ---------------------------------------------------------------------------


def calibrate() -> float:
    """Fixed single-core numpy work (matmul + partition + sort), best of
    three, in seconds: divides out how fast this box is today."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((600, 600))
    b = rng.random((64, 32 * 32 * 27))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(3):
            a @ a
            np.partition(b.copy(), 40, axis=1)
            np.sort(a, axis=0)
        best = min(best, time.perf_counter() - t0)
    return best


def git_rev(checkout: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=checkout, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def env_stamp(checkout: str, master: str, spark_version: str) -> dict:
    import numpy
    import pyarrow

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "spark": spark_version,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_rev": git_rev(checkout),
        "calib_s": round(calibrate(), 4),
    }
