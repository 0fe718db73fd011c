"""Process-level plumbing shared by every workload: paths, session sizing,
resident-memory sampling, percentiles and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

PROCESS_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
ENGINE_PACKAGE = "flink_1_12_0_src_spark"


class BenchError(Exception):
    """The benchmark cannot run here (no engine, bad arguments)."""


def prepare_process(run_tag: str) -> dict:
    """Point every scratch location of the engine, Spark and the JVM inside
    the checkout, and put the repository root on the import path of this
    process and of the Python workers Spark launches."""
    if not os.path.isdir(os.path.join(REPO_ROOT, ENGINE_PACKAGE)):
        raise BenchError(f"engine package {ENGINE_PACKAGE!r} not found next to the benchmark")
    run_dir = os.path.join(WORK_DIR, "runs", run_tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {
        "run": run_dir,
        "tmp": os.path.join(run_dir, "tmp"),
        "local": os.path.join(run_dir, "spark-local"),
        "warehouse": os.path.join(run_dir, "warehouse"),
        "cache": os.path.join(WORK_DIR, "cache"),
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # the engine stages files under tempfile.gettempdir(); read on first use
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # every JVM started from here (the launcher and the driver) writes no
    # performance-data file and keeps its temporary files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + path if path else "")
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    return dirs


def host_cpus(arg: str) -> int:
    if arg == "nproc":
        return len(os.sched_getaffinity(0))
    return int(arg)


def spark_conf(dirs: dict, driver_memory: str) -> dict[str, str]:
    """Benchmark-side session settings passed through ``get_spark``'s
    ``extra_conf``: the heap, where Spark writes, and enough retained
    progress/stage history for the end-of-run readouts."""
    return {
        "spark.driver.memory": driver_memory,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # a fixed-size heap keeps resident memory from following the
        # collector's resizing decisions from run to run
        "spark.driver.extraJavaOptions": f"-Xms{driver_memory}",
        "spark.sql.streaming.numRecentProgressUpdates": "5000",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "10000",
    }


def cleanup(dirs: dict) -> None:
    shutil.rmtree(dirs["run"], ignore_errors=True)


def _resident_kb(pid: str) -> int:
    """Proportional resident memory (PSS) of a process: shared pages are
    split among their sharers, so a child forked from the JVM does not count
    the JVM's memory twice. Falls back to RSS where PSS is unavailable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)


class RssSampler:
    """Peak summed resident memory of this process's descendants (the JVM
    and the Python workers it forks), excluding subtrees rooted at
    ``exclude`` pids (the event generator)."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.peak_detail: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total, detail = self._sample(me)
            if total > self.peak_kb:
                self.peak_kb, self.peak_detail = total, detail
            self._stop.wait(self.INTERVAL_S)

    def _sample(self, root: int) -> tuple[int, list[int]]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        detail, todo = [], list(children.get(root, []))
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            try:
                detail.append(_resident_kb(str(pid)))
            except (OSError, IndexError, ValueError):
                continue  # the process exited while being read
            todo.extend(children.get(pid, []))
        return sum(detail), sorted((kb // 1024 for kb in detail), reverse=True)


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_quantile(n_units: int) -> float:
    """Highest percentile (capped at p90, floored at the median) that leaves
    at least ten sample units beyond it."""
    return max(0.5, min(0.9, 1.0 - 10.0 / max(n_units, 1)))


def geomean(xs) -> float:
    return float(math.exp(sum(math.log(x) for x in xs) / len(xs)))


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    line = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.write(json.dumps(line) + "\n")
    sys.stdout.flush()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr, flush=True)
