"""Spans around the engine's public entry points, recorded from the
benchmark's own files, plus the runtime readouts (Spark status store,
streaming progress) that the per-layer metrics come from.

``Tracer.install`` replaces module attributes with timing wrappers. It must
run before ``queries.load_all()``: the query modules bind ``catalog.table``
and ``stageclock.stage`` by name at import time, so a wrapper installed later
never sees their calls.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

LAYERS = (
    "session", "catalog", "queries", "table_env", "plan", "pipeline",
    "exec", "streaming", "streaming.stateful",
)


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        # spans are recorded only while active: the traced run toggles this
        # to measure its own overhead against untraced passes
        self.active = enabled
        # "setup" until the first timed operation, then "measure"
        self.phase = "setup"
        self.spans: list[dict] = []
        self._local = threading.local()
        self.stage_names: set[str] = set()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans), "run": self.run_id, "name": name, "layer": layer,
            "phase": self.phase,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the engine's public functions. No-op when tracing is off."""
        if not self.enabled:
            return
        from flink_1_12_0_src_spark import catalog, session

        # catalog first: the modules imported below bind ``table`` by name
        session.get_spark = self.wrap(session.get_spark, "session.get_spark", "session")
        _replace(catalog, "table", self.wrap(catalog.table, "catalog.table", "catalog"))

        from flink_1_12_0_src_spark.pipeline import stageclock
        from flink_1_12_0_src_spark.streaming import stateful
        from flink_1_12_0_src_spark.table_env import TableEnvironment

        for meth in ("execute_sql", "sql_query", "stream_table"):
            setattr(TableEnvironment, meth,
                    self.wrap(getattr(TableEnvironment, meth), f"table_env.{meth}", "table_env"))
        _replace(stateful, "streaming_over_running_sum", self.wrap(
            stateful.streaming_over_running_sum, "stateful.streaming_over_running_sum",
            "streaming.stateful"))
        inner_stage = stageclock.stage
        tracer = self

        @contextlib.contextmanager
        def traced_stage(name: str):
            tracer.stage_names.add(name)
            with tracer.span(f"pipeline.stage.{name}", "pipeline"), inner_stage(name):
                yield

        _replace(stageclock, "stage", traced_stage)

    # -- readouts -----------------------------------------------------------

    def _done(self, phase: str | None):
        return [s for s in self.spans if s["end"] and phase in (None, s["phase"])]

    def total(self, name: str, phase: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self._done(phase) if s["name"] == name)

    def count(self, name: str, phase: str | None = None) -> int:
        return sum(1 for s in self._done(phase) if s["name"] == name)

    def self_time_by_layer(self, phase: str | None = None) -> dict[str, float]:
        """A span's duration minus the part its direct children cover,
        summed per layer."""
        done = self._done(phase)
        child_time: dict[int, float] = defaultdict(float)
        for s in done:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in done:
            out[s["layer"]] += max(0.0, s["end"] - s["start"] - child_time[s["id"]])
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"run": self.run_id, **extra}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _replace(module, attr: str, new) -> None:
    """Set ``module.attr`` and rebind every already-imported engine module
    that holds the old object under the same name."""
    old = getattr(module, attr)
    for name, mod in list(sys.modules.items()):
        if name.startswith("flink_1_12_0_src_spark") and getattr(mod, attr, None) is old:
            setattr(mod, attr, new)
    setattr(module, attr, new)


EXEC_FIELDS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.input_mb",
    "exec.spill_mb", "exec.failed_tasks",
)


class StatusStore:
    """Task-level counters of the Spark runtime, read from the driver's
    status store (the data behind the web UI) through the JVM gateway."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def stage_ids_of_group(self, group: str) -> tuple[int, list[int]]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        return len(jobs), sorted(stages)

    def job_count(self) -> int:
        return int(self.store.jobsList(None).size())

    def all_stage_ids(self) -> list[int]:
        gw = self.sc._gateway
        lst = self.store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        it, ids = lst.iterator(), set()
        while it.hasNext():
            ids.add(int(it.next().stageId()))
        return sorted(ids)

    def totals(self, n_jobs: int, stage_ids) -> dict[str, float]:
        t = dict.fromkeys(EXEC_FIELDS, 0.0)
        t["exec.jobs"] = float(n_jobs)
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # py4j raises a generic error for evicted stages
                continue
            if str(s.status()) == "SKIPPED":
                continue
            t["exec.stages"] += 1
            t["exec.tasks"] += s.numCompleteTasks()
            t["exec.failed_tasks"] += s.numFailedTasks()
            t["exec.task_run_s"] += s.executorRunTime() / 1e3
            t["exec.task_cpu_s"] += s.executorCpuTime() / 1e9
            t["exec.gc_s"] += s.jvmGcTime() / 1e3
            t["exec.shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            t["exec.shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            t["exec.input_mb"] += s.inputBytes() / 2**20
            t["exec.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        return t

    def input_records(self, stage_ids) -> int:
        n = 0
        for sid in stage_ids:
            try:
                n += int(self.store.lastStageAttempt(sid).inputRecords())
            except Exception:  # evicted stage
                continue
        return n
