"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds its inputs from ``--seed`` under
``perfbench/.work``, starts a Spark session sized to the host through the
engine's ``session.get_spark``, runs one workload for ``--seconds`` and prints
one JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` the per-layer ones, and the spans are written to
``perfbench/.work/spans/``. Exits nonzero, without a result line, when the
engine is missing or a check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import threading
import time
import traceback

import harness
from harness import BenchError, log

WORKLOADS = ("corpus_pipeline", "stream_stateful_over")
HARD_LIMIT_S = 170.0

UNITS = {"exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
         "exec.failed_tasks": "count"}


class Context:
    """Per-run state handed to a workload: session, tracer, clock and the
    metrics it reports."""

    def __init__(self, args, dirs):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.cpus = harness.host_cpus(args.cpus)
        self.driver_memory = args.driver_memory
        self.dirs = dirs
        self.spark = None
        self.status = None
        self.registry = None
        self.tracer = None
        self.rss = harness.RssSampler()
        self.children: list = []
        self.queries: list = []
        self.setup_s: float | None = None
        self._untimed = 0.0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.self_time: dict[str, float] = {}
        self.per_pass_divisor: int | None = None  # batch: traced passes
        self.samples: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextlib.contextmanager
    def untimed(self):
        """Benchmark-side work (input generation, oracles, references) that
        set-up time excludes."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._untimed += time.perf_counter() - t0

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - harness.PROCESS_START - self._untimed
        self.tracer.phase = "measure"

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (value, unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (value, unit)

    @staticmethod
    def unit_of(name: str) -> str:
        if name in UNITS:
            return UNITS[name]
        return "mb" if name.endswith("_mb") else "s"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc", help="Spark local cores, or 'nproc'")
    ap.add_argument("--driver-memory", default="2g", help="driver JVM heap")
    return ap.parse_args(argv)


def _declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(harness.REPO_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _stop_everything(ctx: Context) -> None:
    for q in ctx.queries:
        with contextlib.suppress(Exception):
            if q.isActive:
                q.stop()
    for p in ctx.children:
        if p.poll() is None:
            p.kill()
        p.wait()
    if ctx.spark is not None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        with contextlib.suppress(Exception):
            ctx.spark.stop()
        if gw is not None and getattr(gw, "proc", None) is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a stuck JVM is killed below
                gw.proc.kill()
                gw.proc.wait()


def _watchdog(ctx: Context) -> None:
    """Past the hard limit: stop children and exit nonzero without a result."""
    log(f"hard limit of {HARD_LIMIT_S}s reached; aborting")
    for p in ctx.children:
        with contextlib.suppress(Exception):
            p.kill()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        with contextlib.suppress(Exception):
            gw.proc.kill()
            gw.proc.wait(timeout=10)
    os._exit(3)


def main(argv=None) -> int:
    args = _parse(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    e2e_units, layer_units = _declared_metrics()
    run_tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        dirs = harness.prepare_process(run_tag)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    ctx = Context(args, dirs)
    timer = threading.Timer(HARD_LIMIT_S, _watchdog, (ctx,))
    timer.daemon = True
    timer.start()
    try:
        import spans
        from flink_1_12_0_src_spark import session

        ctx.tracer = spans.Tracer(run_tag, enabled=bool(args.trace))
        ctx.tracer.install()
        ctx.rss.start()
        gen = inputs = None
        if args.workload == "stream_stateful_over":
            import stream

            gen = stream.Generator(ctx)
        else:
            import batch

            inputs = batch.prepare(ctx)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_memory
        ctx.spark = session.get_spark(
            app_name="perfbench", cpus=ctx.cpus,
            extra_conf=harness.spark_conf(dirs, args.driver_memory))
        ctx.status = spans.StatusStore(ctx.spark)
        log(f"session up: local[{ctx.cpus}], heap {args.driver_memory}")
        if gen is None:
            batch.run(ctx, inputs)
        else:
            stream.run(ctx, gen)
        peak_rss = ctx.rss.stop()
    except BenchError as e:
        log(f"error: {e}")
        return 2
    except Exception:  # noqa: BLE001 — report any engine failure, then exit nonzero
        traceback.print_exc()
        return 2
    finally:
        _stop_everything(ctx)
        harness.cleanup(dirs)
        timer.cancel()
    for err in ctx.errors[:20]:
        log(f"check failed: {err}")
    correct = ctx.failed == 0 and not ctx.errors
    if not correct:
        harness.emit(False, max(ctx.attempted, 1), max(ctx.failed, 1), {})
        return 1
    ctx.metric("setup_s", ctx.setup_s, "s")
    ctx.metric("peak_rss_mb", peak_rss, "mb")
    log(f"samples: {json.dumps(ctx.samples)}")
    log(f"peak resident memory by process (mb): {ctx.rss.peak_detail}")
    if args.trace:
        out = _layer_report(ctx, layer_units, run_tag)
    else:
        out = {k: ctx.metrics[k] for k in e2e_units}
    harness.emit(correct, ctx.attempted, ctx.failed, out)
    return 0


def _layer_report(ctx: Context, layer_units: dict, run_tag: str) -> dict:
    tr = ctx.tracer
    ctx.layer("session.get_spark_s", tr.total("session.get_spark"), "s")
    ctx.layer("session.warmup_s", tr.total("session.warmup"), "s")
    ctx.layer("failed_share", ctx.failed / max(ctx.attempted, 1), "share")
    # batch workloads: per traced pass, set-up excluded; streams: whole run
    per = ctx.per_pass_divisor
    if per:
        self_time = {k: v / per for k, v in tr.self_time_by_layer("measure").items()}
        self_time["session"] = tr.self_time_by_layer("setup").get("session", 0.0)
    else:
        self_time = tr.self_time_by_layer()
    self_time.update(ctx.self_time)
    for layer, v in self_time.items():
        ctx.layer(f"self_s.{layer}", v, "s")
    tr.dump(os.path.join(harness.WORK_DIR, "spans", f"{run_tag}.jsonl"),
            {"metrics": ctx.metrics, "layers": ctx.layers, "samples": ctx.samples})
    # every declared per-layer metric, zero where the workload has no such layer
    return {k: ctx.layers.get(k, (0.0, unit)) for k, unit in layer_units.items()}


if __name__ == "__main__":
    sys.exit(main())
