"""Open-loop stream workload ``stream_stateful_over``.

A separate generator process (``eventgen.py``) writes Parquet event files on
a fixed wall-clock schedule: a warm-up phase, then a ladder of fixed rates.
The engine reads them through ``TableEnvironment`` DDL with a ``WATERMARK``
and feeds ``streaming_over_running_sum`` (append mode) into a
benchmark-owned ``foreachBatch`` sink that stamps each emitted row with its
emission time.

After the schedule ends the generator has exited; the query is drained with
``processAllAvailable`` and stopped, and every emitted row is checked against
a reference computed from the generated files.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from harness import BENCH_DIR, BenchError, geomean, log, median, quantile, tail_quantile

WATERMARK_S = 2  # above the generator's MAX_DELAY_S, so no event is dropped

# Warm-up rate and the ladder [(rate, share of --seconds, burst), ...], in
# events per second. The lowest rung is where latency is read and must be
# sustained. The top rung is a burst far past the knee, delivered in one file
# so that one micro-batch reads all of it; a rung read in a varying number of
# micro-batches would measure their alignment, as each costs seconds whatever
# its size. The closing low rung moves the watermark past the burst, so its
# rows are emitted and checked before the query is drained.
WARM_RATE = 100
LADDER = [(100, 0.8, False), (50000, 0.01, True), (100, 0.19, False)]

DDL = """
CREATE TABLE events_src (
    event_id BIGINT,
    ts TIMESTAMP(3),
    user_id BIGINT,
    event_type STRING,
    `value` DOUBLE,
    props STRING,
    WATERMARK FOR ts AS ts - INTERVAL '{wm}' SECOND
) WITH (
    'connector' = 'filesystem',
    'path' = '{path}',
    'format' = 'parquet'
)
"""

PROJECT_SQL = "SELECT user_id, ts, event_id, `value` FROM events_stream"


class Sink:
    """foreachBatch target: collects each micro-batch's rows with the wall
    time at which the batch result was complete."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.batches: list[tuple[int, float, pd.DataFrame]] = []
        self.costs: list[float] = []

    def __call__(self, df, batch_id: int) -> None:
        # the traced run traces odd micro-batches only; comparing their
        # latency with the even ones gives the tracing overhead
        self.tracer.active = self.tracer.enabled and batch_id % 2 == 1
        pdf = df.selectExpr("*", "unix_micros(ts) AS _newest_us").toPandas()
        t_emit = time.time()
        with self.tracer.span("sink.batch", "streaming"):
            s0 = time.perf_counter()
            self.batches.append((batch_id, t_emit, pdf.drop(columns=["ts"])))
            self.costs.append(time.perf_counter() - s0)


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _progress(q) -> list[dict]:
    """The query's micro-batches (``StreamingQueryProgress`` is a dict)."""
    out = []
    for p in q.recentProgress:
        start = _epoch(p["timestamp"])
        dur = p["durationMs"].get("triggerExecution", 0) / 1e3
        out.append({"id": p["batchId"], "start": start, "end": start + dur, "dur": dur,
                    "rows": int(p["numInputRows"]), "ms": p["durationMs"],
                    "state": p.get("stateOperators") or [],
                    "wm": p.get("eventTime", {}).get("watermark")})
    return out


def _read_events(src: str) -> pd.DataFrame:
    files = sorted(f for f in os.listdir(src) if f.startswith("part-"))
    df = pq.read_table([os.path.join(src, f) for f in files]).to_pandas()
    df["ts_us"] = df["ts"].astype("datetime64[us]").astype(np.int64)
    df["cents"] = np.rint(df["value"].to_numpy() * 100.0).astype(np.int64)
    return df


def check_over(events: pd.DataFrame, batches, final_wm_us: int) -> tuple[int, int]:
    """Every event at or below the final watermark must be emitted exactly
    once, with the per-user running count and sum in (ts, event_id) order."""
    ev = events.sort_values(["user_id", "ts_us", "event_id"])
    g = ev.groupby("user_id")
    ref = pd.DataFrame({
        "event_id": ev["event_id"].to_numpy(),
        "ref_us": ev["ts_us"].to_numpy(),
        "ref_rn": (g.cumcount() + 1).to_numpy(),
        "ref_sum": (g["cents"].cumsum() / 100.0).to_numpy(),
    }).set_index("event_id")
    frames = [b[2] for b in batches if len(b[2])]
    got = pd.concat(frames) if frames else pd.DataFrame(
        columns=["event_id", "rn", "run_sum", "_newest_us"])
    dup = int(got["event_id"].duplicated().sum())
    j = ref.join(got.drop_duplicates("event_id").set_index("event_id"), how="outer")
    expected = j["ref_us"] <= final_wm_us
    emitted = j["rn"].notna()
    wrong = emitted & (
        j["ref_rn"].isna() | (j["rn"] != j["ref_rn"]) | (j["run_sum"] != j["ref_sum"])
        | (j["_newest_us"] != j["ref_us"]))
    missing = expected & ~emitted
    return int((expected | emitted).sum()) + dup, int(wrong.sum() + missing.sum()) + dup


class Generator:
    """The event generator process. It starts before the JVM, so its
    warm-up phase overlaps the session's start; ``go`` starts the measured
    rungs once the stream has settled."""

    def __init__(self, ctx):
        run_dir = ctx.dirs["run"]
        self.src = os.path.join(run_dir, "source")
        self.log = os.path.join(run_dir, "gen_log.json")
        self.go_file = os.path.join(run_dir, "go")
        os.makedirs(self.src)
        self.schedule = [[rate, round(share * ctx.seconds, 3), burst]
                         for rate, share, burst in LADDER]
        self.started = time.time()
        self.proc = subprocess.Popen([
            sys.executable, os.path.join(BENCH_DIR, "eventgen.py"), "--out", self.src,
            "--log", self.log, "--go", self.go_file, "--seed", str(ctx.seed),
            "--warm-rate", str(WARM_RATE), "--schedule", json.dumps(self.schedule),
        ])
        ctx.children.append(self.proc)
        ctx.rss.exclude.add(self.proc.pid)
        self.t_go = None
        self.rungs: list[dict] = []

    def wait_first_file(self) -> None:
        """CREATE TABLE over an empty directory fails schema inference, so
        the DDL waits for the generator's first file."""
        while not any(f.startswith("part-") for f in os.listdir(self.src)):
            if self.proc.poll() is not None or time.time() > self.started + 30:
                raise BenchError("event generator wrote no file")
            time.sleep(0.05)

    def go(self) -> None:
        """Start the rungs 0.3 s from now (the generator polls every tick)."""
        self.t_go = time.time() + 0.3
        with open(self.go_file + ".tmp", "w") as f:
            f.write(repr(self.t_go))
        os.rename(self.go_file + ".tmp", self.go_file)
        t = self.t_go
        for rate, secs, burst in self.schedule:
            self.rungs.append({"rate": rate, "start": t, "end": t + secs, "secs": secs,
                               "burst": burst})
            t += secs


def run(ctx, gen: Generator) -> None:
    from flink_1_12_0_src_spark.streaming import stateful
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    spark, tracer = ctx.spark, ctx.tracer
    ckpt = os.path.join(ctx.dirs["run"], "checkpoint")
    gen.wait_first_file()
    env = TableEnvironment(spark)
    env.execute_sql(DDL.format(wm=WATERMARK_S, path=gen.src))
    env.stream_table("events_src").createOrReplaceTempView("events_stream")
    out = stateful.streaming_over_running_sum(
        env.sql_query(PROJECT_SQL),
        key="user_id", order_cols=["ts", "event_id"], value_col="value")
    jobs0 = ctx.status.job_count()
    stage0 = max(ctx.status.all_stage_ids(), default=-1)
    sink = Sink(tracer)
    q = (out.writeStream.outputMode("append").foreachBatch(sink)
         .option("checkpointLocation", ckpt).start())
    ctx.queries.append(q)
    with tracer.span("session.warmup", "session"):
        _wait_batches(q, sink, 1)
    ctx.end_setup()
    # the first micro-batches after start-up are slower; let two more
    # complete at the warm-up rate before the measured rungs begin
    _wait_batches(q, sink, 3)
    gen.go()
    rungs, t0 = gen.rungs, gen.t_go
    log(f"setup done; ladder {[r['rate'] for r in rungs]} over {ctx.seconds}s")
    _sleep_until(rungs[-1]["end"])
    gen.proc.wait(timeout=60)
    q.processAllAvailable()
    t_drained = time.time()
    q.stop()
    prog = _progress(q)
    log(f"{len(prog)} micro-batches (end s, rows) from the first rung's start: "
        f"{[(round(p['end'] - t0, 2), p['rows']) for p in prog]}; "
        f"rungs start at {[round(r['start'] - t0, 2) for r in rungs]}")
    with ctx.untimed():
        events = _read_events(gen.src)
        wm = max((_epoch(p["wm"]) for p in prog if p["wm"]), default=0.0)
        ctx.attempted, ctx.failed = check_over(events, sink.batches, int(round(wm * 1e6)))
    if ctx.failed:
        ctx.errors.append(f"{ctx.failed} of {ctx.attempted} emitted rows missing or wrong")
        return
    with open(gen.log) as f:
        glog = json.load(f)
    _metrics(ctx, rungs, prog, sink, glog, events)
    if tracer.enabled:
        _layer_metrics(ctx, rungs, prog, sink, glog, jobs0, stage0, t_drained - gen.started)


def _wait_batches(q, sink: Sink, n: int) -> None:
    timeout = 60.0
    deadline = time.time() + timeout
    while len(sink.batches) < n:
        if q.exception() is not None:
            raise BenchError(f"stream failed: {q.exception()}")
        if time.time() > deadline:
            raise BenchError(f"no micro-batch {n} within {timeout:.0f}s")
        time.sleep(0.02)


def _sleep_until(t: float) -> None:
    while (d := t - time.time()) > 0:
        time.sleep(min(d, 0.5))


def _latencies(sink, lo: float, hi: float, parity: int | None = None):
    """Latencies of rows whose newest event was created in [lo, hi), and
    the number of micro-batches they came from."""
    lat, batches = [], set()
    for bid, t_emit, pdf in sink.batches:
        if not len(pdf) or parity not in (None, bid % 2):
            continue
        newest = pdf["_newest_us"].to_numpy() / 1e6
        sel = (newest >= lo) & (newest < hi)
        if sel.any():
            lat.extend((t_emit - newest[sel]).tolist())
            batches.add(bid)
    return lat, len(batches)


def _flow(prog, glog):
    ends = np.array([p["end"] for p in prog])
    done = np.cumsum([p["rows"] for p in prog])
    written = np.array([f["written"] for f in glog["files"]])
    made = np.cumsum([f["rows"] for f in glog["files"]])

    def processed(t):
        i = np.searchsorted(ends, t, side="right")
        return int(done[i - 1]) if i else 0

    def generated(t):
        i = np.searchsorted(written, t, side="right")
        return int(made[i - 1]) if i else 0

    return processed, generated


def _rung_batches(prog, r):
    """Micro-batches that ran during the rung, in whole or in part."""
    return [p for p in prog if p["start"] < r["end"] and p["end"] > r["start"]]


def _burst_batches(prog, sink, burst, events):
    """The micro-batch that read the burst, the one that emitted most of its
    rows, and the burst's event count."""
    lo, hi = burst["start"] * 1e6, burst["end"] * 1e6
    ts = events["ts_us"].to_numpy()
    n = int(((ts >= lo) & (ts < hi)).sum())
    read = max((p for p in prog if p["end"] > burst["start"]), key=lambda p: p["rows"])
    if read["rows"] < n:
        raise BenchError(f"no micro-batch read the whole burst of {n} events")
    emitted = {bid: int(((pdf["_newest_us"] >= lo) & (pdf["_newest_us"] < hi)).sum())
               for bid, _, pdf in sink.batches if len(pdf)}
    if sum(emitted.values()) != n:
        raise BenchError(f"{sum(emitted.values())} of the burst's {n} rows were emitted")
    emit_id = max(emitted, key=emitted.get)
    emit = next(p for p in prog if p["id"] == emit_id)
    return read, emit, n


def _metrics(ctx, rungs, prog, sink, glog, events) -> None:
    processed, generated = _flow(prog, glog)
    for r in rungs:
        r["batches"] = len(_rung_batches(prog, r))
        r["backlog_end"] = generated(r["end"]) - processed(r["end"])
        r["offered_eps"] = (generated(r["end"]) - generated(r["start"])) / r["secs"]
        r["processed_eps"] = (processed(r["end"]) - processed(r["start"])) / r["secs"]
    low, burst = rungs[0], next(r for r in rungs if r["burst"])
    low_b = [p["dur"] for p in _rung_batches(prog, low)]
    if not low_b:
        raise BenchError("no micro-batch ran during the lowest rung")
    read, emit, n_burst = _burst_batches(prog, sink, burst, events)
    burst.update(read=read, emit=emit, events=n_burst)
    lat, n_batches = _latencies(sink, low["start"], low["end"])
    if not lat:
        raise BenchError("no rows emitted for the lowest rung")
    # The ladder cannot bracket the knee steadily, so the sustained rate is
    # read as the ladder's input over the time the engine took to read all of
    # it: the ladder's mean offered rate (less one micro-batch) if it keeps up
    # with every rung, lower the longer the burst's backlog lasts.
    total = generated(float("inf"))
    cleared = next((p["end"] for p in prog if processed(p["end"]) >= total), None)
    if cleared is None:
        raise BenchError(f"the stream read {processed(float('inf'))} of {total} events")
    ctx.metric("pass_s", median(low_b), "s")
    ctx.metric("query_geomean_s", geomean([median(low_b), read["dur"], emit["dur"]]), "s")
    ratios = [d / median(low_b) for d in low_b]
    ctx.metric("query_tail_ratio_p90", quantile(ratios, 0.9), "ratio")
    ctx.metric("event_latency_p50_s", median(lat), "s")
    ctx.metric("event_latency_p90_s", quantile(lat, tail_quantile(n_batches)), "s")
    ctx.metric("sustainable_eps", (total - generated(low["start"])) / (cleared - low["start"]),
               "1/s")
    ctx.metric("peak_eps", n_burst / (read["dur"] + emit["dur"]), "1/s")
    ctx.samples.update({"latency_rows": len(lat), "latency_batches": n_batches,
                        "burst": {"events": n_burst, "read_rows": read["rows"],
                                  "read_s": read["dur"], "emit_s": emit["dur"]},
                        "rungs": [{k: r[k] for k in ("rate", "secs", "batches", "backlog_end",
                                                     "offered_eps", "processed_eps")}
                                  for r in rungs]})


def _layer_metrics(ctx, rungs, prog, sink, glog, jobs0, stage0, wall: float) -> None:
    processed, generated = _flow(prog, glog)
    p50 = lambda key: median([p["ms"].get(key, 0) / 1e3 for p in prog]) if prog else 0.0  # noqa: E731
    ctx.layer("streaming.batches", len(prog), "count")
    ctx.layer("streaming.batch_s_p50", median([p["dur"] for p in prog]), "s")
    ctx.layer("streaming.plan_s_p50", p50("queryPlanning"), "s")
    ctx.layer("streaming.get_batch_s_p50", p50("getBatch"), "s")
    ctx.layer("streaming.add_batch_s_p50", p50("addBatch"), "s")
    ctx.layer("streaming.commit_s_p50", p50("commitOffsets"), "s")
    ctx.layer("streaming.backlog_events_max",
              max(generated(p["end"]) - processed(p["end"]) for p in prog), "count")
    ctx.layer("streaming.processed_eps.r0", rungs[0]["processed_eps"], "1/s")
    burst = next(r for r in rungs if r["burst"])
    ctx.layer("streaming.burst_read_eps", burst["read"]["rows"] / burst["read"]["dur"], "1/s")
    ctx.layer("streaming.burst_emit_eps", burst["events"] / burst["emit"]["dur"], "1/s")
    state = [op for p in prog for op in p["state"]]
    if state:
        last = prog[-1]["state"]
        ctx.layer("streaming.state_rows", sum(op.get("numRowsTotal", 0) for op in last), "count")
        ctx.layer("streaming.state_mb",
                  sum(op.get("memoryUsedBytes", 0) for op in last) / 2**20, "mb")
        ctx.layer("streaming.state_update_s",
                  sum(op.get("allUpdatesTimeMs", 0) for op in state) / 1e3 / len(prog), "s")
        ctx.layer("streaming.state_commit_s",
                  sum(op.get("commitTimeMs", 0) for op in state) / 1e3 / len(prog), "s")
    for name in ("execute_sql", "sql_query"):
        ctx.layer(f"table_env.{name}_s", ctx.tracer.total(f"table_env.{name}"), "s")
    files = glog["files"]
    ctx.layer("gen.lag_max_s", max(f["written"] - f["due"] for f in files), "s")
    ctx.layer("gen.events", glog["events"], "count")
    ctx.layer("sink.batch_s", median(sink.costs), "s")
    stage_ids = [s for s in ctx.status.all_stage_ids() if s > stage0]
    ex = ctx.status.totals(ctx.status.job_count() - jobs0, stage_ids)
    for k, v in ex.items():
        ctx.layer(k, v, ctx.unit_of(k))
    ctx.layer("exec.busy_share", ex["exec.task_run_s"] / (wall * ctx.cpus), "share")
    low = rungs[0]
    plain, _ = _latencies(sink, low["start"], low["end"], parity=0)
    traced, _ = _latencies(sink, low["start"], low["end"], parity=1)
    if plain and traced:
        ctx.layer("trace.overhead_latency_p50_s", median(traced) - median(plain), "s")
    # Micro-batch wall time split three ways: the stream engine's own work
    # (offsets, planning, commit), the state operator (its task time spread
    # over the cores, capped by the batch's execution time), the rest of the
    # execution (scan, shuffle, sink).
    stateful_s = exec_s = 0.0
    for p in prog:
        add = p["ms"].get("addBatch", 0) / 1e3
        task_s = sum(op.get("allUpdatesTimeMs", 0) + op.get("commitTimeMs", 0)
                     for op in p["state"]) / 1e3
        stateful_s += min(add, task_s / ctx.cpus)
        exec_s += add
    ctx.self_time["streaming"] = sum(p["dur"] for p in prog) - exec_s
    ctx.self_time["streaming.stateful"] = stateful_s
    ctx.self_time["exec"] = exec_s - stateful_s
