"""Closed-loop batch workload ``corpus_pipeline``: one client runs the LLM-data
flagship queries back to back, pass after pass, for the measured window, on a
near-duplicate corpus.

Each execution is timed from the call to the query callable to its complete
collected result. The first timed execution of every query is hashed against
the query's DuckDB oracle (computed once per input set, outside timing); every
timed execution's row count is checked.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import time

from harness import REPO_ROOT, geomean, log, median, quantile, tail_quantile
from spans import StatusStore

CORPUS_BASE_SF = 0.002  # 100 base documents and vectors ...
CORPUS_REPS = 10  # ... replicated into a near-duplicate corpus of 1000
WARM_SF = 0.001  # warm-up inputs: 50 documents and vectors
CORPUS = (
    "dedup_minhash_lsh", "pipeline_refinedweb_corpus", "dedup_incremental_admit",
    "dedup_paragraph_minhash", "text_quality_score", "embedding_cosine_topk",
)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns by name, values with
    nine significant digits, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(json.dumps([_norm(r[i]) for i in order], default=str) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for line in out:
        h.update(line.encode())
    return h.hexdigest()


def oracle_results(data_dir: str, registry, names) -> dict[str, dict]:
    """Row count and digest of each query's DuckDB oracle on ``data_dir``,
    cached beside the data directory."""
    path = f"{data_dir}.oracles.json"
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb

        con = duckdb.connect(config={"temp_directory": os.environ["TMPDIR"]})
        try:
            for t in sorted(os.listdir(data_dir)):
                if t.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}/**/*.parquet', union_by_name=true)"
                        if os.path.isdir(os.path.join(data_dir, t))
                        else f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{t}')"
                    )
            for n in missing:
                rel = con.sql(registry[n].oracle)
                rows = rel.fetchall()
                cached[n] = {"rows": len(rows), "hash": result_hash(list(rel.columns), rows)}
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, path)
    return {n: cached[n] for n in names}


def reset_caches(spark) -> None:
    """Drop the SQL cache and the RDDs that ``localCheckpoint`` barriers pin,
    so every pass starts from the same memory state."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


class BatchRun:
    def __init__(self, ctx, names, data_dir: str, warm_dir: str):
        self.ctx = ctx
        self.names = names
        self.data_dir = data_dir
        self.warm_dir = warm_dir
        self.spark = ctx.spark
        self.registry = ctx.registry
        self.status = StatusStore(self.spark)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _execute(self, name: str, sf_dir: str, traced: bool):
        """Build and collect one query; returns (seconds, cols, rows)."""
        tr = self.ctx.tracer
        q = self.registry[name]
        t0 = time.perf_counter()
        with tr.span(f"query.{name}", "queries"):
            with tr.span("queries.build", "queries"):
                df = q.spark(self.spark, sf_dir)
            if traced:
                with tr.span("plan.executed_plan", "plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("queries.action", "exec"):
                rows = df.collect()
        return time.perf_counter() - t0, df.columns, rows

    def warm_up(self) -> None:
        for name in self.names:
            self._execute(name, self.warm_dir, False)
        reset_caches(self.spark)

    def measure(self, seconds: float, oracles: dict, traced_alternate: bool):
        """Run passes until ``seconds`` have elapsed, at least two; the
        traced run alternates traced and untraced passes."""
        from flink_1_12_0_src_spark.pipeline.stageclock import record_stages

        sc = self.spark.sparkContext
        per_query: dict[str, list[float]] = {n: [] for n in self.names}
        passes = []  # dicts: wall, traced, exec totals, input rows, stages
        checked: set[str] = set()
        t_start = time.perf_counter()
        i = 0
        min_passes = 2
        while i < min_passes or time.perf_counter() - t_start < seconds:
            traced = traced_alternate and i % 2 == 0
            self.ctx.tracer.active = traced
            group = f"perfbench-pass-{i}"
            sc.setJobGroup(group, group)
            stages: dict[str, float] = {}
            p0 = time.perf_counter()
            times = {}
            with record_stages(stages):
                for name in self.names:
                    self.attempted += 1
                    try:
                        dt, cols, rows = self._execute(name, self.data_dir, traced)
                    except Exception as e:  # a failing query is counted, not fatal
                        self.failed += 1
                        self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                        continue
                    times[name] = dt
                    ok = len(rows) == oracles[name]["rows"]
                    if ok and name not in checked:
                        checked.add(name)
                        ok = result_hash(cols, rows) == oracles[name]["hash"]
                    if not ok:
                        self.failed += 1
                        self.errors.append(f"{name}: result differs from its DuckDB oracle")
            wall = time.perf_counter() - p0
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.ctx.tracer.active = self.ctx.tracer.enabled
            n_jobs, stage_ids = self.status.stage_ids_of_group(group)
            rec = {"wall": wall, "traced": traced, "stages": stages,
                   "input_rows": self.status.input_records(stage_ids)}
            if self.ctx.tracer.enabled:
                rec["exec"] = self.status.totals(n_jobs, stage_ids)
            passes.append(rec)
            if not traced:
                for n, dt in times.items():
                    per_query[n].append(dt)
            reset_caches(self.spark)
            i += 1
        self.ctx.tracer.active = self.ctx.tracer.enabled
        return per_query, passes


def prepare(ctx) -> tuple[str, str, dict]:
    """Load the query registry, then, outside set-up time and before the JVM
    starts (so it cannot warm the measured session), build or reuse the
    inputs and the oracle results: (corpus dir, warm-up dir, oracles)."""
    import datagen
    from flink_1_12_0_src_spark import queries

    ctx.registry = queries.load_all()
    cache = ctx.dirs["cache"]
    with ctx.untimed():
        warm_dir = datagen.base_tables(cache, ctx.seed, WARM_SF)
        base_dir = datagen.base_tables(cache, ctx.seed, CORPUS_BASE_SF)
        data_dir = datagen.corpus_tables(cache, REPO_ROOT, base_dir, CORPUS_REPS)
        oracles = oracle_results(data_dir, ctx.registry, CORPUS)
    return data_dir, warm_dir, oracles


def run(ctx, inputs: tuple[str, str, dict]) -> None:
    """Batch workload body: warm-up, timed passes, metrics."""
    data_dir, warm_dir, oracles = inputs
    names = CORPUS
    br = BatchRun(ctx, names, data_dir, warm_dir)
    with ctx.tracer.span("session.warmup", "session"):
        br.warm_up()
    ctx.end_setup()
    log(f"setup done; measuring {len(names)} queries for {ctx.seconds}s")
    per_query, passes = br.measure(ctx.seconds, oracles, traced_alternate=ctx.tracer.enabled)
    plain = [p for p in passes if not p["traced"]]
    ctx.attempted, ctx.failed, ctx.errors = br.attempted, br.failed, br.errors
    if br.failed:
        return
    walls = [p["wall"] for p in plain]
    all_times = [t for ts in per_query.values() for t in ts]
    q_median = {n: median(ts) for n, ts in per_query.items()}
    ratios = [t / q_median[n] for n, ts in per_query.items() for t in ts]
    eps = [p["input_rows"] / p["wall"] for p in plain]
    ctx.metric("pass_s", median(walls), "s")
    ctx.metric("query_geomean_s", geomean(q_median.values()), "s")
    ctx.metric("query_tail_ratio_p90", quantile(ratios, 0.9), "ratio")
    ctx.metric("event_latency_p50_s", median(all_times), "s")
    ctx.metric("event_latency_p90_s", quantile(all_times, tail_quantile(len(all_times))), "s")
    ctx.metric("sustainable_eps", median(eps), "1/s")
    ctx.metric("peak_eps", max(eps), "1/s")
    ctx.samples["query_median_s"] = {n: round(v, 3) for n, v in q_median.items()}
    ctx.samples["passes"] = len(plain)
    ctx.samples["executions"] = len(all_times)
    if ctx.tracer.enabled:
        _layer_metrics(ctx, [p for p in passes if p["traced"]], walls)


def _layer_metrics(ctx, traced, plain_walls) -> None:
    tr, M = ctx.tracer, "measure"
    n = len(traced)
    per = 1.0 / n
    ctx.layer("catalog.table_calls", tr.count("catalog.table", M) * per, "count")
    ctx.layer("catalog.table_s", tr.total("catalog.table", M) * per, "s")
    ctx.layer("queries.build_s", tr.total("queries.build", M) * per, "s")
    ctx.layer("queries.action_s", tr.total("queries.action", M) * per, "s")
    ctx.layer("plan.executed_plan_s", tr.total("plan.executed_plan", M) * per, "s")
    stage_tot: dict[str, float] = {}
    for p in traced:
        for k, v in p["stages"].items():
            stage_tot[k] = stage_tot.get(k, 0.0) + v
    ctx.layer("pipeline.stage_s", sum(stage_tot.values()) * per, "s")
    ctx.layer("pipeline.stages", sum(tr.count(f"pipeline.stage.{k}", M) for k in tr.stage_names) * per,
              "count")
    for k, v in stage_tot.items():
        ctx.layer(f"pipeline.stage.{k}_s", v * per, "s")
    for k in traced[0]["exec"]:
        ctx.layer(k, sum(p["exec"][k] for p in traced) * per, ctx.unit_of(k))
    wall = sum(p["wall"] for p in traced)
    ctx.layer("exec.busy_share",
              sum(p["exec"]["exec.task_run_s"] for p in traced) / (wall * ctx.cpus), "share")
    ctx.layer("trace.overhead_pass_s", median([p["wall"] for p in traced]) - median(plain_walls), "s")
    ctx.per_pass_divisor = n
