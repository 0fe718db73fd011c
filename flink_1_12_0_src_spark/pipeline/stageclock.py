"""Opt-in per-stage wall-clock recorder for the composed pipeline operators.

The composed flagships (pipeline_refinedweb_corpus, dedup_incremental_admit,
…) contain deliberate EAGER materialization barriers (localCheckpoint /
persist-then-count stage boundaries). When a bench artifact moves, the first
adjudication question is *which stage* — so the two benchmark harnesses
turn this recorder on around their timed runs: `bench.py` records per-stage
wall times into the BENCH JSON, and `perfbench/batch.py` reports them as the
``pipeline.stage*`` per-layer metrics. Off by default: a plain query run pays
one `is None` check per eagerly-materialized stage and nothing else.

Not thread-safe by design (both harnesses are single-threaded); the sink is
a plain module global so operators deep in the call stack need no plumbing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_SINK: dict[str, float] | None = None


@contextmanager
def record_stages(sink: dict[str, float]):
    """Activate stage recording into ``sink`` ({stage_name: seconds},
    accumulated) for the duration of the block."""
    global _SINK
    prev = _SINK
    _SINK = sink
    try:
        yield sink
    finally:
        _SINK = prev


@contextmanager
def stage(name: str):
    """Time a block as pipeline stage ``name`` (no-op unless recording)."""
    if _SINK is None:
        yield
        return
    t0 = time.perf_counter()
    try:
        yield
    finally:
        _SINK[name] = round(_SINK.get(name, 0.0) + time.perf_counter() - t0, 4)
