"""Query registry: one entry per operator/capability from SURVEY.md §2.

Each :class:`Query` pairs a Spark implementation (DataFrame/SQL, takes
``(spark, sf_dir)``) with an optional DuckDB oracle SQL string over the same
parquet tables. The driver's correctness gate runs both at sf0.01 and compares
row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- float aggregations accumulate in DECIMAL (exact, order-independent) and cast
  the final value to DOUBLE — bit-deterministic in both engines regardless of
  partitioning/merge order;
- output types are plain (BIGINT/DOUBLE/STRING/TIMESTAMP/BOOLEAN).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator: add a query implementation to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY) and return it
    in registration order."""
    from flink_1_12_0_src_spark.queries import (  # noqa: F401
        relational,
        window_agg,
        scalar_fns,
        custom_ops,
        dialectq,
        pipelineq,  # noqa: F401  (registers pipeline queries)
        graphq,
        cdcq,
        tpch,
        tpch2,
        streamingq,
    )

    return dict(REGISTRY)
