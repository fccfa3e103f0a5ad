"""Query registry: one entry per SURVEY.md §2 inventory row.

Each registered query is a pair (Spark callable, DuckDB oracle SQL).
The driver harness executes both at sf=0.01 and compares row count,
schema and an order-insensitive value hash — so every computed column
is aliased identically on both sides, floats are rounded identically,
and rankings use rounded keys + deterministic tie-breaks.

Every registered query carries a DuckDB oracle — none opts out: even
the approximate operators (LSH, HLL, IVF) are pinned by oracles over
their exact verification step or a seeded re-derivation.

Ordering contract: queries return UNORDERED results (the relational
set contract). Both the driver's value hash and the local parity
replica canonicalize order themselves, and a cosmetic global sort is
an anti-pattern that doubles the pipeline — Spark's range-partitioning
sort samples the child plan, executing everything upstream twice (and
at 100 TB nobody totally orders a result set; output is written
partitioned). Ordering survives only where it is SEMANTIC: top-k /
sorted-limit queries (TakeOrderedAndProject) and window-function
ORDER BY clauses.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str, doc: str = ""):
    """Decorator registering a (spark_fn, oracle_sql) query pair."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: registry population) and
    return the registry in import order; callers look queries up by
    name."""
    from etl_work_flow_for_big_data_spark.queries import (  # noqa: F401
        multimodal,
        packets,
        relational,
        similarity,
        text,
        windows,
    )

    return REGISTRY
