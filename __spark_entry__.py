"""Driver contract for the spark-graft builder (PySpark target).

Everything is derived from the sparkroach query registry
(``sparkroach/queries/``): one entry per implemented operator from
SURVEY.md §2 plus the LLM-data-pipeline operators, each paired with its
DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sparkroach.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q1-shaped pricing summary: full lineitem scan, grouped
    decimal-exact aggregation — the engine's bread-and-butter plan
    (partial agg → 6-group shuffle → sort).
    """
    return QUERIES["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Only ``gated`` registry entries are exported: the driver records a
    bounded number of entries (50 in round 1), so only the names in
    ``sparkroach/queries/rotation.py``'s window are exported; the rest
    are swept by the local oracle gate (tests/test_oracle_gate.py).
    Oracle-bearing entries come first; rows-only entries last."""
    gated = {name: q for name, q in QUERIES.items() if q.gated}
    ordered = {n: q.fn for n, q in gated.items() if q.oracle is not None}
    ordered.update({n: q.fn for n, q in gated.items() if q.oracle is None})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return {
        name: q.oracle
        for name, q in QUERIES.items()
        if q.gated and q.oracle is not None
    }
