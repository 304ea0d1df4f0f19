"""Second wave of operator coverage: set ops, anti-joins, rollups,
distinct aggregation, and an as-of join (an operator Spark lacks as a
primitive — composed from a window; DuckDB verifies with its native
ASOF JOIN)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.analytics import cents, cents_sql, dsum
from sparkroach.queries.registry import register
from sparkroach.tables import load


@register(
    "q6_forecast_revenue",
    oracle=f"""
        SELECT CAST(SUM({cents_sql("l_extendedprice")}
                        * {cents_sql("l_discount")}) AS DOUBLE) / 10000.0
                   AS revenue_delta
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    survey_ref="§2C aggregations — highly selective scan-and-sum; bench headline",
    bench=True,
    description="TPC-H Q6: all three predicates push to the parquet scan; "
    "the whole query is one codegen stage with a scalar result",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (dsum(cents("l_extendedprice") * cents("l_discount")).cast("double")
             / 10000.0).alias("revenue_delta")
        )
    )


@register(
    "account_no_resources_antijoin",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0
        )
        ORDER BY c_custkey
    """,
    survey_ref="§2C set ops / anti-join (accounts without a qualifying resource)",
    description="left-anti join: accounts with no high-value resource — the "
    "complement of the HasAssetID semi-join",
)
def account_no_resources_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "brand_type_set_ops",
    oracle="""
        SELECT p_brand FROM part WHERE p_type = 'ECONOMY'
        INTERSECT
        SELECT p_brand FROM part WHERE p_type = 'PROMO'
        ORDER BY p_brand
    """,
    survey_ref="§2C set ops (INTERSECT; participation-dedup family)",
    description="set intersection of two filtered key sets",
)
def brand_type_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    econ = p.where(F.col("p_type") == "ECONOMY").select("p_brand")
    promo = p.where(F.col("p_type") == "PROMO").select("p_brand")
    return econ.intersect(promo).orderBy("p_brand")


@register(
    "part_brand_multiset_ops",
    oracle="""
        SELECT 'intersect_all' AS op, p_brand FROM (
            SELECT p_brand FROM part WHERE p_type = 'ECONOMY'
            INTERSECT ALL
            SELECT p_brand FROM part WHERE p_type = 'PROMO'
        )
        UNION ALL
        SELECT 'except_all' AS op, p_brand FROM (
            SELECT p_brand FROM part WHERE p_type = 'ECONOMY'
            EXCEPT ALL
            SELECT p_brand FROM part WHERE p_type = 'PROMO'
        )
        ORDER BY op, p_brand
    """,
    survey_ref="§2C set ops — the ALL variants: BAG semantics with "
    "duplicate multiplicities (INTERSECT ALL keeps min(m,n) copies, "
    "EXCEPT ALL keeps m−n), which the DISTINCT set ops gate "
    "(brand_type_set_ops) cannot distinguish from a dedup",
    description="multiset intersection/difference of the ECONOMY vs "
    "PROMO brand bags — implemented with intersectAll/exceptAll, which "
    "Spark plans as a single hash aggregate counting per-side "
    "multiplicities plus a generate (no join, no distinct), the "
    "shuffle-once shape that survives any brand cardinality",
)
def part_brand_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    econ = p.where(F.col("p_type") == "ECONOMY").select("p_brand")
    promo = p.where(F.col("p_type") == "PROMO").select("p_brand")
    tag = lambda df, op: df.select(  # noqa: E731
        F.lit(op).alias("op"), "p_brand"
    )
    return (
        tag(econ.intersectAll(promo), "intersect_all")
        .unionAll(tag(econ.exceptAll(promo), "except_all"))
        .orderBy("op", "p_brand")
    )


@register(
    "events_rollup_cube",
    oracle="""
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
               count(*) AS n
        FROM events
        GROUP BY ROLLUP (event_type, CAST(date_trunc('day', ts) AS TIMESTAMP))
        ORDER BY event_type NULLS FIRST, day_bucket NULLS FIRST
    """,
    survey_ref="§2C aggregations — hierarchical rollup (subtotals + grand total)",
    description="ROLLUP over (type, day): per-day, per-type subtotal, grand "
    "total in one pass — partial aggregation handles all levels map-side",
)
def events_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day_bucket")
    return (
        ev.rollup(F.col("event_type"), day)
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("event_type").asc_nulls_first(),
            F.col("day_bucket").asc_nulls_first(),
        )
    )


@register(
    "events_distinct_users",
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    survey_ref="§2C aggregations — exact distinct (expand-based two-phase agg)",
    description="exact count-distinct per group; at 100 TB the approx_* "
    "variant swaps in per use-case, the plan shape is identical",
)
def events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "events_asof_last_purchase",
    oracle="""
        WITH errors AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
        ),
        purchases AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
        )
        SELECT e.event_id,
               e.user_id,
               p.ts AS last_purchase_ts,
               CAST(p.value AS DOUBLE) AS last_purchase_value
        FROM errors e
        ASOF LEFT JOIN purchases p
          ON e.user_id = p.user_id AND e.ts >= p.ts
        ORDER BY e.event_id
    """,
    survey_ref="custom operator: as-of join (composed from a window — Spark "
    "has no ASOF primitive; DuckDB verifies with its native ASOF JOIN)",
    description="for every error event, the user's most recent purchase at "
    "or before it. Spark composition: union-tag the two streams, one "
    "window pass per user carrying the last purchase forward — one "
    "shuffle on user_id, no range-join explosion",
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("error", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    # order purchases before errors at identical ts so `>=` semantics match
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts"),
        F.when(F.col("event_type") == "purchase", 0).otherwise(1),
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_p = F.col("event_type") == "purchase"
    carried_ts = F.last(F.when(is_p, F.col("ts")), ignorenulls=True).over(w)
    carried_val = F.last(F.when(is_p, F.col("value")), ignorenulls=True).over(w)
    return (
        tagged.select(
            "event_id",
            "user_id",
            "event_type",
            carried_ts.alias("last_purchase_ts"),
            carried_val.alias("last_purchase_value"),
        )
        .where(F.col("event_type") == "error")
        .select("event_id", "user_id", "last_purchase_ts", "last_purchase_value")
        .orderBy("event_id")
    )
