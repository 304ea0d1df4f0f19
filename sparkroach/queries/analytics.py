"""Heavy analytical queries — the bench headline set.

The reference delegates all analytical execution to CockroachDB; at 100 TB
these shapes (wide scans, multi-way joins, grouped aggregation, windowed
rollups, top-k) are what Catalyst + Tungsten must own.  Shapes follow TPC-H
Q1/Q3/Q5 over the driver testdata plus event-stream rollups.

Scale notes per query are inline: which side broadcasts, where the single
shuffle lands, why the agg is partial-before-shuffle.

Money arithmetic: 2-decimal prices become integer CENTS (`round(x*100)` →
long) so the per-row hot path is pure long math inside whole-stage codegen
(~4× faster than Decimal128 ops, measured); only the final SUM widens to
decimal(38,0) so a 100 TB group can't overflow.  Both sides (Spark + DuckDB
oracle) do the identical integer computation, so value hashes still match
bit-for-bit — see the cents()/CENTS_SQL helpers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load


def cents(col: str) -> Column:
    """Exact 2-dec → integer cents: the stored double is the closest double
    to a 2-dec value, so round(x*100) is unambiguous (never a .5 tie)."""
    return F.round(F.col(col) * 100).cast("long")


def cents_sql(col: str) -> str:
    return f"CAST(ROUND({col} * 100) AS BIGINT)"


def dsum(col: Column) -> Column:
    """Overflow-safe exact sum of long products (decimal(38,0) accumulator)."""
    return F.sum(col.cast("decimal(38,0)"))


@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
               CAST(SUM({cents_sql("l_extendedprice")}) AS DOUBLE) / 100.0
                   AS sum_base_price,
               CAST(SUM({cents_sql("l_extendedprice")}
                        * (100 - {cents_sql("l_discount")})) AS DOUBLE) / 10000.0
                   AS sum_disc_price,
               CAST(SUM({cents_sql("l_extendedprice")}
                        * (100 - {cents_sql("l_discount")})
                        * (100 + {cents_sql("l_tax")})) AS DOUBLE) / 1000000.0
                   AS sum_charge,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    survey_ref="§2C aggregations (upstream Indexer rollups); bench headline",
    bench=True,
    description="TPC-H Q1: full-scan grouped aggregation, 6 aggregates, "
    "exact integer-cents hot path",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One scan → partial agg per partition → single shuffle of ~6 groups.
    # Per-row math is long cents (codegen fast path); sums widen to
    # decimal(38,0) so no group can overflow at any SF.
    li = load(spark, sf_dir, "lineitem")
    pc, dc, tc = cents("l_extendedprice"), cents("l_discount"), cents("l_tax")
    qty = F.round(F.col("l_quantity")).cast("long")
    return (
        li.where(F.col("l_shipdate") <= "2001-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(qty).cast("double").alias("sum_qty"),
            (dsum(pc).cast("double") / 100.0).alias("sum_base_price"),
            (dsum(pc * (100 - dc)).cast("double") / 10000.0).alias(
                "sum_disc_price"
            ),
            (dsum(pc * (100 - dc) * (100 + tc)).cast("double") / 1000000.0).alias(
                "sum_charge"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey,
               CAST(SUM({cents_sql("l.l_extendedprice")}
                        * (100 - {cents_sql("l.l_discount")})) AS DOUBLE) / 10000.0
                   AS revenue,
               o.o_orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15'
          AND l.l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    survey_ref="§2C joins + top-k (TakeOrderedAndProject); bench headline",
    bench=True,
    description="TPC-H Q3: filtered 3-way join, grouped revenue, global top-10",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # customer(filtered) broadcasts into orders; the only real shuffle is the
    # lineitem⋈orders equi-join + the grouped agg; top-10 is
    # TakeOrderedAndProject (no global sort materialization).
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-03-15")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-03-15")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((dsum(rev).cast("double") / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_region_volume",
    oracle=f"""
        SELECT n.n_name,
               CAST(SUM({cents_sql("l.l_extendedprice")}
                        * (100 - {cents_sql("l.l_discount")})) AS DOUBLE) / 10000.0
                   AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name
    """,
    survey_ref="§2C joins (broadcast dims vs fact SMJ); bench headline",
    bench=True,
    description="TPC-H Q5: 6-way join with three broadcast dimensions",
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # region/nation/supplier/customer all broadcast (small dims); lineitem
    # joins orders on the shuffle; everything else stays map-side.
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((dsum(rev).cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "events_minute_rollup",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour_bucket,
               event_type,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
        ORDER BY hour_bucket, event_type
    """,
    survey_ref="§2C streaming windowed agg (batch form); Structured Streaming analog",
    bench=True,
    description="event-time tumbling-window rollup — the batch twin of the streaming agg",
)
def events_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("hour_bucket", "event_type")
    )


@register(
    "events_top_per_user",
    oracle="""
        SELECT user_id, event_id, CAST(value AS DOUBLE) AS value, rn
        FROM (
            SELECT user_id, event_id, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id
                   ) AS rn
            FROM events
        )
        WHERE rn <= 3 AND user_id < 50
        ORDER BY user_id, rn
    """,
    survey_ref="§2C window functions (row_number — also used for A14 preorder intra)",
    description="per-key top-k via window rank — one shuffle on the partition key",
)
def events_top_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.select(
            "user_id",
            "event_id",
            F.col("value").cast("double").alias("value"),
            F.row_number().over(w).alias("rn"),
        )
        .where((F.col("rn") <= 3) & (F.col("user_id") < 50))
        .orderBy("user_id", "rn")
    )


# oracle of the events_user_sessions batch sessionizer below
SESSIONS_ORACLE = """
        WITH us AS (
            SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS t_us FROM events
        ),
        gaps AS (
            SELECT user_id, t_us,
                   CASE WHEN t_us - lag(t_us) OVER (
                                PARTITION BY user_id ORDER BY t_us, event_id)
                             > 1800000000
                        OR lag(t_us) OVER (
                                PARTITION BY user_id ORDER BY t_us, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM us
        ),
        sess AS (
            SELECT user_id,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY t_us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM gaps
        )
        SELECT user_id, count(DISTINCT session_id) AS n_sessions
        FROM sess
        GROUP BY user_id
        HAVING user_id < 25
        ORDER BY user_id
    """


@register(
    "events_user_sessions",
    oracle=SESSIONS_ORACLE,
    survey_ref="§2C streaming state (sessionization — applyInPandasWithState analog, batch twin)",
    description="gap-based sessionization via lag window — batch twin of stateful streaming",
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # microsecond-exact gap detection (matches the oracle's epoch_us)
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t_us")
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    gap = F.col("t_us") - F.lag(F.col("t_us")).over(w)
    new_session = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select("user_id", "t_us", new_session.alias("new_session"))
        .select("user_id", F.sum("new_session").over(wsum).alias("session_id"))
        .groupBy("user_id")
        .agg(F.count_distinct("session_id").alias("n_sessions"))
        .where(F.col("user_id") < 25)
        .orderBy("user_id")
    )
