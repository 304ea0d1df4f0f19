"""Round-7 late wave 11: ``orders_benford_audit`` — Benford's-law
first-digit audit (R8-window candidate), the classic synthetic-data /
fraud screen a data-quality suite runs over monetary columns.

Exactness discipline: the first significant digit is extracted from the
INTEGER cents representation (``CAST(round(x·100) AS BIGINT)`` then the
first character of the integer's decimal string) — never from a
double→string cast, whose formatting (scientific-notation thresholds,
trailing zeros) differs between engines, and never via ``log10`` digit
arithmetic, whose last-ulp behavior near powers of ten does too.  The
Benford expectations ship as 12-decimal DECIMAL literals (identical
text in both engines); each digit's deviation is one arithmetic
expression over exact integers and those literals, carried at the
product's exact scale (DECIMAL(28,12) — nothing ever rounds until the
final representation) — output is 9 rows ordered by digit with NO
cross-row float summation, so there is no summation-order hazard at
all.  Per the registry float discipline the OUTPUT columns are the
exact DECIMAL(28,12) values cast to DOUBLE as the very last step on
BOTH engines (one correctly-rounded conversion each, verified
bit-identical at sf0.001/0.01/0.1): the driver's pandas
canonicalization converts DuckDB DECIMAL results to float64 but keeps
Spark Decimal objects, so a raw DECIMAL output column hash-diverges
even when the values are exactly equal (the r8 red-row root cause —
the only two r8 hash failures were the only two DECIMAL-output
queries in the registry).

TPC-H-ish totals are range-uniform, not Benford — the audit correctly
reports large deviations, which is what an audit is for; the gate pins
the ARITHMETIC, not a pass/fail verdict.

Reference parity: none — §2C analytic breadth / DQ per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

# log10(1 + 1/d) to 12 decimals — literal constants, identical text in
# both engines (no runtime log anywhere)
_BENFORD_P = {
    1: "0.301029995664",
    2: "0.176091259056",
    3: "0.124938736608",
    4: "0.096910013008",
    5: "0.079181246048",
    6: "0.066946789631",
    7: "0.057991946978",
    8: "0.051152522447",
    9: "0.045757490561",
}

_P_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p} AS DECIMAL(14,12))"
    for d, p in _BENFORD_P.items()
) + " END"

_BENFORD_ORACLE = f"""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    digits AS (
        SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM cents WHERE c > 0
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digits),
    obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed
        FROM digits GROUP BY digit
    ),
    filled AS (
        SELECT d.digit, COALESCE(obs.observed, 0) AS observed
        FROM (SELECT unnest(range(1, 10)) AS digit) d
        LEFT JOIN obs ON obs.digit = d.digit
    )
    SELECT filled.digit, CAST(filled.observed AS BIGINT) AS observed,
           CAST(CAST(n.n * ({_P_CASE.replace("digit", "filled.digit")})
                AS DECIMAL(28,12)) AS DOUBLE) AS expected_q,
           CAST(CAST(CAST(filled.observed AS DECIMAL(28,12))
                - n.n * ({_P_CASE.replace("digit", "filled.digit")})
                AS DECIMAL(28,12)) AS DOUBLE) AS deviation_q
    FROM filled, n ORDER BY filled.digit
"""


@register(
    "orders_benford_audit",
    oracle=_BENFORD_ORACLE,
    survey_ref="§2C analytic breadth / DQ — Benford's-law first-digit "
    "audit over a monetary column (the synthetic-data / fraud screen), "
    "digit extraction integer-exact and expectations as literal "
    "constants",
    description="first significant digit taken from integer CENTS "
    "(round(x·100) then the decimal string's first char — never a "
    "double→string cast or log10 arithmetic, both of which diverge "
    "across engines), grouped counts completed to all 9 digits, "
    "expected counts from 12-decimal literal Benford constants, "
    "per-digit deviation carried exact at DECIMAL(28,12) and cast to "
    "DOUBLE only at output (registry float discipline).  Nine output rows, "
    "no cross-row float sum — zero summation-order hazard.  One "
    "map-only pass + a 9-group census at any scale",
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    digits = o.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c")
    ).where(F.col("c") > 0).select(
        F.expr(
            "CAST(substring(CAST(c AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    n = digits.agg(F.count("*").cast("long").alias("n"))
    obs = digits.groupBy("digit").agg(
        F.count("*").cast("long").alias("observed")
    )
    all_digits = spark.range(1, 10).select(F.col("id").alias("digit"))
    full = (
        all_digits.join(obs, "digit", "left")
        .na.fill({"observed": 0})
        .crossJoin(F.broadcast(n))
    )
    p = F.expr(_P_CASE)
    expected = (F.col("n") * p).cast("decimal(28,12)")
    return full.select(
        "digit",
        F.col("observed").cast("long").alias("observed"),
        expected.cast("double").alias("expected_q"),
        (F.col("observed").cast("decimal(28,12)") - F.col("n") * p)
        .cast("decimal(28,12)")
        .cast("double")
        .alias("deviation_q"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# lineitem_corr_matrix — single-pass Pearson correlation matrix
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_pairs() -> list[tuple[str, str]]:
    return [
        (_CORR_COLS[i], _CORR_COLS[j])
        for i in range(len(_CORR_COLS))
        for j in range(i + 1, len(_CORR_COLS))
    ]


def _corr_oracle() -> str:
    # exact sufficient statistics on integer cents (HUGEINT sums), cast
    # to double only inside the final fixed-shape r expression
    qs = ", ".join(
        f"CAST(round({c} * 100) AS BIGINT) AS q_{c}" for c in _CORR_COLS
    )
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in _CORR_COLS:
        sums.append(f"SUM(q_{c}) AS s_{c}")
        sums.append(f"SUM(q_{c} * q_{c}) AS ss_{c}")
    for a, b in _corr_pairs():
        sums.append(f"SUM(q_{a} * q_{b}) AS sx_{a}_{b}")
    rows = []
    for a, b in _corr_pairs():
        # num/da/db stay EXACT (HUGEINT): evaluating n·Σxy − ΣxΣy in
        # doubles is catastrophically cancelling AND engine-divergent —
        # DuckDB's vectorized a·b − c·d fuses (FMA) while Spark/python
        # round each product, observed 3-ulp drift at sf0.1.  Doubles
        # enter only at the three single-rounding points below.
        num = (
            f"(CAST(n AS HUGEINT) * sx_{a}_{b} "
            f"- CAST(s_{a} AS HUGEINT) * s_{b})"
        )
        da = (
            f"(CAST(n AS HUGEINT) * ss_{a} "
            f"- CAST(s_{a} AS HUGEINT) * s_{a})"
        )
        db = (
            f"(CAST(n AS HUGEINT) * ss_{b} "
            f"- CAST(s_{b} AS HUGEINT) * s_{b})"
        )
        rows.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, n AS n_rows, "
            f"(CAST({num} AS DOUBLE) / (sqrt(CAST({da} AS DOUBLE)) "
            f"* sqrt(CAST({db} AS DOUBLE)))) AS r FROM stats"
        )
    return (
        f"WITH q AS (SELECT {qs} FROM lineitem), "
        f"stats AS (SELECT {', '.join(sums)} FROM q) "
        + " UNION ALL ".join(rows)
        + " ORDER BY col_x, col_y"
    )


@register(
    "lineitem_corr_matrix",
    oracle=_corr_oracle(),
    survey_ref="§2C analytic breadth / profiling — Pearson correlation "
    "matrix via one-pass exact sufficient statistics (integer-cents "
    "quantized sums; doubles only in the final fixed-shape expression)",
    description="all pairwise correlations of "
    f"{len(_CORR_COLS)} numeric columns from ONE scan: 15 map-side-"
    "combinable aggregates over round(x·100) integer cents (Spark sums "
    "in DECIMAL(38,0), DuckDB in HUGEINT — both exact), then r = "
    "(n·Σxy − ΣxΣy)/(√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)) evaluated in "
    "DOUBLE with an identical expression tree on both engines (every "
    "IEEE op deterministic, exact integers cast once).  At 100 TB this "
    "is the profiling pass's shape: one scan, k² scalar outputs, no "
    "second pass for means",
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q = li.select(
        *[
            F.expr(f"CAST(round({c} * 100) AS DECIMAL(18,0))").alias(
                f"q_{c}"
            )
            for c in _CORR_COLS
        ]
    )
    aggs = [F.count("*").cast("long").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(F.col(f"q_{c}")).alias(f"s_{c}"))
        aggs.append(
            F.sum(F.col(f"q_{c}") * F.col(f"q_{c}")).alias(f"ss_{c}")
        )
    for a, b in _corr_pairs():
        aggs.append(
            F.sum(F.col(f"q_{a}") * F.col(f"q_{b}")).alias(f"sx_{a}_{b}")
        )
    # one materialized row: the 6 per-pair selects below must not
    # re-trigger the scan+aggregate per pair
    stats = q.agg(*aggs).localCheckpoint(eager=True)
    outs = []
    for a, b in _corr_pairs():
        # exact DECIMAL(38,0) arithmetic (values ≤ ~1e22, well inside
        # 38 digits); doubles only at the three single-rounding points —
        # see the oracle builder's FMA note
        num = (
            f"(CAST(n AS DECIMAL(38,0)) * sx_{a}_{b} "
            f"- CAST(s_{a} AS DECIMAL(38,0)) * s_{b})"
        )
        da = (
            f"(CAST(n AS DECIMAL(38,0)) * ss_{a} "
            f"- CAST(s_{a} AS DECIMAL(38,0)) * s_{a})"
        )
        db = (
            f"(CAST(n AS DECIMAL(38,0)) * ss_{b} "
            f"- CAST(s_{b} AS DECIMAL(38,0)) * s_{b})"
        )
        outs.append(
            stats.selectExpr(
                f"'{a}' AS col_x",
                f"'{b}' AS col_y",
                "n AS n_rows",
                f"(CAST({num} AS DOUBLE) / (sqrt(CAST({da} AS DOUBLE)) "
                f"* sqrt(CAST({db} AS DOUBLE)))) AS r",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("col_x", "col_y")


# ---------------------------------------------------------------------------
# events_cusum_drift — sequential change-point detection as two prefix scans
# ---------------------------------------------------------------------------

_CUSUM_K = 5000  # reference level in cents (~ the corpus mean value)
_CUSUM_T = 50_000  # alert threshold in cumulated cents

_CUSUM_ORACLE = f"""
    WITH e AS (
        SELECT epoch_us(ts) AS t_us, event_id,
               CAST(round(value * 100) AS BIGINT) - {_CUSUM_K} AS d
        FROM events
    ),
    p AS (
        SELECT t_us, event_id,
               SUM(d) OVER (ORDER BY t_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS p
        FROM e
    ),
    s AS (
        SELECT t_us, event_id,
               p - LEAST(0, MIN(p) OVER (ORDER BY t_us, event_id
                                         ROWS UNBOUNDED PRECEDING)) AS s
        FROM p
    )
    SELECT CAST(MAX(s) AS BIGINT) AS max_cusum,
           CAST((SELECT MIN(t_us) FROM s
                 WHERE s = (SELECT MAX(s) FROM s)) AS BIGINT)
               AS peak_t_us,
           CAST(SUM(CASE WHEN s >= {_CUSUM_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above
    FROM s
"""


def _running_scan(df, spark, n_parts: int):
    """Globally-ordered running SUM of ``d`` and then running MIN of
    that sum, in (t_us, event_id) order, WITHOUT a single-partition
    window: range partition + per-partition windows + broadcast
    per-partition offsets (the sessions_concurrency_peak recipe, run
    twice over one pinned partitioning — sum offsets, then min
    offsets).  Two bookkeeping rows per partition reach the driver."""
    from pyspark.sql import Window

    part = (
        df.repartitionByRange(n_parts, F.col("t_us"), F.col("event_id"))
        .sortWithinPartitions("t_us", "event_id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sums = {
        r["_pid"]: int(r["tot"])
        for r in part.groupBy("_pid").agg(F.sum("d").alias("tot")).collect()
    }
    off, acc = [], 0
    for pid in sorted(sums):
        off.append((pid, acc))
        acc += sums[pid]
    offs = spark.createDataFrame(off or [(0, 0)], "_pid int, _soff long")
    p = (
        part.withColumn("_ls", F.sum("d").over(w))
        .join(F.broadcast(offs), "_pid")
        .withColumn("p", (F.col("_soff") + F.col("_ls")).cast("long"))
        .drop("_ls", "_soff")
        .localCheckpoint(eager=True)  # pin partitioning for the min pass
    )
    pmins = {
        r["_pid"]: int(r["mn"])
        for r in p.groupBy("_pid").agg(F.min("p").alias("mn")).collect()
    }
    _inf = 1 << 62
    moff, macc = [], _inf
    for pid in sorted(pmins):
        moff.append((pid, macc))
        macc = min(macc, pmins[pid])
    moffs = spark.createDataFrame(
        moff or [(0, _inf)], "_pid int, _moff long"
    )
    return (
        p.withColumn("_lm", F.min("p").over(w))
        .join(F.broadcast(moffs), "_pid")
        .withColumn("m", F.least(F.col("_lm"), F.col("_moff")))
        .drop("_pid", "_lm", "_moff")
    )


@register(
    "events_cusum_drift",
    oracle=_CUSUM_ORACLE,
    survey_ref="§2C drift detection — one-sided CUSUM change-point "
    "statistic over the event stream (sequential detection, completing "
    "the drift family next to the two-sample KS and chi-squared gates)",
    description="S_t = max(0, S_{t-1} + x_t − k) never needs the "
    "sequential recurrence: by the max-plus identity S_t = P_t − "
    "min(0, min_{j<=t} P_j) with P the running sum of integer-cents "
    f"deviations from k = {_CUSUM_K}.  Both prefixes ride the "
    "distributed prefix recipe over ONE pinned (ts, event_id) range "
    "partitioning — no single-partition window; two bookkeeping rows "
    "per partition.  Output: the peak statistic, the first microsecond "
    f"it is attained, and the count of points at or above {_CUSUM_T}.  "
    "All integer until nothing is left to round",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        (
            F.expr("CAST(round(value * 100) AS BIGINT)") - _CUSUM_K
        ).alias("d"),
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    scanned = _running_scan(ev, spark, n_parts)
    s = scanned.withColumn(
        "s", F.col("p") - F.least(F.lit(0).cast("long"), F.col("m"))
    )
    mx = s.agg(F.max("s").alias("mx"))
    return (
        s.join(F.broadcast(mx))
        .agg(
            F.max("s").cast("long").alias("max_cusum"),
            F.min(F.when(F.col("s") == F.col("mx"), F.col("t_us")))
            .cast("long")
            .alias("peak_t_us"),
            F.sum((F.col("s") >= _CUSUM_T).cast("int"))
            .cast("long")
            .alias("n_above"),
        )
    )
