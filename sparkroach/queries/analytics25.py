"""Round-7 late wave 8: two R8-window candidates from the classic
relational-analytics canon that the registry did not yet carry.

* ``part_pareto_frontier`` — the SKYLINE operator (Borzsony/Kossmann/
  Stocker, ICDE 2001): parts not dominated on (price low, size high).
  The naive formulation is an O(n²) NOT-EXISTS self-join — that IS the
  oracle here, deliberately, because it states the definition rather
  than mirroring the implementation.  The Spark plan never forms a
  pair: reduce to one row per distinct price (grouped max), then an
  exclusive prefix-max in price order computed with the distributed
  prefix recipe (range partition + per-partition window + broadcast
  per-partition offsets — no single-partition window), then one
  broadcast semi-join back to the fact table.  A 2-D skyline is a
  prefix scan, not a join.

* ``customer_record_linkage`` — Fellegi–Sunter probabilistic record
  linkage (JASA 1969), the entity-resolution operator deduplication
  pipelines run on structured records.  A "dirty" twin of ``customer``
  is derived deterministically in BOTH engines (name truncation,
  segment swap, nation corruption, balance jitter keyed off
  c_custkey residues), pairs are generated inside nation blocks only
  (never all-pairs), each pair gets an integer agreement score from
  field-comparison weights, and pairs classify into match / possible /
  non-match bands.  Ground truth (same c_custkey) is known by
  construction, so the output carries per-band true-pair counts — the
  blocking recall loss from corrupted block keys is measured, not
  hidden.

Reference parity: none — SURVEY.md §2C analytic breadth / LLM-pipeline
entity resolution per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# part_pareto_frontier
# ---------------------------------------------------------------------------

_NEG_INF = -(1 << 62)  # exclusive-prefix seed (below any p_size)


def _exclusive_prefix_max(df: DataFrame, key: str, val: str) -> DataFrame:
    """Append ``pmax`` = max of ``val`` over all rows with strictly
    smaller ``key`` (ties in ``key`` must not exist — callers pass one
    row per key), WITHOUT a single-partition window: range-partition on
    the key, per-partition exclusive running max, then broadcast
    per-partition maxima as offsets (one bookkeeping row per partition
    through the driver — the sessions_concurrency_peak prefix recipe
    with max in place of sum)."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.repartitionByRange(n_parts, F.col(key))
        .sortWithinPartitions(key)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin the partitioning for both consumers
    )
    wexcl = (
        Window.partitionBy("_pid")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = {
        r["_pid"]: r["mx"]
        for r in part.groupBy("_pid").agg(F.max(val).alias("mx")).collect()
    }
    offsets, acc = [], _NEG_INF
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc = max(acc, int(totals[pid]))
    off = spark.createDataFrame(offsets or [(0, _NEG_INF)], "_pid int, _off long")
    return (
        part.withColumn(
            "_loc", F.coalesce(F.max(val).over(wexcl), F.lit(_NEG_INF))
        )
        .join(F.broadcast(off), "_pid")
        .withColumn("pmax", F.greatest(F.col("_loc"), F.col("_off")))
        .drop("_pid", "_loc", "_off")
    )


@register(
    "part_pareto_frontier",
    oracle="""
        WITH pts AS (
            SELECT p_partkey, p_retailprice AS price,
                   CAST(p_size AS BIGINT) AS size
            FROM part
        )
        SELECT p.p_partkey, p.price, p.size
        FROM pts p
        WHERE NOT EXISTS (
            SELECT 1 FROM pts q
            WHERE q.price <= p.price AND q.size >= p.size
              AND (q.price < p.price OR q.size > p.size)
        )
        ORDER BY p.p_partkey
    """,
    survey_ref="§2C analytic breadth — skyline / Pareto frontier "
    "(2-D domination query) executed as a distributed prefix-max scan, "
    "never a self-join",
    description="parts where no other part is both cheaper-or-equal "
    "and larger-or-equal with one strict: reduce to max(size) per "
    "distinct price (grouped agg over a bounded price domain), "
    "exclusive prefix-max in ascending price order via the distributed "
    "prefix recipe (no single-partition window, one bookkeeping row "
    "per partition), frontier prices broadcast back onto the fact "
    "table.  The O(n²) NOT-EXISTS the oracle runs never exists in the "
    "Spark plan — at 100 TB the heavy side is one grouped agg plus a "
    "broadcast semi-join",
)
def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    # one row per distinct price: anything below its price-group max is
    # dominated by the (same price, max size) twin
    by_price = pts.groupBy("price").agg(F.max("size").alias("smax"))
    pref = _exclusive_prefix_max(by_price, "price", "smax")
    # frontier iff strictly above every size reachable at a strictly
    # smaller price (>= at a smaller price dominates via strict price)
    # rename before joining back: frontier derives from pts, and same-name
    # columns would resolve to a trivially-true self-comparison
    frontier = pref.filter(F.col("smax") > F.col("pmax")).select(
        F.col("price").alias("f_price"), F.col("smax").alias("f_smax")
    )
    return (
        pts.join(
            F.broadcast(frontier),
            (F.col("price") == F.col("f_price"))
            & (F.col("size") == F.col("f_smax")),
        )
        .select("p_partkey", "price", "size")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# customer_record_linkage
# ---------------------------------------------------------------------------

# integer field-comparison weights (log-odds-shaped, Fellegi–Sunter m/u
# surrogates; the METHOD is what is pinned — production would estimate
# these from labeled pairs)
_W_NAME_EXACT = 40
_W_NAME_PREFIX = 18  # all-but-last-char agreement (the injected truncation)
_W_NAME_DIS = -25
_W_SEG_AGREE = 8
_W_SEG_DIS = -12
_W_BAL_AGREE = 10  # |Δbalance| <= 0.5
_W_BAL_DIS = -15
_T_MATCH = 38  # >= : match
_T_POSSIBLE = 10  # >= : possible (clerical-review band)

_LINK_DIRTY_SQL = """
        SELECT c_custkey AS d_custkey,
               CASE WHEN c_custkey % 7 = 0
                    THEN substr(c_name, 1, length(c_name) - 1)
                    ELSE c_name END AS d_name,
               CASE WHEN c_custkey % 13 = 0
                    THEN CAST((c_nationkey + 1) % 25 AS INTEGER)
                    ELSE c_nationkey END AS d_nation,
               CASE WHEN c_custkey % 11 = 0
                    THEN 'SWAPPED' ELSE c_mktsegment END AS d_seg,
               CASE WHEN c_custkey % 5 = 0
                    THEN c_acctbal + 1.0 ELSE c_acctbal END AS d_bal
        FROM customer
"""

_LINK_ORACLE = f"""
    WITH dirty AS ({_LINK_DIRTY_SQL}),
    pairs AS (
        SELECT c.c_custkey, d.d_custkey,
               (CASE WHEN c.c_name = d.d_name THEN {_W_NAME_EXACT}
                     WHEN substr(c.c_name, 1, length(c.c_name) - 1)
                        = substr(d.d_name, 1, length(c.c_name) - 1)
                        THEN {_W_NAME_PREFIX}
                     ELSE {_W_NAME_DIS} END)
             + (CASE WHEN c.c_mktsegment = d.d_seg THEN {_W_SEG_AGREE}
                     ELSE {_W_SEG_DIS} END)
             + (CASE WHEN abs(c.c_acctbal - d.d_bal) <= 0.5
                     THEN {_W_BAL_AGREE} ELSE {_W_BAL_DIS} END) AS score
        FROM customer c JOIN dirty d ON c.c_nationkey = d.d_nation
    ),
    banded AS (
        SELECT CASE WHEN score >= {_T_MATCH} THEN 'match'
                    WHEN score >= {_T_POSSIBLE} THEN 'possible'
                    ELSE 'non_match' END AS band,
               score,
               CAST(c_custkey = d_custkey AS INTEGER) AS is_true
        FROM pairs
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(is_true) AS BIGINT) AS n_true_pairs,
           CAST(MIN(score) AS BIGINT) AS score_min,
           CAST(MAX(score) AS BIGINT) AS score_max
    FROM banded GROUP BY band ORDER BY band
"""


@register(
    "customer_record_linkage",
    oracle=_LINK_ORACLE,
    survey_ref="LLM ops: entity resolution — Fellegi–Sunter record "
    "linkage with blocking (integer agreement weights, match/possible/"
    "non-match bands, ground-truth recall measured per band)",
    description="a dirty twin of customer is derived deterministically "
    "(c_custkey%7 truncates the name's last char, %11 swaps the "
    "segment, %13 corrupts the nation BLOCK KEY, %5 jitters the "
    "balance by +1.0); candidate pairs form inside nation blocks only "
    f"— never all-pairs.  Integer weights (name {_W_NAME_EXACT}/"
    f"{_W_NAME_PREFIX}/{_W_NAME_DIS}, segment {_W_SEG_AGREE}/"
    f"{_W_SEG_DIS}, balance {_W_BAL_AGREE}/{_W_BAL_DIS}) sum per pair; "
    f"bands at >= {_T_MATCH} (match) and >= {_T_POSSIBLE} (possible).  "
    "True pairs (same custkey) whose block key was corrupted never "
    "co-block — the per-band n_true_pairs makes that recall loss a "
    "measured number.  At 100 TB the plan is one equi-join on the "
    "block key + map-side scoring + a 3-group census; block-key "
    "cardinality is the fan-out dial",
)
def customer_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    dirty = c.select(
        F.col("c_custkey").alias("d_custkey"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.when(
            F.col("c_custkey") % 13 == 0,
            ((F.col("c_nationkey") + 1) % 25).cast("int"),
        )
        .otherwise(F.col("c_nationkey"))
        .alias("d_nation"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit("SWAPPED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 1.0)
        .otherwise(F.col("c_acctbal"))
        .alias("d_bal"),
    )
    pairs = c.join(dirty, c["c_nationkey"] == dirty["d_nation"])
    name_pref = F.expr("substr(c_name, 1, length(c_name) - 1)")
    dirty_pref = F.expr("substr(d_name, 1, length(c_name) - 1)")
    score = (
        F.when(F.col("c_name") == F.col("d_name"), _W_NAME_EXACT)
        .when(name_pref == dirty_pref, _W_NAME_PREFIX)
        .otherwise(_W_NAME_DIS)
        + F.when(F.col("c_mktsegment") == F.col("d_seg"), _W_SEG_AGREE)
        .otherwise(_W_SEG_DIS)
        + F.when(
            F.abs(F.col("c_acctbal") - F.col("d_bal")) <= 0.5, _W_BAL_AGREE
        ).otherwise(_W_BAL_DIS)
    )
    banded = pairs.select(
        F.when(score >= _T_MATCH, "match")
        .when(score >= _T_POSSIBLE, "possible")
        .otherwise("non_match")
        .alias("band"),
        score.alias("score"),
        (F.col("c_custkey") == F.col("d_custkey")).cast("int").alias("is_true"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("is_true").cast("long").alias("n_true_pairs"),
            F.min("score").cast("long").alias("score_min"),
            F.max("score").cast("long").alias("score_max"),
        )
        .orderBy("band")
    )
