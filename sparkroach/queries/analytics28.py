"""Round-8 wave: analytic breadth — retention cohorts, l-diversity,
triangle counting over the dup graph, and a deterministic Poisson
bootstrap.

Exactness discipline (registry docstring): every cross-engine number is
either an exact integer aggregate or ONE IEEE division of exact
integers at the end; calendar arithmetic is pure integer epoch math
(``epoch_us // week``), never engine date-truncation whose week-start
conventions could drift; integer division only ever runs on
non-negative operands (Spark ``DIV`` truncates toward zero while DuckDB
``//`` floors — they agree only for non-negatives, so negatives are
shifted positive first).

Reference parity: none — §2C analytic breadth per the build brief
(product analytics, privacy auditing, graph statistics, resampling
inference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.analytics import cents, cents_sql
from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# events_ordered_funnel_maxgap — chained multi-step funnel
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")
_FUNNEL_GAP_US = 6 * 3600 * 1_000_000  # max gap between CONSECUTIVE steps

_FUNNEL_ORACLE = f"""
    WITH s1 AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t1
        FROM events WHERE event_type = '{_FUNNEL_STEPS[0]}'
        GROUP BY user_id
    ),
    s2 AS (
        SELECT s1.user_id, MIN(epoch_us(e.ts)) AS t2
        FROM s1 JOIN events e
          ON e.user_id = s1.user_id
         AND e.event_type = '{_FUNNEL_STEPS[1]}'
         AND epoch_us(e.ts) > s1.t1
         AND epoch_us(e.ts) <= s1.t1 + {_FUNNEL_GAP_US}
        GROUP BY s1.user_id
    ),
    s3 AS (
        SELECT s2.user_id, MIN(epoch_us(e.ts)) AS t3
        FROM s2 JOIN events e
          ON e.user_id = s2.user_id
         AND e.event_type = '{_FUNNEL_STEPS[2]}'
         AND epoch_us(e.ts) > s2.t2
         AND epoch_us(e.ts) <= s2.t2 + {_FUNNEL_GAP_US}
        GROUP BY s2.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_step1,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_step2,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_step3,
           CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
               / (SELECT COUNT(*) FROM s1) AS conv_12,
           CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
               / (SELECT COUNT(*) FROM s2) AS conv_23,
           CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
               / (SELECT COUNT(*) FROM s1) AS conv_13
"""


@register(
    "events_ordered_funnel_maxgap",
    # r8-new: pinned into the R8 window (rotation.R8_NEW)
    oracle=_FUNNEL_ORACLE,
    survey_ref="§2C sequence analytics — chained ordered funnel with a "
    "max gap between CONSECUTIVE steps (ClickHouse windowFunnel strict-"
    "order shape; generalizes the recorded two-step "
    "events_funnel_conversion, whose window anchors only at step 1)",
    description=f"greedy-earliest semantics over "
    f"{' → '.join(_FUNNEL_STEPS)}: each step's timestamp is the MIN "
    "matching event strictly after the previous step and within "
    f"{_FUNNEL_GAP_US // 3_600_000_000} h of it — deterministic and "
    "identical in both engines (pure integer epoch_us comparisons).  "
    "One per-user min per step, each a user_id-keyed equi-join with "
    "the gap predicate pushed into the join — three user-keyed "
    "shuffles, no window over the event stream; per-step counts are "
    "1-row aggregates and conversions one IEEE division each",
)
def events_ordered_funnel_maxgap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )

    def step(prev: DataFrame, prev_col: str, etype: str, out: str) -> DataFrame:
        e = ev.where(F.col("event_type") == etype).select("user_id", "t")
        return (
            prev.join(e, "user_id")
            .where(
                (F.col("t") > F.col(prev_col))
                & (F.col("t") <= F.col(prev_col) + _FUNNEL_GAP_US)
            )
            .groupBy("user_id")
            .agg(F.min("t").alias(out))
        )

    s1 = (
        ev.where(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = step(s1, "t1", _FUNNEL_STEPS[1], "t2")
    s3 = step(s2, "t2", _FUNNEL_STEPS[2], "t3")
    n1 = s1.agg(F.count("*").cast("long").alias("n_step1"))
    n2 = s2.agg(F.count("*").cast("long").alias("n_step2"))
    n3 = s3.agg(F.count("*").cast("long").alias("n_step3"))
    return (
        n1.crossJoin(n2)  # 1-row × 1-row bookkeeping joins
        .crossJoin(n3)
        .select(
            "n_step1",
            "n_step2",
            "n_step3",
            (
                F.col("n_step2").cast("double") / F.col("n_step1")
            ).alias("conv_12"),
            (
                F.col("n_step3").cast("double") / F.col("n_step2")
            ).alias("conv_23"),
            (
                F.col("n_step3").cast("double") / F.col("n_step1")
            ).alias("conv_13"),
        )
    )


# ---------------------------------------------------------------------------
# customer_l_diversity_report — the k-anonymity gate's sibling audit
# ---------------------------------------------------------------------------

L_MIN = 3  # a QI group is l-diverse when its sensitive attr takes >= L_MIN values
_BAND = 100_000  # sensitive attribute: $1000 balance bands (integer cents)
_SHIFT = 100_000  # acctbal >= -999.99 → cents >= -99999; shift keeps DIV/≫0


@register(
    "customer_l_diversity_report",
    # r8-new: pinned into the R8 window (rotation.R8_NEW)
    oracle=f"""
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               CAST(COUNT(*) AS BIGINT) AS group_size,
               CAST(COUNT(DISTINCT ({cents_sql("c_acctbal")} + {_SHIFT})
                                   // {_BAND}) AS BIGINT) AS l_distinct,
               COUNT(DISTINCT ({cents_sql("c_acctbal")} + {_SHIFT})
                              // {_BAND}) >= {L_MIN} AS is_diverse
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
        ORDER BY nationkey, mktsegment
    """,
    survey_ref="§2C privacy auditing — l-diversity over quasi-identifier "
    "groups (the attack k-anonymity misses: a k-anonymous group whose "
    "sensitive values are all identical still leaks), complementing the "
    "recorded k-anonymity ladder",
    description=f"quasi-identifier = (nation, market segment); sensitive "
    "attribute = $1000 account-balance band from exact integer cents, "
    f"shifted +{_SHIFT} before the integer division so Spark's DIV "
    "(truncate) and DuckDB's // (floor) agree.  One grouped pass: size, "
    f"distinct sensitive values l, and the l >= {L_MIN} verdict per "
    "group — group count is bounded by the QI domain, never the table",
)
def customer_l_diversity_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    band = F.expr(
        f"({cents_sql('c_acctbal')} + {_SHIFT}) DIV {_BAND}"
    )
    return (
        c.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(
            F.count("*").cast("long").alias("group_size"),
            F.countDistinct(band).cast("long").alias("l_distinct"),
        )
        .select(
            "nationkey",
            "mktsegment",
            "group_size",
            "l_distinct",
            (F.col("l_distinct") >= L_MIN).alias("is_diverse"),
        )
        .orderBy("nationkey", "mktsegment")
    )


# ---------------------------------------------------------------------------
# dup_graph_triangles — degree-oriented exact triangle count
# ---------------------------------------------------------------------------


def _triangles_oracle() -> str:
    from sparkroach.queries.llm_ops import (
        _JACC_SQL,
        _JACCARD_TAU,
        _lsh_candidates_cte,
    )

    lsh = _lsh_candidates_cte().strip()
    assert lsh.startswith("WITH ")
    return f"""
        WITH {lsh[len("WITH "):]},
        edges AS (
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT doc_a AS node FROM edges
                UNION ALL SELECT doc_b FROM edges
            ) GROUP BY node
        ),
        oriented AS (
            SELECT CASE WHEN (da.d, e.doc_a) < (db.d, e.doc_b)
                        THEN e.doc_a ELSE e.doc_b END AS u,
                   CASE WHEN (da.d, e.doc_a) < (db.d, e.doc_b)
                        THEN e.doc_b ELSE e.doc_a END AS v,
                   CASE WHEN (da.d, e.doc_a) < (db.d, e.doc_b)
                        THEN db.d ELSE da.d END AS dv
            FROM edges e
            JOIN deg da ON da.node = e.doc_a
            JOIN deg db ON db.node = e.doc_b
        ),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM oriented e1
            JOIN oriented e2
              ON e2.u = e1.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
            JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
            FROM deg
        ),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
        SELECT stats.n_nodes, ne.n_edges, stats.n_wedges, tri.n_triangles,
               CASE WHEN stats.n_wedges = 0 THEN 0.0
                    ELSE CAST(3 * tri.n_triangles AS DOUBLE)
                         / CAST(stats.n_wedges AS DOUBLE) END AS transitivity
        FROM stats, ne, tri
    """


@register(
    "dup_graph_triangles",
    # r8-new: pinned into the R8 window (rotation.R8_NEW)
    oracle=_triangles_oracle(),
    survey_ref="§2C graph statistics — exact triangle count + global "
    "transitivity over the near-dup graph (the density diagnostic that "
    "separates chain-shaped dup clusters from clique-shaped template "
    "floods)",
    description="degree-ordered orientation (each edge points from its "
    "lower-(degree, id) endpoint — the arboricity bound that keeps "
    "per-node out-degree O(sqrt(m)), the classic distributed-triangle "
    "move), then wedges = out-edge pairs per source joined back against "
    "the oriented edge set; every triangle is counted exactly once.  "
    "Wedge totals from the degree table (d·(d−1)/2 exact integers); "
    "transitivity = one IEEE division.  Three equi-join shuffles over "
    "edge-shaped data, never node² — the plan survives 100× because "
    "the LSH cap already bounds per-bucket pair fanout upstream",
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops import _JACCARD_TAU, _verified_pairs

    d = load(spark, sf_dir, "documents")
    edges = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_a", "doc_b")
    )
    return triangle_stats(edges)


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Degree-oriented exact triangle statistics over an undirected edge
    set given as (doc_a, doc_b) with doc_a < doc_b and no duplicates."""
    edges = edges.localCheckpoint(eager=True)  # consumed by deg + orientation
    # one checkpoint scan + map-side explode instead of two union'd scans
    deg = (
        edges.select(F.explode(F.array("doc_a", "doc_b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    e = (
        edges.join(deg.withColumnsRenamed({"node": "doc_a", "d": "da"}), "doc_a")
        .join(deg.withColumnsRenamed({"node": "doc_b", "d": "db"}), "doc_b")
    )
    a_first = F.struct("da", "doc_a") < F.struct("db", "doc_b")
    oriented = e.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("u"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=True)  # consumed three times below
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2")
    )
    wedges = e1.join(e2, "u").where(
        F.struct("dv1", "v1") < F.struct("dv2", "v2")
    )
    tri = wedges.join(
        oriented.withColumnsRenamed({"u": "v1", "v": "v2"}).drop("dv"),
        ["v1", "v2"],
        "left_semi",
    ).agg(F.count("*").cast("long").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        stats.crossJoin(ne)  # 1-row × 1-row bookkeeping joins
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            )
            .alias("transitivity"),
        )
    )


# ---------------------------------------------------------------------------
# bootstrap_mean_ci — deterministic Poisson bootstrap
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _th32_sql(col: str) -> str:
    """DuckDB twin of ``conv(substring(md5(x), 1, 8), 16, 10)``: the
    top 32 bits of an md5 hex digest as an integer."""
    return " + ".join(
        f"(instr('{_HEX}', substring({col}, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )


_B = 32  # resamples
# Poisson(1) inverse-CDF thresholds × 10^6 (literal constants — both
# engines compare the same hashed integer against the same literals;
# weights are capped at 4, P(w>4) ≈ 0.4% of mass folded into w=4)
_POIS = (367879, 735759, 919699, 981012)


def _w_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_POIS[0]} THEN 0 "
        f"WHEN {u} < {_POIS[1]} THEN 1 "
        f"WHEN {u} < {_POIS[2]} THEN 2 "
        f"WHEN {u} < {_POIS[3]} THEN 3 ELSE 4 END"
    )


def _bootstrap_oracle() -> str:
    h = _th32_sql(
        "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))"
    )
    return f"""
        WITH draws AS (
            SELECT d.source, d.n_chars, b.b,
                   {_w_sql(f"(({h}) % 1000000)")} AS w
            FROM documents d JOIN range(0, {_B}) b(b) ON TRUE
        ),
        means AS (
            SELECT source, b,
                   CAST(SUM(w * n_chars) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
                       AS m
            FROM draws GROUP BY source, b
            HAVING SUM(w) > 0
        ),
        ci AS (
            SELECT source, list(m ORDER BY m) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n_resamples
            FROM means GROUP BY source
        ),
        pt AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS mean_len
            FROM documents GROUP BY source
        )
        SELECT pt.source, pt.n_docs, pt.mean_len,
               ci.s[2] AS ci_lo, ci.s[CAST(ci.n_resamples AS INT) - 1] AS ci_hi,
               ci.n_resamples
        FROM pt JOIN ci USING (source)
        ORDER BY pt.source
    """


@register(
    "bootstrap_mean_ci",
    # r8-new: pinned into the R8 window (rotation.R8_NEW)
    oracle=_bootstrap_oracle(),
    survey_ref="§2C resampling inference — Poisson-bootstrap confidence "
    "interval for a per-source mean (the single-pass bootstrap of "
    "Chamandy et al.: per-row independent Poisson(1) weights instead of "
    "a global resample, the only bootstrap that distributes)",
    description=f"each of {_B} resamples weighs every document by a "
    "Poisson(1) draw derived from md5(doc_id:b) against literal "
    "inverse-CDF thresholds — fully deterministic and identical in both "
    "engines; per-(source, b) mean = ONE division of exact integer "
    "sums, the CI picks the 2nd-smallest / 2nd-largest of the 32 "
    "resample means (sorted bounded list per source — bookkeeping-"
    "sized).  One widened scan (×B explode) + one grouped agg: no "
    "global resample shuffle, the whole reason Poisson bootstrap is "
    "the 100 TB formulation",
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    h = (
        "conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
        "CAST(b AS STRING))), 1, 8), 16, 10)"
    )
    u = f"CAST({h} AS BIGINT) % 1000000"
    draws = d.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(_B - 1)))
    ).withColumn("w", F.expr(_w_sql(u)))
    means = (
        draws.groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).alias("sw"),
            F.sum("w").alias("n"),
        )
        .where(F.col("n") > 0)
        .select(
            "source",
            (F.col("sw").cast("double") / F.col("n").cast("double")).alias(
                "m"
            ),
        )
    )
    ci = means.groupBy("source").agg(
        F.array_sort(F.collect_list("m")).alias("s"),
        F.count("*").cast("long").alias("n_resamples"),
    )
    pt = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        (
            F.sum("n_chars").cast("double") / F.count("*").cast("double")
        ).alias("mean_len"),
    )
    return (
        pt.join(ci, "source")
        .select(
            "source",
            "n_docs",
            "mean_len",
            F.expr("element_at(s, 2)").alias("ci_lo"),
            F.expr("element_at(s, CAST(n_resamples AS INT) - 1)").alias(
                "ci_hi"
            ),
            "n_resamples",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# events_zone_map_report — per-file min/max stats and data-skipping
# ---------------------------------------------------------------------------

ZONE_DIR = "/tmp/sparkroach_zone_map"  # fixed path: the oracle reads it
ZONE_FILES = 8
# fixed probe range (epoch µs literals): 2024-02-01 .. 2024-03-01 UTC —
# which files a reader could SKIP for this predicate from footer stats
ZONE_LO = 1706745600000000
ZONE_HI = 1709251200000000

_ZONE_ORACLE = f"""
    WITH pf AS (
        SELECT filename,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(epoch_us(ts)) AS min_us,
               MAX(epoch_us(ts)) AS max_us
        FROM read_parquet('{ZONE_DIR}/*.parquet', filename=true)
        GROUP BY filename
    )
    SELECT CAST(row_number() OVER (ORDER BY min_us, filename) AS BIGINT)
               AS file_rank,
           n_rows, min_us, max_us,
           (max_us < {ZONE_LO} OR min_us >= {ZONE_HI}) AS skippable
    FROM pf ORDER BY file_rank
"""


@register(
    "events_zone_map_report",
    # NOTE (run order): the oracle reads ZONE_DIR, which THIS function
    # writes — the compare harnesses all run the Spark side first
    # (oracle.compare, driver sim, the driver itself).  If a future
    # harness evaluates oracles standalone, run the gate once first.
    oracle=_ZONE_ORACLE,
    survey_ref="§2D physical layout — zone-map / data-skipping report: "
    "per-file min/max statistics of a sort key plus which files a "
    "range predicate could prune without reading them (the footer-"
    "stats story behind partition pruning and Z-ordering, reported as "
    "a table)",
    description=f"events written range-partitioned + sorted on ts into "
    f"{ZONE_FILES} parquet files at a fixed path, then both engines "
    "derive each file's (rows, min, max) — exactly the footer zone "
    "map — and whether the fixed probe range could skip it.  Ranked "
    "by min timestamp (ties by filename; the rank window runs over "
    f"the ≤{ZONE_FILES} per-file aggregate rows, bounded by the "
    "layout constant).  Because the layout is SORTED, skippable "
    "files form contiguous prefixes/suffixes — the measurable claim "
    "behind 'sort your fact tables on the scan key'",
)
def events_zone_map_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    n_rows = ev.count()
    if n_rows < ZONE_FILES:
        raise ValueError(
            f"events_zone_map_report: {n_rows} rows < {ZONE_FILES} files"
        )
    shutil.rmtree(ZONE_DIR, ignore_errors=True)
    (
        ev.repartitionByRange(ZONE_FILES, "ts")
        .sortWithinPartitions("ts")
        .write.parquet(ZONE_DIR)
    )
    back = spark.read.parquet(ZONE_DIR).select(
        F.unix_micros("ts").alias("t"), F.input_file_name().alias("f")
    )
    pf = back.groupBy("f").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("t").alias("min_us"),
        F.max("t").alias("max_us"),
    )
    w = Window.orderBy("min_us", "f")  # over <= ZONE_FILES rows
    return (
        pf.select(
            F.row_number().over(w).cast("long").alias("file_rank"),
            "n_rows",
            "min_us",
            "max_us",
            (
                (F.col("max_us") < ZONE_LO) | (F.col("min_us") >= ZONE_HI)
            ).alias("skippable"),
        )
        .orderBy("file_rank")
        .localCheckpoint()
    )
