"""Round-4 continuation (wave 10): the AS-OF join, engine-native
recursive CTEs, the grouped-map ``applyInPandas`` lane, and
sorted-neighborhood dedup blocking.

- ``events_click_purchase_asof``: the AS-OF (most-recent-prior) join —
  every click matched to the SAME user's latest purchase at-or-before
  the click.  Spark has no ASOF JOIN operator; the scalable expression
  is the classic union-tagged merge: purchases and clicks are unioned
  into one per-user timeline (purchases ordered first at equal
  timestamps so the match is inclusive), and ``last(_, ignorenulls)``
  over a running row frame carries the most recent purchase forward to
  each click.  ONE shuffle on user_id, no range join, no per-key
  collect — the plan a 100 TB as-of enrichment needs.  The oracle is
  DuckDB's NATIVE ``ASOF LEFT JOIN``, an independent implementation of
  the same semantics, so the gate cross-checks two genuinely different
  algorithms.  Ties among purchases at one (user, ts) are collapsed to
  the max event_id on both sides first (native ASOF leaves that tie
  unspecified).

- ``dup_graph_recursive_cte``: Spark 4's engine-native ``WITH
  RECURSIVE`` computing a BFS over the verified near-dup graph:
  shortest-hop distance from cluster-root docs through verified near-dup
  edges.  Spark's recursion currently supports only UNION ALL (no
  per-step frontier dedup), so revisits re-expand until the depth guard
  stops them — fine on near-dup graphs whose components are small (ours
  are), while an anti-join driver loop is the shape for high-degree
  graphs at 100 TB; this gate's job is to exercise the UnionLoop
  execution path and pin it to the DuckDB recursive-CTE oracle.

- ``events_user_trend_grouped_map``: per-user OLS trend slope of
  event value (in exact integer cents) against the per-user event
  rank, computed in the grouped-map ``applyInPandas`` lane — the one
  pandas lane not yet exercised (scalar pandas_udf, GROUPED_AGG,
  mapInPandas, mapInArrow, applyInPandasWithState all are).  The
  group's rows land in one pandas frame (bounded here by the per-user
  event count; the lane's documented contract is "group fits in
  memory"), and the slope's numerator/denominator are Python-int
  exact: num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)², slope = num/den as
  ONE IEEE division (exact while |num| < 2^53 — ~5e10 here).

- ``docs_sorted_neighborhood_pairs``: the third dedup blocking
  strategy next to LSH bands and PPJoin prefix filtering —
  sorted-neighborhood (SNM): docs sorted within a 4-char-prefix block,
  candidates = each doc with its next {SNM_WINDOW - 1} neighbors in
  block order, verified with exact distinct-word Jaccard.  Windowed
  lead() per block key: no self-join, candidate count ≤
  (w−1)·n by construction at any corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.llm_ops import (
    _JACCARD_TAU,
    _lsh_candidates_cte,
    _verified_pairs,
)
from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# AS-OF join: click -> most recent prior-or-equal purchase per user
# ---------------------------------------------------------------------------


@register(
    "events_click_purchase_asof",
    bench=True,  # flagship wave-10 operator: the scalable merge-asof plan
    oracle="""
        WITH p0 AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS p_us, value,
                           row_number() OVER (PARTITION BY user_id, ts
                                              ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'purchase'),
        p AS (SELECT user_id, p_us, value FROM p0 WHERE rn = 1),
        c AS (SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS c_us
              FROM events WHERE event_type = 'click')
        SELECT c.event_id AS click_id, c.user_id, c.c_us AS click_us,
               p.p_us AS purchase_us, p.value AS purchase_value,
               CAST(c.c_us - p.p_us AS BIGINT) AS wait_us
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.c_us >= p.p_us
        ORDER BY click_id
    """,
    survey_ref="§2C joins — AS-OF join (most recent prior match): Spark "
    "expression is the union-tagged timeline + last(ignorenulls) running "
    "window; oracle is DuckDB's NATIVE ASOF LEFT JOIN, an independent "
    "implementation of the same semantics",
    description="every click joined to the same user's most recent "
    "purchase at-or-before the click (inclusive tie: purchase sorts "
    "before click at equal ts), null-extended when no purchase precedes. "
    "One user_id shuffle, running row frame — no range join, no per-key "
    "collect. Purchases tied on (user, ts) collapse to max event_id on "
    "both sides first",
)
def events_click_purchase_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("t"),
    )
    wp = Window.partitionBy("user_id", "t").orderBy(F.desc("event_id"))
    p = (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "t",
            F.lit(1).alias("is_p"),
            F.col("t").alias("p_t"),
            F.col("value").alias("p_val"),
            F.lit(None).cast("long").alias("click_id"),
        )
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "t",
        F.lit(0).alias("is_p"),
        F.lit(None).cast("long").alias("p_t"),
        F.lit(None).cast("double").alias("p_val"),
        F.col("event_id").alias("click_id"),
    )
    # purchases first at equal ts: the ASOF match is inclusive (>=)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t"), F.desc("is_p"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        p.unionByName(c)
        .select(
            "click_id",
            "user_id",
            "is_p",
            F.col("t"),
            F.last("p_t", ignorenulls=True).over(w).alias("purchase_us"),
            F.last("p_val", ignorenulls=True).over(w).alias("purchase_value"),
        )
        .where(F.col("is_p") == 0)
        .select(
            "click_id",
            "user_id",
            F.col("t").alias("click_us"),
            "purchase_us",
            "purchase_value",
            (F.col("t") - F.col("purchase_us")).cast("long").alias("wait_us"),
        )
        .orderBy("click_id")
    )


# ---------------------------------------------------------------------------
# engine-native recursive CTE: BFS over the verified near-dup graph
# ---------------------------------------------------------------------------

BFS_MAX_DEPTH = 4

# integer cross-multiplied Jaccard threshold (inter*10 >= 8*union is
# exactly jaccard >= 0.8 — no float literal crosses the engine boundary)
_TAU_NUM = int(_JACCARD_TAU * 10)


def _dup_edges_and_seeds(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Undirected verified-pair edges + root seeds (docs never appearing
    as doc_b in a verified pair: no smaller-id dup dominates them)."""
    ver = (
        _verified_pairs(d)
        .where(F.col("inter") * 10 >= _TAU_NUM * F.col("uni"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    fwd = ver.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    rev = ver.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    edges = fwd.unionByName(rev)
    nodes = edges.select(F.col("u").alias("node")).distinct()
    dominated = ver.select(F.col("doc_b").alias("node")).distinct()
    seeds = nodes.join(dominated, "node", "left_anti")
    return edges, seeds


def _bfs_oracle() -> str:
    # WITH RECURSIVE prefixes the whole CTE list; the non-recursive
    # signature/band/candidate chain rides along unchanged
    cte = _lsh_candidates_cte().replace("WITH w AS", "WITH RECURSIVE w AS", 1)
    return f"""
        {cte},
        ver AS MATERIALIZED (
            SELECT c.doc_a, c.doc_b
            FROM cand c JOIN shing sa ON sa.doc_id = c.doc_a
                        JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) * 10
                  >= {_TAU_NUM} * (len(sa.shingles) + len(sb.shingles)
                      - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))))
        ),
        und AS (SELECT doc_a AS u, doc_b AS v FROM ver
                UNION ALL SELECT doc_b, doc_a FROM ver),
        seeds AS (SELECT DISTINCT u AS node FROM und
                  WHERE u NOT IN (SELECT doc_b FROM ver)),
        walk(node, dist) AS (
            SELECT node, 0 FROM seeds
            UNION
            SELECT und.v, walk.dist + 1
            FROM walk JOIN und ON und.u = walk.node
            WHERE walk.dist < {BFS_MAX_DEPTH}
        )
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        FROM walk GROUP BY node ORDER BY node
    """


@register(
    "dup_graph_recursive_cte",
    oracle=_bfs_oracle(),
    survey_ref="§2C SQL surface — WITH RECURSIVE (Spark 4 engine-native "
    "recursion, UnionLoop execution): BFS over the verified near-dup "
    "graph",
    description=f"shortest-hop distance (<= {BFS_MAX_DEPTH}) from "
    "cluster-root docs through verified near-dup edges, computed by "
    "Spark's native WITH RECURSIVE instead of a driver loop. Spark "
    "recursion is UNION ALL-only (no per-step frontier dedup), so the "
    "depth guard bounds revisits and the final GROUP BY MIN collapses "
    "them — exact on small-component dup graphs; an anti-join driver "
    "loop is the high-degree-graph shape",
)
def dup_graph_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    edges, seeds = _dup_edges_and_seeds(d)
    edges.createOrReplaceTempView("rcte_dup_edges")
    seeds.createOrReplaceTempView("rcte_dup_seeds")
    return spark.sql(
        f"""
        WITH RECURSIVE walk(node, dist) AS (
            SELECT node, CAST(0 AS BIGINT) AS dist FROM rcte_dup_seeds
            UNION ALL
            SELECT e.v AS node, w.dist + CAST(1 AS BIGINT) AS dist
            FROM walk w JOIN rcte_dup_edges e ON e.u = w.node
            WHERE w.dist < {BFS_MAX_DEPTH}
        )
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        FROM walk GROUP BY node ORDER BY node
        """
    )


# ---------------------------------------------------------------------------
# grouped-map applyInPandas: per-user OLS trend slope, integer-exact
# ---------------------------------------------------------------------------

_TREND_SCHEMA = (
    "user_id bigint, n_events bigint, slope_num bigint, "
    "slope_den bigint, slope double"
)


def _ols_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["t_us", "event_id"])
    ys = [int(v) for v in pdf["cents"]]
    n = len(ys)
    sx = n * (n - 1) // 2
    sxx = (n - 1) * n * (2 * n - 1) // 6
    sy = sum(ys)
    sxy = sum(x * y for x, y in enumerate(ys))
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = float(num) / float(den) if den else None
    return pd.DataFrame(
        [[int(pdf["user_id"].iloc[0]), n, num, den, slope]],
        columns=["user_id", "n_events", "slope_num", "slope_den", "slope"],
    )


@register(
    "events_user_trend_grouped_map",
    oracle="""
        WITH e AS (SELECT user_id,
                          CAST(floor(value * 100) AS BIGINT) AS y,
                          row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts::TIMESTAMP), event_id)
                              - 1 AS x
                   FROM events),
        s AS (SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(x * y) AS sxy, SUM(x * x) AS sxx
              FROM e GROUP BY user_id)
        SELECT user_id,
               CAST(n AS BIGINT) AS n_events,
               CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
               CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
               END AS slope
        FROM s ORDER BY user_id
    """,
    survey_ref="§2C UDF lanes — grouped-map applyInPandas: per-group "
    "pandas computation (the remaining pandas lane); per-user OLS slope "
    "with Python-int-exact numerator/denominator",
    description="per-user OLS trend of value-cents against event rank "
    "via applyInPandas grouped map: y = floor(value*100) (one IEEE "
    "multiply, identical in both engines), x = 0-based rank by (ts, "
    "event_id); slope_num = n*Sxy - Sx*Sy and slope_den = n*Sxx - Sx^2 "
    "are exact integers (Python int on the Spark side, HUGEINT in "
    "DuckDB), slope is their single IEEE division (exact while "
    "|num| < 2^53; ~5e10 at sf0.1). Single-event users report "
    "den = 0 -> NULL slope",
)
def events_user_trend_grouped_map(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        e.groupBy("user_id")
        .applyInPandas(_ols_group, _TREND_SCHEMA)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking + exact word-Jaccard verify
# ---------------------------------------------------------------------------

SNM_PREFIX = 4
SNM_WINDOW = 3  # each doc pairs with its next (SNM_WINDOW - 1) neighbors


@register(
    "docs_sorted_neighborhood_pairs",
    oracle=f"""
        WITH k AS (SELECT doc_id, text,
                          substring(text, 1, {SNM_PREFIX}) AS block
                   FROM documents),
        r AS (SELECT doc_id, block,
                     lead(doc_id, 1) OVER w AS n1,
                     lead(doc_id, 2) OVER w AS n2
              FROM k
              WINDOW w AS (PARTITION BY block ORDER BY text, doc_id)),
        pairs AS (
            SELECT block, doc_id AS doc_a, n1 AS doc_b, 1 AS gap
            FROM r WHERE n1 IS NOT NULL
            UNION ALL
            SELECT block, doc_id, n2, 2 FROM r WHERE n2 IS NOT NULL),
        wrd AS (SELECT DISTINCT doc_id,
                       unnest(string_split(text, ' ')) AS w
                FROM documents),
        nw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM wrd GROUP BY doc_id),
        i AS (SELECT p.block, p.doc_a, p.doc_b, p.gap,
                     CAST(COUNT(wb.w) AS BIGINT) AS inter
              FROM pairs p
              JOIN wrd wa ON wa.doc_id = p.doc_a
              LEFT JOIN wrd wb ON wb.doc_id = p.doc_b AND wb.w = wa.w
              GROUP BY 1, 2, 3, 4)
        SELECT i.block, i.doc_a, i.doc_b, CAST(i.gap AS BIGINT) AS gap,
               i.inter, na.n + nb.n - i.inter AS uni,
               CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter)
                   AS jaccard
        FROM i JOIN nw na ON na.doc_id = i.doc_a
               JOIN nw nb ON nb.doc_id = i.doc_b
        ORDER BY block, doc_a, gap
    """,
    survey_ref="§2C dedup — sorted-neighborhood blocking (SNM): the "
    "third candidate-generation strategy next to LSH bands and PPJoin "
    "prefix filtering; windowed lead() per block, candidates bounded by "
    "(w-1)*n at any corpus size",
    description=f"docs sorted by text within {SNM_PREFIX}-char-prefix "
    f"blocks; candidates = each doc with its next {SNM_WINDOW - 1} "
    "neighbors in block order (lead per block key — no self-join), "
    "verified with exact distinct-word Jaccard (integer inter/union, "
    "one IEEE division). Zero-overlap candidates are kept: the report "
    "shows what the blocking strategy proposes, not just what survives",
)
def docs_sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    k = d.withColumn("block", F.substring("text", 1, SNM_PREFIX))
    w = Window.partitionBy("block").orderBy("text", "doc_id")
    r = k.select(
        "doc_id",
        "block",
        *[
            F.lead("doc_id", g).over(w).alias(f"n{g}")
            for g in range(1, SNM_WINDOW)
        ],
    )
    pairs = None
    for g in range(1, SNM_WINDOW):
        pg = r.where(F.col(f"n{g}").isNotNull()).select(
            "block",
            F.col("doc_id").alias("doc_a"),
            F.col(f"n{g}").alias("doc_b"),
            F.lit(g).cast("long").alias("gap"),
        )
        pairs = pg if pairs is None else pairs.unionByName(pg)
    wrd = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds wa, wb, and the count side
    )
    nw = wrd.groupBy("doc_id").agg(F.count("*").alias("n"))
    wa = wrd.select(F.col("doc_id").alias("doc_a"), "w")
    wb = wrd.select(
        F.col("doc_id").alias("wb_doc"), F.col("w").alias("wb_w")
    )
    inter = (
        pairs.join(wa, "doc_a")
        .join(
            wb,
            (F.col("doc_b") == F.col("wb_doc")) & (F.col("w") == F.col("wb_w")),
            "left",
        )
        .groupBy("block", "doc_a", "doc_b", "gap")
        .agg(F.count("wb_w").alias("inter"))
    )
    na = nw.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = nw.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    uni = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "block",
            "doc_a",
            "doc_b",
            "gap",
            F.col("inter").cast("long").alias("inter"),
            uni.cast("long").alias("uni"),
            (F.col("inter").cast("double") / uni).alias("jaccard"),
        )
        .orderBy("block", "doc_a", "gap")
    )
