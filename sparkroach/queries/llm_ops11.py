"""Round-7 late wave 4: two R8-window candidates (registered, oracle-
green at three SFs, DELEGATED until a driver slot opens next round).

* ``robots_disallow_filter`` — the crawl-compliance pass: apply
  robots.txt allow/disallow rules to a URL frontier with the documented
  longest-match-wins semantics (most specific path prevails; allow wins
  a length tie — the rule Google's robots.txt spec, RFC 9309 §2.2.2,
  standardizes).  Hosts and rules are synthesized deterministically
  (the corpus has no URLs); the matcher itself is generic: broadcast
  the rules table, prefix-join, pick the winner with one window
  argmax.  At 100 TB the rules side is a few MB per million hosts —
  always broadcastable — and the frontier never shuffles.

* ``embedding_power_iteration_pc1`` — the top principal direction of
  the embedding Gram matrix by DISTRIBUTED power iteration, the
  building block of embedding whitening / drift detection / spectral
  probes.  Three iterations, each two grouped aggregations over the
  quantized coordinate matrix (s_i = <q_i, v>, then u_d = Σ_i q_id·s_i)
  — the corpus NEVER moves; only the 64-long direction vector does.
  Everything is integer-exact: coordinates quantized floor(x·2^10)
  (float→double and power-of-two scaling are lossless), per-iteration
  rescale by an integer divisor derived from max|u| (floor division
  spelled out as (a - pmod(a,b)) div b so both engines agree on
  negatives), so the oracle matches bit-for-bit with no float
  summation-order hazard.  Magnitude headroom: |q| ≤ 2^10, dim 64,
  |v| ≤ 2^12 after each rescale → |u| ≤ n·2^10·(64·2^10·2^12) =
  n·2^38; safe in int64 to n ≈ 2^25 vectors per partition-free
  aggregate (Spark 4 ANSI mode turns any overflow into a loud error,
  not a wrap).

Reference parity: none; LLM-training-data surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# robots_disallow_filter
# ---------------------------------------------------------------------------

_N_HOSTS = 50


def _frontier_sql(st: str) -> str:
    """(doc_id) → (host_id, path): the synthesized URL frontier."""
    return (
        f"CAST(doc_id % {_N_HOSTS} AS BIGINT) AS host_id, "
        f"'/cat/' || CAST(doc_id % 40 AS {st}) || '/p' || "
        f"CAST(doc_id % 7 AS {st}) AS path"
    )


def _rules_sql(st: str, hosts_src: str) -> str:
    """Per-host rule table: one disallowed category, one re-allowed
    (LONGER) subpath under it, one more disallowed prefix.  ``hosts_src``
    yields a column h = 0..N_HOSTS-1."""
    return f"""
        SELECT h AS host_id, 'disallow' AS rule,
               '/cat/' || CAST(h % 40 AS {st}) AS rule_path
        FROM {hosts_src}
        UNION ALL
        SELECT h, 'allow',
               '/cat/' || CAST(h % 40 AS {st}) || '/p' ||
               CAST(h % 3 AS {st})
        FROM {hosts_src}
        UNION ALL
        SELECT h, 'disallow',
               '/cat/' || CAST((h + 7) % 40 AS {st}) || '/p'
        FROM {hosts_src}
    """


@register(
    "robots_disallow_filter",
    oracle=f"""
        WITH frontier AS (
            SELECT doc_id, {_frontier_sql("VARCHAR")} FROM documents
        ),
        hosts AS (SELECT unnest(range(0, {_N_HOSTS})) AS h),
        rules AS ({_rules_sql("VARCHAR", "hosts")}),
        matched AS (
            SELECT f.doc_id, f.path, r.rule, r.rule_path,
                   ROW_NUMBER() OVER (
                       PARTITION BY f.doc_id
                       ORDER BY strlen(r.rule_path) DESC,
                                CASE WHEN r.rule = 'allow' THEN 0
                                     ELSE 1 END,
                                r.rule_path
                   ) AS rk
            FROM frontier f
            JOIN rules r
              ON r.host_id = f.host_id
             AND starts_with(f.path, r.rule_path)
        ),
        winner AS (SELECT * FROM matched WHERE rk = 1)
        SELECT f.doc_id,
               COALESCE(w.rule_path, '') AS matched_rule_path,
               CAST(COALESCE(w.rule, 'allow') = 'allow' AS BOOLEAN)
                   AS allowed
        FROM frontier f LEFT JOIN winner w USING (doc_id)
        ORDER BY doc_id
    """,
    survey_ref="LLM ops: robots.txt compliance filter — RFC 9309 "
    "longest-match-wins (allow wins length ties) over a broadcast "
    "rules table; the crawl-compliance pass before any fetch/ingest",
    description=f"a deterministic URL frontier ({_N_HOSTS} hosts) is "
    "filtered against per-host allow/disallow prefix rules with the "
    "spec semantics: ALL matching rules compete, the longest rule path "
    "wins, allow beats disallow on a tie, no match defaults to allow.  "
    "Prefix join + one window argmax per URL; the rules side broadcasts "
    "(a few MB per million hosts) so the frontier never shuffles — the "
    "same plan at 100 TB",
)
def robots_disallow_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    frontier = d.selectExpr("doc_id", *_frontier_sql("STRING").split(", ", 1))
    hosts = spark.range(_N_HOSTS).selectExpr("CAST(id AS BIGINT) AS h")
    hosts.createOrReplaceTempView("_robots_hosts")
    rules = spark.sql(_rules_sql("STRING", "_robots_hosts"))
    from pyspark.sql import Window

    m = frontier.join(
        F.broadcast(rules),
        (frontier["host_id"] == rules["host_id"])
        & F.expr("startswith(path, rule_path)"),
    ).select("doc_id", "path", "rule", "rule_path")
    w = Window.partitionBy("doc_id").orderBy(
        F.length("rule_path").desc(),
        F.when(F.col("rule") == "allow", 0).otherwise(1),
        F.col("rule_path"),
    )
    winner = (
        m.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "rule", "rule_path")
    )
    return (
        frontier.join(winner, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("rule_path"), F.lit("")).alias(
                "matched_rule_path"
            ),
            (F.coalesce(F.col("rule"), F.lit("allow")) == "allow").alias(
                "allowed"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# embedding_power_iteration_pc1
# ---------------------------------------------------------------------------

_PI_Q = 1 << 10  # coordinate quantizer (exact: power of two)
_PI_VSCALE = 1 << 12  # per-iteration rescale target for max|v|
_PI_ITERS = 3
_PI_MAX_N = 1 << 25  # int64 headroom bound (see module docstring)


def _fd_spark(a: str, b: str) -> str:
    """Exact floor division for possibly-negative a (b > 0): subtract the
    non-negative pmod first, then the division is exact — truncation vs
    floor can no longer disagree."""
    return f"((({a}) - pmod(({a}), ({b}))) div ({b}))"


def _fd_duck(a: str, b: str) -> str:
    return f"((({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) // ({b}))"


def _pi_oracle() -> str:
    q = (
        "SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, "
        f"CAST(floor(CAST(x AS DOUBLE) * {_PI_Q}.0) AS BIGINT) AS q "
        "FROM (SELECT vec_id, unnest(embedding) AS x, "
        "unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)"
    )
    ctes = [f"q AS ({q})", "v0 AS (SELECT DISTINCT d, CAST(1 AS BIGINT) AS v FROM q)"]
    for t in range(1, _PI_ITERS + 1):
        p = t - 1
        # CAST(SUM(...) AS BIGINT): DuckDB widens integer SUM to HUGEINT;
        # the int64 headroom argument is the module docstring's, so the
        # narrowing is provably lossless (and would error loudly if not)
        ctes.append(
            f"s{t} AS (SELECT q.vec_id, CAST(SUM(q.q * v{p}.v) AS BIGINT) "
            f"AS s FROM q JOIN v{p} USING (d) GROUP BY q.vec_id)"
        )
        ctes.append(
            f"u{t} AS (SELECT q.d, CAST(SUM(q.q * s{t}.s) AS BIGINT) AS u "
            f"FROM q JOIN s{t} USING (vec_id) GROUP BY q.d)"
        )
        ctes.append(
            f"m{t} AS (SELECT CAST(GREATEST(1, MAX(ABS(u)) // {_PI_VSCALE}) "
            f"AS BIGINT) AS dv FROM u{t})"
        )
        ctes.append(
            f"v{t} AS (SELECT d, CAST({_fd_duck('u', 'dv')} AS BIGINT) AS v "
            f"FROM u{t}, m{t})"
        )
    return (
        "WITH " + ", ".join(ctes) + f" SELECT d AS dim_idx, v AS v_fixed "
        f"FROM v{_PI_ITERS} ORDER BY dim_idx"
    )


@register(
    "embedding_power_iteration_pc1",
    oracle=_pi_oracle(),
    survey_ref="LLM ops: distributed power iteration — top principal "
    "direction of the embedding Gram matrix via two grouped aggregations "
    "per iteration (the corpus never moves, only the 64-long direction "
    "vector does); integer-exact with per-iteration integer rescale",
    description=f"{_PI_ITERS} power-iteration steps over floor(x·2^10)-"
    "quantized coordinates: s_i = <q_i, v> (join on dim, group by "
    "vector), u_d = Σ q_id·s_i (join on vector, group by dim), then an "
    "integer rescale u div greatest(1, max|u| div 2^12) with floor "
    "division spelled as (a - pmod(a,b)) div b so both engines agree on "
    "negatives.  All arithmetic integer — no float summation-order "
    "hazard; ANSI mode turns overflow into a loud error and the "
    "documented headroom holds to ~33M vectors.  At 100 TB each "
    "iteration is one shuffle keyed by dim (64 groups) and one by "
    "vec_id — the classic two-phase matrix-vector product.  ITERS is "
    "the dial: convergence needs log(1/eps)/log(l1/l2) steps, so 3 "
    "suffices only given a spectral gap (the planted-corpus test pins "
    "the math; the stock corpus is near-isotropic and the gate there "
    "pins the arithmetic)",
)
def embedding_power_iteration_pc1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = (
        e.select(
            "vec_id", F.posexplode("embedding").alias("d", "x")
        )
        .select(
            "vec_id",
            F.col("d").cast("long").alias("d"),
            F.expr(
                f"CAST(floor(CAST(x AS DOUBLE) * {_PI_Q}.0D) AS BIGINT)"
            ).alias("q"),
        )
        # consumed twice per iteration across 3 iterations
        .localCheckpoint(eager=True)
    )
    v = q.select("d").distinct().withColumn("v", F.lit(1).cast("long"))
    for _ in range(_PI_ITERS):
        s = (
            q.join(F.broadcast(v), "d")
            .groupBy("vec_id")
            .agg(F.sum(F.col("q") * F.col("v")).alias("s"))
        )
        u = (
            q.join(s, "vec_id")
            .groupBy("d")
            .agg(F.sum(F.col("q") * F.col("s")).alias("u"))
            .localCheckpoint(eager=True)  # reused for max|u| and rescale
        )
        # one bounded scalar to the driver (SCALE.md §9 policy)
        m = u.agg(F.max(F.abs(F.col("u")))).collect()[0][0]
        dv = max(1, int(m) // _PI_VSCALE)
        v = u.select("d", F.expr(_fd_spark("u", str(dv))).alias("v"))
    return v.select(
        F.col("d").alias("dim_idx"), F.col("v").alias("v_fixed")
    ).orderBy("dim_idx")
