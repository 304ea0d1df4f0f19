"""Round-7 late wave 7: three more R8-window candidates — pipeline
*governance* operators (evaluating and budgeting the corpus passes the
earlier waves built), all integer-exact cross-engine.

* ``quality_rater_kappa`` — Cohen's kappa between two keep/drop raters
  (the hashing-trick linear scorer vs a length gate).  Filter ensembles
  are standard corpus practice; raw agreement overstates consensus when
  base rates are skewed, and kappa is the chance-corrected number a
  pipeline report should carry.  All contingency arithmetic is integer;
  kappa itself is ONE IEEE division of two exactly-computed integers.

* ``source_budget_apportion`` — Hamilton largest-remainder apportionment
  of a fixed sampling budget across sources: the exact integer method
  electoral systems use, applied to "give me exactly B documents,
  proportionally by source".  floor quotas by integer division, the
  L leftover seats to the L largest remainders (source-name tie-break),
  Σ quota == B exactly — no float rounding drift ever.

* ``tokenizer_fertility_report`` — per-language tokenizer fertility
  (BPE-ish pieces per whitespace word) and bytes per piece: THE
  multilingual tokenizer-budget metric (fertility >> 1 for a language
  means the tokenizer fragments it and its effective context shrinks).
  Reuses the recorded BPE-piece regex; sums are integers, the two
  ratios are final-step divisions.

Reference parity: none; LLM-training-data surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.llm_ops import _BPE_PAT
from sparkroach.queries.registry import register
from sparkroach.tables import load

_HEX = "0123456789abcdef"


def _th32_sql(col: str) -> str:
    return " + ".join(
        f"(instr('{_HEX}', substring({col}, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )


# ---------------------------------------------------------------------------
# quality_rater_kappa
# ---------------------------------------------------------------------------

_K_SALT = "qw1"  # the linear-scorer salt (llm_ops9), reused deliberately
_K_RANGE = 2001
_K_LEN_KEEP = 56  # words; the corpus median → a balanced second rater


@register(
    "quality_rater_kappa",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        a AS (
            SELECT doc_id,
                   CAST(SUM(({_th32_sql(f"md5('{_K_SALT}' || tok)")})
                            % {_K_RANGE} - 1000) AS BIGINT) AS wsum,
                   COUNT(*) AS n_tok
            FROM toks GROUP BY doc_id
        ),
        rated AS (
            SELECT doc_id,
                   CAST(wsum >= 0 AS INTEGER) AS ra,
                   CAST(n_tok >= {_K_LEN_KEEP} AS INTEGER) AS rb
            FROM a
        ),
        cell AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(ra * rb) AS BIGINT) AS n11,
                   CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
                   CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
                   CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
            FROM rated
        )
        SELECT n, n11, n10, n01, n00,
               CAST(n * (n11 + n00)
                    - ((n11 + n10) * (n11 + n01)
                       + (n01 + n00) * (n10 + n00)) AS DOUBLE)
               / CAST(n * n
                      - ((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00)) AS DOUBLE) AS kappa
        FROM cell
    """,
    survey_ref="LLM ops: filter-ensemble agreement — Cohen's kappa "
    "between two keep/drop raters (chance-corrected; raw agreement "
    "overstates consensus under skewed base rates)",
    description="rater A keeps docs with non-negative hashed-weight "
    f"sum (the llm_ops9 linear scorer at threshold 0); rater B keeps "
    f"docs of ≥ {_K_LEN_KEEP} words (the corpus median).  The 2×2 "
    "contingency is four integer sums; kappa = (n·agree − Σ marginal "
    "products) / (n² − Σ marginal products) — two exactly-computed "
    "integers, ONE IEEE division.  One explode + two grouped aggs; "
    "at 100 TB this is a map-side-combinable pass with a single-row "
    "output",
)
def quality_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    w = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(_K_SALT), F.col("tok"))), 1, 8
                ),
                16,
                10,
            ).cast("long"),
            F.lit(_K_RANGE),
        )
        - 1000
    )
    a = toks.select("doc_id", w.alias("w")).groupBy("doc_id").agg(
        F.sum("w").cast("long").alias("wsum"),
        F.count("*").alias("n_tok"),
    )
    rated = a.select(
        (F.col("wsum") >= 0).cast("int").alias("ra"),
        (F.col("n_tok") >= _K_LEN_KEEP).cast("int").alias("rb"),
    )
    cell = rated.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("long").alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("long").alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb")))
        .cast("long")
        .alias("n00"),
    )
    pe = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    return cell.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        (
            (F.col("n") * (F.col("n11") + F.col("n00")) - pe).cast("double")
            / (F.col("n") * F.col("n") - pe).cast("double")
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# source_budget_apportion
# ---------------------------------------------------------------------------

_APPORTION_BUDGET = 1000


@register(
    "source_budget_apportion",
    oracle=f"""
        WITH c AS (
            SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        ),
        t AS (SELECT SUM(n_docs) AS total FROM c),
        q AS (
            SELECT c.source, c.n_docs,
                   ({_APPORTION_BUDGET} * c.n_docs) // t.total AS base,
                   ({_APPORTION_BUDGET} * c.n_docs) % t.total AS rem
            FROM c, t
        ),
        l AS (
            SELECT {_APPORTION_BUDGET} - SUM(base) AS leftover FROM q
        ),
        r AS (
            SELECT source, n_docs, base, rem,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM q
        )
        SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
               CAST(r.base AS BIGINT) AS quota_base,
               CAST(r.base + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS quota
        FROM r, l
        ORDER BY r.source
    """,
    survey_ref="LLM ops: proportional sampling-budget apportionment — "
    "Hamilton largest-remainder method; 'exactly B docs, proportional "
    "by source' with zero float-rounding drift (Σ quota == B exactly)",
    description=f"per-source floor quotas (B·n div total) leave "
    f"L = B − Σ floors leftover units; the L largest remainders "
    "(source-name tie-break) each get one more.  Grouped count + two "
    "broadcast scalars + one window rank over a table bounded by "
    "source cardinality (thousands of rows at 100 TB, never corpus "
    f"rows).  B = {_APPORTION_BUDGET}; the method is exact for any B",
)
def source_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    t = c.agg(F.sum("n_docs").alias("total"))
    q = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.expr(f"({_APPORTION_BUDGET} * n_docs) div total").alias("base"),
        F.expr(f"({_APPORTION_BUDGET} * n_docs) % total").alias("rem"),
    )
    leftover = q.agg(
        (F.lit(_APPORTION_BUDGET) - F.sum("base")).alias("leftover")
    )
    r = q.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("source"))
        ),
    )
    return (
        r.crossJoin(F.broadcast(leftover))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("base").cast("long").alias("quota_base"),
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# tokenizer_fertility_report
# ---------------------------------------------------------------------------


@register(
    "tokenizer_fertility_report",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '{_BPE_PAT}')))
                    AS BIGINT) AS n_pieces,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
               CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
               CAST(SUM(len(regexp_extract_all(text, '{_BPE_PAT}')))
                    AS DOUBLE)
                   / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                   AS fertility,
               CAST(SUM(strlen(text)) AS DOUBLE)
                   / CAST(SUM(len(regexp_extract_all(text, '{_BPE_PAT}')))
                          AS DOUBLE) AS bytes_per_piece
        FROM documents
        GROUP BY lang ORDER BY lang
    """,
    survey_ref="LLM ops: tokenizer fertility by language — BPE-ish "
    "pieces per whitespace word + bytes per piece; the multilingual "
    "tokenizer-budget metric (high fertility = fragmented language = "
    "shrunken effective context)",
    description="per-language integer sums of piece counts (the "
    "recorded BPE-piece regex), whitespace words, and text bytes; "
    "fertility = pieces/words and bytes_per_piece = bytes/pieces as "
    "final-step divisions of exact integers.  Map-only scan + one "
    "grouped agg keyed by lang (a handful of groups at any scale)",
)
def tokenizer_fertility_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.regexp_count(F.col("text"), F.lit(_BPE_PAT)).alias("pieces"),
        F.size(F.split("text", " ")).alias("words"),
        F.octet_length("text").alias("bytes"),
    )
    agg = per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("pieces").cast("long").alias("n_pieces"),
        F.sum("words").cast("long").alias("n_words"),
        F.sum("bytes").cast("long").alias("n_bytes"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_pieces",
        "n_words",
        "n_bytes",
        (
            F.col("n_pieces").cast("double") / F.col("n_words").cast("double")
        ).alias("fertility"),
        (
            F.col("n_bytes").cast("double") / F.col("n_pieces").cast("double")
        ).alias("bytes_per_piece"),
    ).orderBy("lang")
