"""Analytics breadth, round-4 late wave: ranking-window completeness,
non-parquet source formats, and a key-skew planning report.

- ``events_user_value_ntiles`` — the ranking-window family Spark and
  DuckDB share but no other query here exercised: ntile, percent_rank,
  cume_dist, rank, dense_rank in one pass over a per-user aggregate.
- ``documents_format_roundtrip`` — CSV and JSON as REAL source formats:
  the corpus is written out and read back through each format with an
  explicit schema, then checksummed; the oracle computes the same
  checksums straight from the parquet, so any quoting/escaping/type
  drift in either format pipeline breaks the hash match.  (The corpus is
  verified ASCII ``[a-z0-9 ]`` by the loader-level guard, so the text
  column is format-safe by construction.)
- ``suppkey_skew_report`` — the skew diagnostic that decides salting:
  per-key frequencies of a join key, top keys plus max/mean skew ratio.
  Exactly the report a 100 TB pipeline runs BEFORE picking the
  partitioning strategy that SCALE.md's salted-agg recipe implements.

Reference parity note: the reference's query surface is SQL over
CockroachDB (one format); source-format breadth is part of the
beyond-reference Spark surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkroach.queries.registry import register
from sparkroach.tables import load

N_TILES = 4


@register(
    "events_user_value_ntiles",
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                       AS total_value
            FROM events GROUP BY user_id
        )
        SELECT user_id, total_value,
               CAST(ntile({N_TILES}) OVER w AS BIGINT) AS tile,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM u
        WINDOW w AS (ORDER BY total_value DESC, user_id)
        ORDER BY rnk
    """,
    survey_ref="analytics breadth: ranking-window completeness — ntile / "
    "percent_rank / cume_dist / rank / dense_rank in one window pass "
    "(the remaining ANSI ranking functions no other query exercised)",
    description=f"per-user value totals ranked globally: ntile({N_TILES}) "
    "quartiles, percent_rank ((rank-1)/(n-1)) and cume_dist (peers<=/n) — "
    "each one IEEE division of exact integers, deterministic because the "
    "user_id tiebreak makes the order total (no peer groups).  The window "
    "runs over the per-user AGGREGATE (one row per user), not the event "
    "stream — at 100 TB the global sort input is the user dimension; if "
    "even that is too large, rank within hash ranges and merge offsets "
    "(the distributed top-k generalization)",
)
def events_user_value_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(28,10)"))
        .cast("double")
        .alias("total_value")
    )
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id"))
    return (
        u.select(
            "user_id",
            "total_value",
            F.ntile(N_TILES).over(w).cast("long").alias("tile"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("rnk")
    )


_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_HEX = "0123456789abcdef"
# 32-bit int from the md5 hex prefix, DuckDB side (no hex→int conv())
_TH32_SQL = " + ".join(
    f"(instr('{_HEX}', substring(m, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
    for k in range(8)
)


@register(
    "documents_format_roundtrip",
    oracle=f"""
        WITH md AS (SELECT doc_id, n_chars, lang, md5(text) AS m
                    FROM documents),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(SUM({_TH32_SQL}) AS BIGINT) AS text_hash_sum
            FROM md
        )
        SELECT 'csv' AS format, * FROM s
        UNION ALL
        SELECT 'json' AS format, * FROM s
        ORDER BY format
    """,
    survey_ref="source formats: CSV and JSON read paths — the corpus "
    "written and re-read through each format with an explicit schema, "
    "content-checksummed against the parquet original",
    description="format round-trip gate: documents → CSV (quoted, "
    "whitespace-preserving) and JSON lines → spark.read with the "
    "explicit schema (schema-on-read, never inference — inference is a "
    "full extra pass AND nondeterministic under sampling at 100 TB) → "
    "per-format checksums (row count, id/char sums, distinct langs, "
    "md5-prefix sum over text).  The oracle computes the identical "
    "checksums from parquet, so quoting, escaping, null handling or "
    "type drift in either format pipeline fails the hash match.  "
    "Temp-dir ephemeral, like the streaming gates",
)
def documents_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="sparkroach_fmt_")

    def checksums(df: DataFrame, fmt: str) -> DataFrame:
        th = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(th).cast("long").alias("text_hash_sum"),
        ).select(F.lit(fmt).alias("format"), "*")

    try:
        csv_path = os.path.join(root, "docs_csv")
        # writer defaults TRIM leading/trailing whitespace — disable both
        # so the round trip is byte-faithful, and quote everything so the
        # reader cannot misparse a delimiter-looking payload
        (
            d.write.option("header", True)
            .option("quoteAll", True)
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(csv_path)
        )
        json_path = os.path.join(root, "docs_json")
        d.write.json(json_path)
        from_csv = spark.read.option("header", True).schema(_DOC_SCHEMA).csv(
            csv_path
        )
        from_json = spark.read.schema(_DOC_SCHEMA).json(json_path)
        out = (
            checksums(from_csv, "csv")
            .unionByName(checksums(from_json, "json"))
            .orderBy("format")
        )
        # materialize before the temp dir disappears
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "documents_xml_roundtrip",
    oracle=f"""
        WITH md AS (SELECT doc_id, n_chars, lang, md5(text) AS m
                    FROM documents)
        SELECT 'xml' AS format,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM({_TH32_SQL}) AS BIGINT) AS text_hash_sum
        FROM md
    """,
    survey_ref="source formats — XML (built-in since Spark 4): the corpus "
    "written and re-read through the StAX XML path with an explicit "
    "schema + rowTag, content-checksummed against parquet; completes the "
    "format matrix (parquet/ORC/CSV/JSON/XML)",
    description="XML round-trip gate: documents → one <doc> element per "
    "row → spark.read.format('xml') with the explicit schema (never "
    "inference).  Entity escaping, whitespace handling, or type drift in "
    "the XML pipeline breaks the md5-prefix checksum the oracle computes "
    "from parquet.  Same ephemeral-temp-dir pattern as the CSV/JSON gate",
)
def documents_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="sparkroach_xml_")
    try:
        xml_path = os.path.join(root, "docs_xml")
        (
            d.write.format("xml")
            .option("rootTag", "docs")
            .option("rowTag", "doc")
            .save(xml_path)
        )
        from_xml = (
            spark.read.format("xml")
            .option("rowTag", "doc")
            .schema(_DOC_SCHEMA)
            .load(xml_path)
        )
        th = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        out = from_xml.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(th).cast("long").alias("text_hash_sum"),
        ).select(F.lit("xml").alias("format"), "*")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


SKEW_TOP = 10


@register(
    "suppkey_skew_report",
    oracle=f"""
        WITH kf AS (
            SELECT l_suppkey AS key, COUNT(*) AS freq
            FROM lineitem GROUP BY l_suppkey
        ),
        g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(freq) AS BIGINT) AS total_rows,
                   CAST(MAX(freq) AS BIGINT) AS max_freq
            FROM kf
        ),
        r AS (
            SELECT key, CAST(freq AS BIGINT) AS freq,
                   row_number() OVER (ORDER BY freq DESC, key) AS rank
            FROM kf
        )
        SELECT r.key, r.freq, r.rank, g.n_keys, g.total_rows, g.max_freq,
               CAST(g.max_freq * g.n_keys AS DOUBLE)
               / CAST(g.total_rows AS DOUBLE) AS skew_ratio
        FROM r CROSS JOIN g
        WHERE r.rank <= {SKEW_TOP}
        ORDER BY r.rank
    """,
    survey_ref="analytics/scale tooling: join-key skew report — per-key "
    "frequencies, heaviest keys, max/mean skew ratio (the diagnostic "
    "that decides between plain hash join, broadcast, and salting)",
    description=f"top {SKEW_TOP} heaviest l_suppkey values with the "
    "global skew ratio (max_freq / mean_freq, computed as "
    "max·n_keys/total — exact integers, one IEEE division).  One grouped "
    "count (map-side combined) + a global top-N via orderBy().limit() "
    "(TakeOrderedAndProject — per-partition heaps, never a rank window "
    "that would serialize the full key dimension through one task); the "
    "rank window runs only over the literal-bounded ≤SKEW_TOP survivors "
    "and the 1-row global joins by broadcast.  This is the "
    "operator you run before enabling the salted-aggregation recipe "
    "(events_salted_type_counts) or AQE skew-join on a new key",
)
def suppkey_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    kf = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count("*").alias("freq")
    )
    g = kf.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("freq").cast("long").alias("total_rows"),
        F.max("freq").cast("long").alias("max_freq"),
    )
    # Top-N first (TakeOrderedAndProject — distributed heaps), THEN the
    # rank window over the literal-bounded ≤SKEW_TOP survivors.  A rank
    # window over the full key dimension cannot push the top-k down and
    # would move every key to a single WindowExec task at scale.
    top = (
        kf.select("key", F.col("freq").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), "key")
        .limit(SKEW_TOP)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("key"))
    r = top.withColumn("rank", F.row_number().over(w))
    return (
        r.crossJoin(F.broadcast(g))
        .select(
            "key",
            "freq",
            "rank",
            "n_keys",
            "total_rows",
            "max_freq",
            (
                (F.col("max_freq") * F.col("n_keys")).cast("double")
                / F.col("total_rows").cast("double")
            ).alias("skew_ratio"),
        )
        .orderBy("rank")
    )
