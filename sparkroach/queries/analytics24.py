"""Round-7 late wave: Avro OCF and WARC as REAL source/sink lanes.

Closes the two format gaps a 100 TB training-data pipeline actually
hits:

- ``documents_avro_roundtrip`` / ``embeddings_avro_roundtrip`` — the r6
  verdict listed Avro as environment-blocked (the `spark-avro` jar is
  not shipped).  `sources/avro_ocf.py` re-implements the Object
  Container File format from the public Avro 1.11 spec (zigzag varints,
  deflate codec, block framing, 2-branch null unions, arrays) behind
  the PySpark 4 Python DataSource API, so ``spark.read.format(
  "sparkroach_avro")`` / ``df.write.format("sparkroach_avro")`` are a
  real engine surface.  The documents gate exercises strings +
  nullable-union + the deflate AND null codecs + metadata-driven schema
  inference; the embeddings gate exercises ``array<float>`` + nullable
  int + multi-block framing.
- ``documents_warc_ingest`` — WARC 1.0 with per-record gzip members is
  the Common Crawl layout, i.e. the on-disk shape of the largest public
  text corpus.  `functions/warc.py` implements the record grammar from
  ISO 28500; the corpus is exported as real ``.warc.gz`` shards through
  the generic binary-file sink (`sources/binfiles.py` — the write-side
  complement of ``binaryFile``), re-ingested file-parallel via
  ``binaryFile`` + a thin ``mapInPandas`` parser, and checksummed
  (URIs, payload bytes, Content-Length accounting) against a pure-SQL
  oracle over the original parquet.

All three follow the format-roundtrip gate pattern (analytics10):
ephemeral temp dir, explicit schemas, md5-prefix checksums computed
identically on both engines, ``localCheckpoint`` before the dir is
removed.

Scale: Avro read is one InputPartition per file (driver lists names
only); WARC parse is file-parallel with no shuffle before the final
aggregate — the natural Common-Crawl partitioning (~70k independent
files at 100 TB).  The synthetic shard count is 8; at scale the same
plan runs with one shard per task.

Reference parity: the reference consumes exactly one wire format; the
format matrix (parquet/ORC/CSV/JSON/XML/text/binaryFile/Avro/WARC) is
beyond-reference Spark surface (SURVEY.md §2 source formats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

_HEX = "0123456789abcdef"


def _th32_sql(col: str) -> str:
    """DuckDB: 32-bit int from an md5-hex column's first 8 chars (the
    shared cross-engine hash idiom; Spark twin is conv(substring,16,10))."""
    return " + ".join(
        f"(instr('{_HEX}', substring({col}, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )


def _th32(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# documents_avro_roundtrip — strings, nullable union, both codecs
# ---------------------------------------------------------------------------


@register(
    "documents_avro_roundtrip",
    oracle=f"""
        WITH md AS (
            SELECT doc_id, n_chars, lang, md5(text) AS m,
                   nullif(lang, 'en') AS lang_alt
            FROM documents
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(SUM({_th32_sql('m')}) AS BIGINT) AS text_hash_sum,
                   CAST(SUM(CASE WHEN lang_alt IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null_alt
            FROM md
        )
        SELECT 'avro_bzip2' AS format, * FROM s
        UNION ALL
        SELECT 'avro_deflate' AS format, * FROM s
        UNION ALL
        SELECT 'avro_null' AS format, * FROM s
        UNION ALL
        SELECT 'avro_xz' AS format, * FROM s
        ORDER BY format
    """,
    survey_ref="source formats: Avro Object Container Files — from-scratch "
    "spec codec (zigzag varints, deflate, block framing, null unions) "
    "behind the Python DataSource API; closes the r6 'environment-blocked "
    "Avro' gap with a real read/write surface",
    description="Avro round-trip gate: documents + a genuinely-null column "
    "(nullif(lang,'en') exercises the ['null',T] union branch indices) "
    "written through df.write.format('sparkroach_avro') under all FOUR "
    "stdlib-expressible container codecs (null/deflate/bzip2/xz — 4 of "
    "the spec's 6; snappy/zstandard rejected loudly) and read back "
    "WITHOUT an explicit schema — the read "
    "schema comes from the first file's OCF metadata (a bounded header "
    "read, never a data scan).  Checksums (row count, id/char sums, "
    "distinct langs, md5-prefix text sum, null count) must match the "
    "oracle's parquet-derived values bit-for-bit, so any varint, union-"
    "index, utf-8 length, deflate or sync-framing defect fails the hash",
)
def documents_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sparkroach.sources.avro_ocf import register_avro_source

    register_avro_source(spark)
    d = load(spark, sf_dir, "documents").withColumn(
        "lang_alt", F.expr("nullif(lang, 'en')")
    )
    root = tempfile.mkdtemp(prefix="sparkroach_avro_")

    def checksums(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(_th32("text")).cast("long").alias("text_hash_sum"),
            F.sum(F.when(F.col("lang_alt").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_alt"),
        ).select(F.lit(fmt).alias("format"), "*")

    try:
        out = None
        for codec in ("bzip2", "deflate", "null", "xz"):
            path = os.path.join(root, f"docs_{codec}")
            (
                d.write.format("sparkroach_avro")
                .option("codec", codec)
                .mode("append")
                .save(path)
            )
            back = spark.read.format("sparkroach_avro").load(path)
            cs = checksums(back, f"avro_{codec}")
            out = cs if out is None else out.unionByName(cs)
        return out.orderBy("format").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# embeddings_avro_roundtrip — array<float>, nullable int, multi-block files
# ---------------------------------------------------------------------------

# power-of-two quantizer: float→double promotion and *2^20 are both exact,
# so floor() agrees bit-for-bit across engines (the same discipline as the
# ANN gates' fixed-point scoring)
_Q = 1 << 20


@register(
    "embeddings_avro_roundtrip",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
               CAST(SUM(len(embedding)) AS BIGINT) AS sum_dims,
               CAST(SUM(list_sum(list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_Q}.0)
                             AS BIGINT)))) AS BIGINT) AS emb_q20_sum,
               CAST(SUM(CASE WHEN nullif(label, 0) IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null_labels,
               CAST(SUM(nullif(label, 0)) AS BIGINT) AS sum_label_alt
        FROM embeddings
    """,
    survey_ref="source formats: Avro — array<float> embedding columns and "
    "multi-block container framing through the same from-scratch OCF "
    "codec (the embedding-corpus export/exchange case)",
    description=f"Avro round-trip over the embeddings table: array<float> "
    "(spec block-encoded arrays), a genuinely-null int column "
    "(nullif(label,0)), and block_records=100 forcing multiple "
    "count/size/sync frames per file under the uncompressed codec.  "
    f"Vector payload checksummed by SUM(floor(x*2^20)) — exact in both "
    "engines because float→double and power-of-two scaling are lossless "
    "— so one wrong IEEE byte in any element fails the gate",
)
def embeddings_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sparkroach.sources.avro_ocf import register_avro_source

    register_avro_source(spark)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.expr("nullif(label, 0)").alias("label_alt")
    )
    root = tempfile.mkdtemp(prefix="sparkroach_avro_emb_")
    try:
        path = os.path.join(root, "emb_avro")
        (
            e.write.format("sparkroach_avro")
            .option("codec", "null")
            .option("block_records", "100")
            .mode("append")
            .save(path)
        )
        back = spark.read.format("sparkroach_avro").load(path)
        qsum = F.expr(
            f"aggregate(embedding, 0L, (acc, x) -> "
            f"acc + CAST(floor(CAST(x AS DOUBLE) * {_Q}.0D) AS BIGINT))"
        )
        out = back.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
            F.sum(F.size("embedding")).cast("long").alias("sum_dims"),
            F.sum(qsum).cast("long").alias("emb_q20_sum"),
            F.sum(F.when(F.col("label_alt").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_labels"),
            F.sum("label_alt").cast("long").alias("sum_label_alt"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# documents_avro_schema_evolution — mixed writer generations, one reader
# ---------------------------------------------------------------------------


@register(
    "documents_avro_schema_evolution",
    oracle=f"""
        WITH md AS (
            SELECT doc_id, md5(text) AS m, lang,
                   CASE WHEN doc_id % 2 = 1 THEN source END AS source2,
                   CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars2
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM({_th32_sql('m')}) AS BIGINT) AS text_hash_sum,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(CASE WHEN source2 IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null_source,
               CAST(SUM(CAST(n_chars2 AS DOUBLE)) AS DOUBLE)
                   AS sum_n_chars_new
        FROM md
    """,
    survey_ref="source formats: Avro SCHEMA RESOLUTION (spec 'Schema "
    "Resolution') — one directory holding two writer-schema GENERATIONS "
    "read under a single declared reader schema: absent fields resolve "
    "to null, the int->double numeric promotion widens, mismatches "
    "raise; the evolution contract the format exists for",
    description="half the corpus (even doc_ids) is written as a 3-field "
    "generation-1 Avro schema and the other half as the full 5-field "
    "generation-2 schema, into the SAME directory; the read declares one "
    "explicit reader schema in which generation-1's missing columns are "
    "nullable AND n_chars is widened long->double (a spec promotion, "
    "exact for these magnitudes).  Checksums pin that gen-1 rows "
    "resolve to null, gen-2 rows keep values, and the promotion "
    "converts rather than corrupts — per-FILE resolution, since each "
    "OCF carries its own writer schema",
)
def documents_avro_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from sparkroach.sources.avro_ocf import register_avro_source

    register_avro_source(spark)
    d = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="sparkroach_avro_evo_")
    reader_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            # written as long by generation 2: spec promotion on read
            T.StructField("n_chars", T.DoubleType(), True),
        ]
    )
    try:
        path = os.path.join(root, "docs_evo")
        gen1 = d.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        )
        gen2 = d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for gen in (gen1, gen2):
            gen.write.format("sparkroach_avro").mode("append").save(path)
        back = (
            spark.read.format("sparkroach_avro")
            .schema(reader_schema)
            .load(path)
        )
        out = back.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum(_th32("text")).cast("long").alias("text_hash_sum"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(F.when(F.col("source").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_source"),
            F.sum("n_chars").cast("double").alias("sum_n_chars_new"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# documents_warc_ingest — Common-Crawl-layout WARC shards, file-parallel
# ---------------------------------------------------------------------------

N_WARC_FILES = 8


@register(
    "documents_warc_ingest",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   md5('https://' || source || '.example.org/' || lang ||
                       '/' || CAST(doc_id AS VARCHAR)) AS um,
                   strlen(text) AS clen,  -- DuckDB strlen = BYTE count
                   md5(text) AS pm,
                   doc_id % {N_WARC_FILES} AS fid
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(clen) AS BIGINT) AS sum_content_length,
               CAST(COUNT(DISTINCT fid) AS BIGINT) AS n_warc_files,
               CAST(SUM({_th32_sql('um')}) AS BIGINT) AS url_hash_sum,
               CAST(SUM({_th32_sql('pm')}) AS BIGINT) AS payload_hash_sum
        FROM w
    """,
    survey_ref="source formats: WARC 1.0 ingest (Common Crawl layout — "
    "per-record gzip members) — from-scratch ISO 28500 record codec, "
    "exported through the generic binary-file sink and re-ingested "
    "file-parallel via binaryFile + a thin mapInPandas parser",
    description=f"WARC round-trip gate: documents sharded into "
    f"{N_WARC_FILES} real .warc.gz files (applyInPandas builds each "
    "shard's bytes; the sparkroach_binfiles sink lands them with the "
    "two-phase tmp+rename commit), read back with binaryFile and parsed "
    "record-by-record (strict version line, Content-Length accounting, "
    "terminator checks, one record per gzip member).  Checksums over "
    "parsed URIs, payload text and Content-Length totals must match the "
    "oracle's parquet-derived values — a one-byte framing error in either "
    "direction breaks a hash.  Parse stage is file-parallel with no "
    "shuffle before the final aggregate (the Common-Crawl shape: ~70k "
    "independent files at 100 TB, one per task)",
)
def documents_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sparkroach._shiplib import ensure_shipped
    from sparkroach.sources.binfiles import register_binfiles_sink

    ensure_shipped(spark)
    register_binfiles_sink(spark)
    d = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="sparkroach_warc_")

    def to_warc(pdf):
        import pandas as pd

        from sparkroach.functions.warc import build_warc_gz

        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["file_id"].iloc[0])
        blob = build_warc_gz(
            zip(pdf["doc_id"], pdf["source"], pdf["lang"], pdf["text"])
        )
        return pd.DataFrame(
            {"filename": [f"docs-{fid:05d}.warc.gz"], "content": [blob]}
        )

    def parse(batches):
        import os as _os

        import pandas as pd

        from sparkroach.functions.warc import parse_warc_gz

        for pdf in batches:
            rows: dict = {
                "doc_id": [],
                "url": [],
                "content_length": [],
                "payload": [],
                "warc_file": [],
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                base = _os.path.basename(path)
                for rec in parse_warc_gz(bytes(content)):
                    uri = rec["WARC-Target-URI"]
                    rows["doc_id"].append(int(uri.rsplit("/", 1)[1]))
                    rows["url"].append(uri)
                    rows["content_length"].append(
                        int(rec["Content-Length"])
                    )
                    rows["payload"].append(rec["payload"].decode("utf-8"))
                    rows["warc_file"].append(base)
            yield pd.DataFrame(rows)

    try:
        warc_dir = os.path.join(root, "warc")
        staged = (
            d.select("doc_id", "source", "lang", "text")
            .withColumn("file_id", F.pmod("doc_id", F.lit(N_WARC_FILES)))
            .groupBy("file_id")
            .applyInPandas(to_warc, "filename string, content binary")
        )
        staged.write.format("sparkroach_binfiles").mode("append").save(
            warc_dir
        )
        raw = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc.gz")
            .load(warc_dir)
        )
        parsed = raw.select("path", "content").mapInPandas(
            parse,
            "doc_id long, url string, content_length long, "
            "payload string, warc_file string",
        )
        out = parsed.agg(
            F.count("*").cast("long").alias("n_records"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("content_length").cast("long").alias("sum_content_length"),
            F.countDistinct("warc_file").cast("long").alias("n_warc_files"),
            F.sum(_th32("url")).cast("long").alias("url_hash_sum"),
            F.sum(_th32("payload")).cast("long").alias("payload_hash_sum"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# documents_pdf_text_ingest — single-page-per-doc PDF shards, structural
# parse + text extraction (functions/pdf.py — from-scratch ISO 32000-1
# classic-xref subset)
# ---------------------------------------------------------------------------

N_PDF_FILES = 8


@register(
    "documents_pdf_text_ingest",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, md5(text) AS tm, strlen(text) AS clen,
                   doc_id % {N_PDF_FILES} AS fid
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(clen) AS BIGINT) AS sum_text_bytes,
               CAST(COUNT(DISTINCT fid) AS BIGINT) AS n_pdf_files,
               CAST(SUM({_th32_sql('tm')}) AS BIGINT) AS text_hash_sum
        FROM w
    """,
    survey_ref="source formats: PDF text ingest — from-scratch ISO "
    "32000-1 classic-xref subset (objects, cross-reference table, page "
    "tree, uncompressed content streams), exported through the generic "
    "binary-file sink and re-ingested file-parallel via binaryFile + a "
    "strict mapInPandas extractor",
    description=f"PDF round-trip gate: documents sharded into "
    f"{N_PDF_FILES} real .pdf files (one page per document; "
    "applyInPandas builds each shard's bytes, the sparkroach_binfiles "
    "sink lands them two-phase), read back with binaryFile and parsed "
    "STRICTLY — startxref → xref table with per-object offset "
    "validation (each offset must land on its own 'N 0 obj' header), "
    "page tree /Count-vs-/Kids agreement, /Length-vs-endstream "
    "agreement, single-Tj content grammar, escape-complete string "
    "decode.  Checksums over extracted text and byte totals must match "
    "the oracle's parquet-derived values — a one-byte xref error breaks "
    "every downstream offset, which is exactly what the gate detects.  "
    "Parse is file-parallel with no shuffle before the final aggregate "
    "(the document-corpus shape: millions of independent PDFs at "
    "100 TB, one per task)",
)
def documents_pdf_text_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sparkroach._shiplib import ensure_shipped
    from sparkroach.sources.binfiles import register_binfiles_sink

    ensure_shipped(spark)
    register_binfiles_sink(spark)
    d = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="sparkroach_pdf_")

    def to_pdf(pdf):
        import pandas as pd

        from sparkroach.functions.pdf import build_pdf

        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["file_id"].iloc[0])
        blob = build_pdf(zip(pdf["doc_id"], pdf["text"]))
        return pd.DataFrame(
            {"filename": [f"docs-{fid:05d}.pdf"], "content": [blob]}
        )

    def parse(batches):
        import os as _os

        import pandas as pd

        from sparkroach.functions.pdf import parse_pdf_text

        for pdf in batches:
            rows: dict = {"doc_id": [], "text": [], "pdf_file": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                base = _os.path.basename(path)
                for page in parse_pdf_text(bytes(content)):
                    rows["doc_id"].append(page["doc_id"])
                    rows["text"].append(page["text"])
                    rows["pdf_file"].append(base)
            yield pd.DataFrame(rows)

    try:
        pdf_dir = os.path.join(root, "pdf")
        staged = (
            d.select("doc_id", "text")
            .withColumn("file_id", F.pmod("doc_id", F.lit(N_PDF_FILES)))
            .groupBy("file_id")
            .applyInPandas(to_pdf, "filename string, content binary")
        )
        staged.write.format("sparkroach_binfiles").mode("append").save(
            pdf_dir
        )
        raw = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.pdf")
            .load(pdf_dir)
        )
        parsed = raw.select("path", "content").mapInPandas(
            parse, "doc_id long, text string, pdf_file string"
        )
        out = parsed.agg(
            F.count("*").cast("long").alias("n_pages"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            # octet_length: BYTE count, matching the oracle's strlen
            F.sum(F.octet_length("text")).cast("long").alias(
                "sum_text_bytes"
            ),
            F.countDistinct("pdf_file").cast("long").alias("n_pdf_files"),
            F.sum(_th32("text")).cast("long").alias("text_hash_sum"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
