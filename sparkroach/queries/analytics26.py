"""Round-7 late wave 9: two more source-format lanes (R8-window
candidates) — the two on-disk shapes prepared ML corpora actually ship
in that the format matrix did not yet carry.

* ``arrow_ipc_roundtrip`` — the Arrow IPC file format (Feather V2), the
  memory-mappable cache format of the mainstream dataset-loading
  libraries.  The lane's engineering content is ZERO-COPY plumbing:
  the Python DataSource API already moves data as Arrow RecordBatches,
  and ``sources/arrow_ipc.py`` passes those batches straight to/from
  ``pyarrow.ipc`` — no per-row Python in either direction (reader
  yields the file's own batches; the writer is a DataSourceArrowWriter
  streaming batches into the IPC file under the two-phase tmp+rename
  commit).  The gate round-trips BOTH payload shapes through it —
  documents (strings + a genuinely-null column) and embeddings
  (array<float>) — plus one zstd-buffer-compressed variant, and
  checksums every path against the parquet oracle.

* ``documents_sqlite_ingest`` — SQLite database shards: the single most
  common "a team hands you their corpus" container outside parquet.
  Same lane shape as WARC/PDF (applyInPandas builds each shard → the
  generic binary-file sink lands it → binaryFile re-ingests
  file-parallel → a strict mapInPandas parser), with stdlib ``sqlite3``
  as the codec: the parser validates the 16-byte header magic and the
  expected table/column shape and raises on anything else.  SQLite
  files cannot be parsed from a memory buffer by the stdlib module, so
  each task spools its blob to a private temp file — an explicit,
  bounded cost (one file per task at a time), documented rather than
  hidden.

Reference parity: none — beyond-reference source surface (SURVEY.md §2
source formats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.analytics24 import _th32, _th32_sql
from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# arrow_ipc_roundtrip
# ---------------------------------------------------------------------------

_Q20 = 1 << 20  # power-of-two quantizer: exact in double on both engines

_ARROW_ORACLE = f"""
    WITH d AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum,
               CAST(SUM({_th32_sql("md5(text)")}) AS BIGINT) AS payload_sum,
               CAST(SUM(CASE WHEN nullif(lang, 'en') IS NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_nulls
        FROM documents
    ),
    e AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(vec_id) AS BIGINT) AS id_sum,
               CAST(SUM(list_sum(list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_Q20}.0)
                             AS BIGINT)))) AS BIGINT) AS payload_sum,
               CAST(SUM(CASE WHEN nullif(label, 0) IS NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_nulls
        FROM embeddings
    )
    SELECT 'documents_none' AS lane, * FROM d
    UNION ALL SELECT 'documents_zstd' AS lane, * FROM d
    UNION ALL SELECT 'embeddings_none' AS lane, * FROM e
    ORDER BY lane
"""


@register(
    "arrow_ipc_roundtrip",
    oracle=_ARROW_ORACLE,
    survey_ref="source formats: Arrow IPC files (Feather V2) — the "
    "dataset-library cache format as a real read/write surface with "
    "RecordBatch passthrough (no per-row Python either direction)",
    description="round-trips documents (strings + genuinely-null "
    "column) and embeddings (array<float>) through "
    "df.write.format('sparkroach_arrow') and back, plus one "
    "zstd-buffer-compressed documents variant; read schema comes from "
    "the first file's IPC footer (metadata, not a data scan).  "
    "Checksums (row/id sums, md5-prefix text sum or floor(x·2^20) "
    "vector sum, null counts) must match the parquet oracle "
    "bit-for-bit.  At 100 TB: one file per task both ways, batches "
    "cross the Python boundary as Arrow buffers verbatim",
)
def arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sparkroach.sources.arrow_ipc import register_arrow_source

    register_arrow_source(spark)
    root = tempfile.mkdtemp(prefix="sparkroach_arrow_")

    d = load(spark, sf_dir, "documents").withColumn(
        "lang_alt", F.expr("nullif(lang, 'en')")
    )
    e = load(spark, sf_dir, "embeddings").withColumn(
        "label_alt", F.expr("nullif(label, 0)")
    )

    def doc_checksums(df: DataFrame, lane: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum(_th32(F.col("text"))).cast("long").alias("payload_sum"),
            F.sum(F.col("lang_alt").isNull().cast("int"))
            .cast("long")
            .alias("n_nulls"),
        ).select(F.lit(lane).alias("lane"), "*")

    def emb_checksums(df: DataFrame, lane: str) -> DataFrame:
        qsum = F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * _Q20).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("vec_id").cast("long").alias("id_sum"),
            F.sum(qsum).cast("long").alias("payload_sum"),
            F.sum(F.col("label_alt").isNull().cast("int"))
            .cast("long")
            .alias("n_nulls"),
        ).select(F.lit(lane).alias("lane"), "*")

    try:
        out = None
        for lane, df, comp, cks in (
            ("documents_none", d, None, doc_checksums),
            ("documents_zstd", d, "zstd", doc_checksums),
            ("embeddings_none", e, None, emb_checksums),
        ):
            path = os.path.join(root, lane)
            w = df.write.format("sparkroach_arrow").mode("append")
            if comp:
                w = w.option("compression", comp)
            w.save(path)
            back = spark.read.format("sparkroach_arrow").load(path)
            cs = cks(back, lane)
            out = cs if out is None else out.unionByName(cs)
        return out.orderBy("lane").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# documents_sqlite_ingest
# ---------------------------------------------------------------------------

N_SQLITE_FILES = 8

_SQLITE_ORACLE = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM({_th32_sql("md5(text)")}) AS BIGINT) AS text_hash_sum,
           CAST({N_SQLITE_FILES} AS BIGINT) AS n_files
    FROM documents
"""


@register(
    "documents_sqlite_ingest",
    oracle=_SQLITE_ORACLE,
    survey_ref="source formats: SQLite database shards — stdlib-sqlite3 "
    "codec through the generic binary-file sink and file-parallel "
    "binaryFile re-ingest (the most common hand-me-a-corpus container "
    "outside parquet)",
    description=f"documents sharded into {N_SQLITE_FILES} real .sqlite "
    "files (one docs table each, built per-shard inside applyInPandas, "
    "landed by the sparkroach_binfiles two-phase sink), re-ingested "
    "file-parallel and parsed STRICTLY: 16-byte header magic, expected "
    "table and column shape, or ValueError.  stdlib sqlite3 cannot open "
    "a memory buffer, so each task spools its blob to a private temp "
    "file — one file per task at a time, a bounded documented cost.  "
    "Checksums must match the parquet oracle bit-for-bit",
)
def documents_sqlite_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sparkroach._shiplib import ensure_shipped
    from sparkroach.sources.binfiles import register_binfiles_sink

    ensure_shipped(spark)
    register_binfiles_sink(spark)
    d = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="sparkroach_sqlite_")

    def to_sqlite(pdf):
        import pandas as pd

        from sparkroach.functions.sqlite_shard import build_sqlite_shard

        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["file_id"].iloc[0])
        blob = build_sqlite_shard(
            zip(
                pdf["doc_id"],
                pdf["lang"],
                pdf["source"],
                pdf["text"],
                pdf["n_chars"],
            )
        )
        return pd.DataFrame(
            {"filename": [f"docs-{fid:05d}.sqlite"], "content": [blob]}
        )

    def parse(batches):
        import pandas as pd

        from sparkroach.functions.sqlite_shard import parse_sqlite_shard

        for pdf in batches:
            rows: dict = {
                "doc_id": [],
                "lang": [],
                "source": [],
                "text": [],
                "n_chars": [],
            }
            for content in pdf["content"]:
                for rec in parse_sqlite_shard(bytes(content)):
                    rows["doc_id"].append(rec[0])
                    rows["lang"].append(rec[1])
                    rows["source"].append(rec[2])
                    rows["text"].append(rec[3])
                    rows["n_chars"].append(rec[4])
            yield pd.DataFrame(rows)

    try:
        sq_dir = os.path.join(root, "sqlite")
        staged = (
            d.select("doc_id", "lang", "source", "text", "n_chars")
            .withColumn("file_id", F.pmod("doc_id", F.lit(N_SQLITE_FILES)))
            .groupBy("file_id")
            .applyInPandas(to_sqlite, "filename string, content binary")
        )
        staged.write.format("sparkroach_binfiles").mode("append").save(sq_dir)
        raw = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.sqlite")
            .load(sq_dir)
        )
        n_files = raw.count()
        parsed = raw.select("content").mapInPandas(
            parse,
            "doc_id long, lang string, source string, text string, "
            "n_chars long",
        )
        out = parsed.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(_th32(F.col("text"))).cast("long").alias("text_hash_sum"),
            F.lit(int(n_files)).cast("long").alias("n_files"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# events_small_file_compaction
# ---------------------------------------------------------------------------

_COMPACT_SMALL = 64  # deliberately-fragmented input layout
_COMPACT_TARGET = 4  # compacted output files

_COMPACT_ORACLE = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM({_th32_sql("md5(CAST(event_id AS VARCHAR) || ':' ||"
                              " event_type)")}) AS BIGINT) AS content_hash,
           CAST({_COMPACT_SMALL} AS BIGINT) AS files_before,
           CAST({_COMPACT_TARGET} AS BIGINT) AS files_after
    FROM events
"""


@register(
    "events_small_file_compaction",
    oracle=_COMPACT_ORACLE,
    survey_ref="§2D physical layout — small-file compaction (the "
    "lakehouse maintenance pass): rewrite a fragmented table region "
    "into target-count files with proven content preservation",
    description=f"events written deliberately fragmented "
    f"({_COMPACT_SMALL} parquet files via repartition), then compacted "
    f"to {_COMPACT_TARGET} files (repartition — a full shuffle; "
    "coalesce would skip the shuffle but skews file sizes when input "
    "partitions are uneven, the documented trade).  files_before/after "
    "are counted from the REAL directory listings, and the content "
    "hash (md5 over event_id:event_type) proves the rewrite lost and "
    "duplicated nothing.  At 100 TB this is the per-partition OPTIMIZE "
    "pass: cost is one shuffle of the compacted region only, never the "
    "table",
)
def events_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    root = tempfile.mkdtemp(prefix="sparkroach_compact_")

    def parquet_files(p: str) -> int:
        return sum(
            1
            for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith(".")
        )

    try:
        # The oracle pins files_before == _COMPACT_SMALL, which holds only
        # while every round-robin partition of repartition(N) is non-empty
        # (one file per non-empty partition).  Fail loudly if a future SF
        # shrinks events below that, instead of a confusing hash mismatch
        # at the gate (r7 ADVICE).
        n_rows = ev.count()
        if n_rows < _COMPACT_SMALL:
            raise ValueError(
                f"events_small_file_compaction: {n_rows} rows < "
                f"{_COMPACT_SMALL} fragments — the files_before oracle "
                "constant no longer holds at this SF"
            )
        frag = os.path.join(root, "fragmented")
        ev.repartition(_COMPACT_SMALL).write.parquet(frag)
        files_before = parquet_files(frag)
        compacted = os.path.join(root, "compacted")
        spark.read.parquet(frag).repartition(_COMPACT_TARGET).write.parquet(
            compacted
        )
        files_after = parquet_files(compacted)
        back = spark.read.parquet(compacted)
        out = back.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.sum(
                _th32(
                    F.concat_ws(
                        ":", F.col("event_id").cast("string"), "event_type"
                    )
                )
            )
            .cast("long")
            .alias("content_hash"),
            F.lit(int(files_before)).cast("long").alias("files_before"),
            F.lit(int(files_after)).cast("long").alias("files_after"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
