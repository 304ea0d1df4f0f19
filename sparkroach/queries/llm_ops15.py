"""Round-7 late wave 10: two web-corpus *encoding hygiene* operators —
the cleanup stages a crawl pipeline runs between raw ingest and
tokenization, both R8-window candidates.

* ``mojibake_repair_report`` — double-encoded UTF-8 ("mojibake") repair:
  the single most common encoding defect in web text is a UTF-8 byte
  sequence that was re-decoded as Latin-1 and re-encoded, turning
  ``café№`` into ``cafÃ©â„–``.  The repair is the inverse round-trip
  (encode Latin-1, decode UTF-8), applied only where it is (a) possible
  and (b) produces non-ASCII — the standard conservative heuristic.
  Mojibake is INJECTED deterministically (doc_id residue) as a module
  constant computed by the *actual* double-encoding at import time, so
  the oracle knows the exact expected repaired text in closed form
  (original ‖ clean marker) — the gate pins the repair to be exactly
  lossless, not merely "changed something".  Detection/repair runs in
  an Arrow-batched Python UDF (stdlib codecs, the NFC lane's shape).

* ``script_mix_report`` — per-document Unicode-script composition
  (Latin vs Cyrillic vs CJK vs Greek): the signal language-ID uses to
  catch transliteration noise, wrong-script spam, and mixed-script
  documents that confuse downstream tokenizers.  Script markers are
  injected deterministically by doc_id residue; counting is pure JVM
  ``regexp_count`` over explicit code-point ranges (RE2-portable — the
  same ranges evaluate identically in DuckDB), one map-only pass.

Reference parity: none — LLM-training-data surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

_HEX = "0123456789abcdef"


def _th32_sql(col: str) -> str:
    return " + ".join(
        f"(instr('{_HEX}', substring({col}, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )


def _th32(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# mojibake_repair_report
# ---------------------------------------------------------------------------

# the clean marker and its double-encoded (mojibake) form — computed by
# the REAL defect mechanism at import, not hand-transcribed, so the test
# corpus is by construction exactly what a Latin-1 mis-decode produces
_CLEAN_MARK = " café№42"
_MOJI_MARK = _CLEAN_MARK.encode("utf-8").decode("latin-1")
_MOJI_RESIDUE = 3  # doc_id % 3 == 0 docs get the defect


def _repair_mojibake(s: str) -> tuple[str, bool]:
    """Conservative double-encoding repair: undo exactly one Latin-1
    mis-decode if the byte round-trip is possible, decodes as UTF-8,
    and the input actually contained non-ASCII (pure-ASCII text is
    identical under the round-trip — not mojibake)."""
    if s.isascii():
        return s, False
    try:
        b = s.encode("latin-1")
    except UnicodeEncodeError:
        return s, False  # contains chars > U+00FF: not a Latin-1 mis-decode
    try:
        return b.decode("utf-8"), True
    except UnicodeDecodeError:
        return s, False  # bytes are not UTF-8: leave untouched


@register(
    "mojibake_repair_report",
    oracle=f"""
        WITH x AS (
            SELECT doc_id,
                   CASE WHEN doc_id % {_MOJI_RESIDUE} = 0
                        THEN text || '{_MOJI_MARK}' ELSE text END AS dirty,
                   CASE WHEN doc_id % {_MOJI_RESIDUE} = 0
                        THEN text || '{_CLEAN_MARK}' ELSE text END AS want
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN doc_id % {_MOJI_RESIDUE} = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_repaired,
               CAST(SUM({_th32_sql("md5(want)")}) AS BIGINT)
                   AS repaired_hash_sum,
               CAST(SUM(strlen(dirty) - strlen(want)) AS BIGINT)
                   AS bytes_saved
        FROM x
    """,
    survey_ref="LLM ops: encoding repair — double-encoded UTF-8 "
    "(mojibake) detection + inverse-round-trip repair, the standard "
    "conservative crawl-cleanup pass",
    description=f"docs with doc_id % {_MOJI_RESIDUE} == 0 get a "
    "double-encoded marker appended (the defect constant is produced "
    "by the real encode-chain at import, byte-identical on both "
    "engines); the Arrow-batched repair UDF undoes exactly one "
    "Latin-1 mis-decode where possible-and-non-ASCII.  The oracle "
    "computes the EXPECTED repaired text in closed form (original ‖ "
    "clean marker) and the gate hashes the repaired corpus against it "
    "— the repair must be exactly lossless, and bytes_saved (UTF-8 "
    "re-compression of the inflated mojibake) must match integer-"
    "exactly.  Map-only at any scale",
)
def mojibake_repair_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load(spark, sf_dir, "documents")
    dirty = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % _MOJI_RESIDUE == 0,
            F.concat(F.col("text"), F.lit(_MOJI_MARK)),
        )
        .otherwise(F.col("text"))
        .alias("dirty"),
    )

    # no type annotations on the UDF body: this module has
    # `from __future__ import annotations`, which stringifies hints and
    # breaks pandas_udf's signature inference — pass returnType instead
    def _repair_batch(col):
        out = [_repair_mojibake(s) for s in col]
        return pd.DataFrame(
            {"fixed": [a for a, _ in out], "repaired": [b for _, b in out]}
        )

    repair = F.pandas_udf(
        _repair_batch, "struct<fixed: string, repaired: boolean>"
    )

    r = dirty.select(
        "doc_id",
        F.octet_length("dirty").alias("dirty_bytes"),
        repair(F.col("dirty")).alias("r"),
    ).select(
        "doc_id",
        "dirty_bytes",
        F.col("r.fixed").alias("fixed"),
        F.col("r.repaired").alias("repaired"),
    )
    return r.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("repaired").cast("int")).cast("long").alias("n_repaired"),
        F.sum(_th32(F.col("fixed"))).cast("long").alias("repaired_hash_sum"),
        F.sum(F.col("dirty_bytes") - F.octet_length("fixed"))
        .cast("long")
        .alias("bytes_saved"),
    )


# ---------------------------------------------------------------------------
# script_mix_report
# ---------------------------------------------------------------------------

# injected per-script markers (doc_id residues chosen co-prime-ish so
# mixed-script docs exist); counting ranges are explicit code points
_SCRIPTS = [
    # (name, residue, marker, regex char class) — \x{...} escapes are the
    # form BOTH engines' regex dialects accept (Java regex and RE2; the
    # \uXXXX form is Java-only)
    ("cyrillic", 4, " пример", "[\\x{0400}-\\x{04FF}]"),
    ("cjk", 5, " 数据管道", "[\\x{4E00}-\\x{9FFF}]"),
    ("greek", 7, " δείγμα", "[\\x{0370}-\\x{03FF}]"),
]


def _script_oracle() -> str:
    inj = "text"
    for _, residue, marker, _ in _SCRIPTS:
        inj = (
            f"CASE WHEN doc_id % {residue} = 0 THEN {inj} || '{marker}' "
            f"ELSE {inj} END"
        )
    cols = []
    for name, _, _, cls in _SCRIPTS:
        cols.append(
            f"CAST(SUM(len(regexp_extract_all(t, '{cls}'))) AS BIGINT) "
            f"AS n_{name}"
        )
        cols.append(
            f"CAST(SUM(CASE WHEN regexp_matches(t, '{cls}') THEN 1 ELSE 0 "
            f"END) AS BIGINT) AS docs_{name}"
        )
    return (
        f"WITH x AS (SELECT doc_id, {inj} AS t FROM documents) "
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
        + ", ".join(cols)
        + ", CAST(SUM(CASE WHEN "
        + " + ".join(
            f"(CASE WHEN regexp_matches(t, '{cls}') THEN 1 ELSE 0 END)"
            for _, _, _, cls in _SCRIPTS
        )
        + " >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS docs_mixed_script FROM x"
    )


@register(
    "script_mix_report",
    oracle=_script_oracle(),
    survey_ref="LLM ops: Unicode-script composition — per-script char "
    "and document counts plus mixed-script detection (the wrong-script "
    "spam / transliteration-noise signal language-ID needs)",
    description="script markers (Cyrillic/CJK/Greek) injected "
    "deterministically by doc_id residue, counted with explicit "
    "code-point-range regex classes — RE2-portable, evaluated "
    "identically by both engines, pure JVM regexp_count (no Python on "
    "the data path).  Reports per-script char totals, per-script doc "
    "counts, and mixed-script docs (≥2 foreign scripts).  One map-only "
    "pass + single-row census at any scale",
)
def script_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    for _, residue, marker, _ in _SCRIPTS:
        t = F.when(
            F.col("doc_id") % residue == 0, F.concat(t, F.lit(marker))
        ).otherwise(t)
    x = d.select("doc_id", t.alias("t"))
    aggs = [F.count("*").cast("long").alias("n_docs")]
    flags = []
    for name, _, _, cls in _SCRIPTS:
        aggs.append(
            F.sum(F.regexp_count(F.col("t"), F.lit(cls)))
            .cast("long")
            .alias(f"n_{name}")
        )
        flag = (F.regexp_count(F.col("t"), F.lit(cls)) > 0).cast("int")
        aggs.append(F.sum(flag).cast("long").alias(f"docs_{name}"))
        flags.append(flag)
    mixed = sum(flags[1:], flags[0]) >= 2
    aggs.append(F.sum(mixed.cast("int")).cast("long").alias("docs_mixed_script"))
    return x.agg(*aggs)
