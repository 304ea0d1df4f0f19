"""LLM-data-pipeline operators, set 2 (round 4).

Five operators a 100 TB training-data pipeline runs between raw corpus and
training mix, beyond the dedup/ANN family in llm_ops.py:

- ``vocab_term_stats``     — corpus vocabulary table (corpus frequency,
                             document frequency, rank): the first pass of
                             tokenizer training and corpus QA.
- ``source_term_salience`` — per-source distinctive terms by an exact
                             tf/df ratio (a tf-idf analog whose arithmetic
                             is bit-identical across engines — no log()).
- ``passage_dedup_exact``  — exact substring-level dedup at word-16-gram
                             granularity (Lee et al., "Deduplicating
                             Training Data Makes Language Models Better":
                             duplicated PASSAGES inside otherwise-unique
                             documents are what suffix-array dedup
                             removes; the sliding-window hash table is
                             its shuffle-friendly distributed analog).
- ``ann_int8_quantized``   — scalar-quantized (int8) cosine top-k: the
                             standard 4× memory compression for vector
                             search; quantized dot products are EXACT
                             integer math, so both engines agree
                             bit-for-bit before the one final division.

Exactness discipline (registry.py): every compared quantity is integer
math until at most one final double division/sqrt computed identically on
both engines; "random" quantities are md5-derived.

Reference parity note: the reference (algorand/conduit-cockroachdb) has no
LLM plane; this module is part of the beyond-reference surface the build
brief requires (training-data pipeline operators as first-class
components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

PASSAGE_WORDS = 16  # word n-gram window for passage-level dedup


def global_row_number(df: DataFrame, order_cols, out: str = "rank") -> DataFrame:
    """Append a globally-ordered ``row_number()`` in ``order_cols`` order
    WITHOUT a single-partition window (a distributed prefix sum over
    per-partition row COUNTS): range-partition on the ordering
    expressions, a per-partition local row_number, then broadcast
    exclusive-prefix offsets — one bookkeeping row per partition through
    the driver.  ``order_cols`` are
    Column expressions and may carry ``.desc()``; the total order must be
    unique for the result to be deterministic (callers order by a key
    suffix).  Relies on repartitionByRange's contract that ascending
    partition ids hold ascending ranges of the sort expressions."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin the partitioning for both consumers
    )
    wloc = Window.partitionBy("_pid").orderBy(*order_cols)
    counts = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    return (
        part.withColumn("_loc", F.row_number().over(wloc))
        .join(F.broadcast(off), "_pid")
        .withColumn(out, (F.col("_off") + F.col("_loc")).cast("long"))
        .drop("_pid", "_loc", "_off")
    )


@register(
    "vocab_term_stats",
    # r4 end-of-round: rotated IN for a first driver recording this round
    oracle="""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        stats AS (
            SELECT term,
                   CAST(count(*) AS BIGINT) AS cf,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM words GROUP BY term
        )
        SELECT term, cf, df,
               CAST(row_number() OVER (ORDER BY cf DESC, term) AS BIGINT)
                   AS rank
        FROM stats
        ORDER BY rank
    """,
    survey_ref="LLM data management: vocabulary statistics (corpus "
    "frequency + document frequency + rank) — the first pass of tokenizer "
    "training / corpus QA",
    description="explode → one grouped pass computing corpus frequency "
    "and document frequency together (count + approx-free exact distinct "
    "per term). The global rank is a DISTRIBUTED row_number (range "
    "partition on (cf DESC, term) + local ranks + broadcast per-partition "
    "count offsets — the running_global_sum recipe), never an "
    "empty-partition-spec window: a web-scale vocabulary is 10^8 terms "
    "and must not serialize through one WindowExec task",
)
def vocab_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    stats = words.groupBy("term").agg(
        F.count("*").alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    ranked = global_row_number(
        stats, [F.col("cf").desc(), F.col("term")], out="rank"
    )
    return ranked.select("term", "cf", "df", "rank").orderBy("rank")


@register(
    "source_term_salience",
    # r4 end-of-round: rotated IN for a first driver recording this round
    oracle="""
        WITH words AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT source, term, CAST(count(*) AS BIGINT) AS tf
            FROM words GROUP BY source, term
        ),
        df AS (
            SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM words GROUP BY term
        ),
        scored AS (
            SELECT source, tf.term AS term, tf, df,
                   CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score
            FROM tf JOIN df ON tf.term = df.term
        )
        SELECT source, term, tf, df, score
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY score DESC, term
            ) AS rn
            FROM scored
        )
        WHERE rn <= 5
        ORDER BY source, score DESC, term
    """,
    survey_ref="LLM data management: per-source distinctive terms (exact "
    "tf/df salience — a tf-idf analog with engine-exact arithmetic)",
    description="per-(source, term) frequency joined against per-term "
    "document frequency; score = tf/df is one exact integer division "
    "(IEEE division of integers is correctly rounded, so both engines "
    "produce the identical double — no log() idf whose libm could "
    "diverge). df is vocab-sized (unbounded at web scale), so the join "
    "is a term-keyed shuffle — no forced broadcast; AQE still broadcasts "
    "it when genuinely small. Top-5 per source via partitioned window",
)
def source_term_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = words.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "term").select(
        "source",
        "term",
        "tf",
        "df",
        (F.col("tf").cast("double") / F.col("df").cast("double")).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("source", F.desc("score"), "term")
    )


@register(
    "passage_dedup_exact",
    # r4 end-of-round: rotated IN for a first driver recording this round
    bench=True,  # late r4: heavy linear text op added to the headline set
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        p AS (
            SELECT doc_id,
                   unnest([md5(array_to_string(ws[i+1:i+{PASSAGE_WORDS}], ' '))
                           for i in range(0, greatest(len(ws) - {PASSAGE_WORDS - 1}, 0))])
                       AS ph
            FROM w
        ),
        hd AS (SELECT ph, count(DISTINCT doc_id) AS nd FROM p GROUP BY ph)
        SELECT p.doc_id,
               CAST(count(*) AS BIGINT) AS n_passages,
               CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_dup_passages,
               CAST(count(*) FILTER (WHERE nd > 1) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS dup_fraction
        FROM p JOIN hd ON p.ph = hd.ph
        GROUP BY p.doc_id
        ORDER BY p.doc_id
    """,
    survey_ref="LLM dedup: exact substring-level (passage) dedup — "
    "word-16-gram sliding-window hash (distributed analog of "
    "suffix-array substring dedup, Lee et al. 2022)",
    description="every word-16-gram of every doc hashes once (md5 — the "
    "passage space makes chance collisions impossible); a grouped pass "
    "counts distinct docs per hash; joining back marks which of a doc's "
    "passages also occur elsewhere. Shuffle cost is linear in corpus "
    "token count (stride-1 windows), the same asymptotics as the "
    "suffix-array build, but in two hash shuffles instead of a global "
    "sort — docs shorter than the window have no passages and are "
    "excluded (both engines)",
)
def passage_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(ws) >= PASSAGE_WORDS,
        F.sequence(F.lit(0), F.size(ws) - PASSAGE_WORDS),
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    passages = F.transform(
        idx,
        lambda i: F.md5(
            F.array_join(F.slice(ws, i + 1, PASSAGE_WORDS), " ")
        ),
    )
    # r8 optimization: the old plan checkpointed the exploded frame, then
    # aggregated per hash (countDistinct) and joined back — three
    # full-width shuffles of the passage rows plus an eager
    # materialization job.  "Occurs in more than one distinct doc" is
    # exactly min(doc_id) != max(doc_id) within the hash group, so ONE
    # hash-keyed window (partitioned by ph — per-passage groups, never a
    # global window) marks duplicate passages in place: the explode+md5
    # stage now runs once with NO checkpoint, the window reuses the single
    # ph exchange, and the only other shuffle is the per-doc rollup.
    # 10 → 4 plan exchanges; identical values at every SF (A/B-verified).
    p = d.select("doc_id", F.explode(passages).alias("ph"))
    w = Window.partitionBy("ph")
    dup = (F.min("doc_id").over(w) != F.max("doc_id").over(w)).cast("int")
    return (
        p.select("doc_id", dup.alias("dup"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum("dup").alias("n_dup_passages"),
        )
        .select(
            "doc_id",
            "n_passages",
            "n_dup_passages",
            (
                F.col("n_dup_passages").cast("double")
                / F.col("n_passages").cast("double")
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# int8 scalar-quantized ANN

_N_SQ_QUERIES = 8
_SQ_TOP_K = 10

# per-vector symmetric int8 quantization, computed identically on both
# engines: amax = max |x| (double), q_i = floor(x/amax*127 + 0.5).
# floor(+0.5) instead of round() so both engines share one explicit,
# deterministic tie rule; every op (cast, /, *, +, floor) is a correctly-
# rounded IEEE double op, so the integer codes are bit-identical.
_AMAX = (
    "aggregate(transform({col}, x -> abs(CAST(x AS DOUBLE))), "
    "CAST(0.0 AS DOUBLE), (a, v) -> greatest(a, v))"
)
_QUANT = (
    "transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) / {amax} * 127.0 + 0.5) "
    "AS BIGINT))"
)
_IDOT = (
    "aggregate(zip_with(qq, cq, (x, y) -> x * y), CAST(0 AS BIGINT), "
    "(a, v) -> a + v)"
)
_INORM2 = (
    "aggregate(transform({col}, x -> x * x), CAST(0 AS BIGINT), (a, v) -> a + v)"
)

_AMAX_SQL = "list_max([abs(x::DOUBLE) for x in {col}])"
_QUANT_SQL = "[CAST(floor(x::DOUBLE / {amax} * 127.0 + 0.5) AS BIGINT) for x in {col}]"
_IDOT_SQL = "list_sum([qq[i+1] * cq[i+1] for i in range(0, len(qq))])"
_INORM2_SQL = "list_sum([x * x for x in {col}])"


@register(
    "ann_int8_quantized",
    # r4 end-of-round: rotated IN for a first driver recording this round
    oracle=f"""
        WITH quant AS (
            SELECT vec_id,
                   {_QUANT_SQL.format(col="embedding", amax=_AMAX_SQL.format(col="embedding"))}
                       AS qv
            FROM embeddings
        ),
        q AS (SELECT vec_id AS q_id, qv AS qq FROM quant
              WHERE vec_id < {_N_SQ_QUERIES}),
        c AS (SELECT vec_id AS c_id, qv AS cq FROM quant),
        scored AS (
            SELECT q_id, c_id,
                   ROUND(CAST({_IDOT_SQL} AS DOUBLE)
                         / (SQRT(CAST({_INORM2_SQL.format(col="qq")} AS DOUBLE))
                            * SQRT(CAST({_INORM2_SQL.format(col="cq")} AS DOUBLE))),
                         6) AS qcosine
            FROM q CROSS JOIN c
            WHERE q_id <> c_id
        ),
        ranked AS (
            SELECT q_id, c_id, qcosine,
                   row_number() OVER (
                       PARTITION BY q_id ORDER BY qcosine DESC, c_id
                   ) AS rank
            FROM scored
        )
        SELECT q_id, c_id, qcosine, rank FROM ranked
        WHERE rank <= {_SQ_TOP_K}
        ORDER BY q_id, rank
    """,
    survey_ref="LLM ops: ANN similarity search — int8 scalar-quantized "
    "cosine top-k (4× memory compression, integer dot products)",
    description="per-vector symmetric int8 quantization (amax-scaled, "
    "explicit floor(+0.5) tie rule so both engines emit identical codes); "
    "quantized dot products and squared norms are EXACT integer sums — "
    "at 100 TB the int8 corpus is 4× smaller in cache/scan and the "
    "scoring loop is integer SIMD; only the final cosine normalization "
    "touches floats. Same broadcast-queries × corpus scan shape as "
    "ann_cosine_topk so recall is directly comparable",
)
def ann_int8_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    amax = _AMAX.format(col="embedding")
    quant = e.select(
        "vec_id",
        F.expr(_QUANT.format(col="embedding", amax=amax)).alias("qv"),
    )
    q = quant.where(F.col("vec_id") < _N_SQ_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qq")
    )
    c = quant.select(F.col("vec_id").alias("c_id"), F.col("qv").alias("cq"))
    qcos = F.round(
        F.expr(_IDOT).cast("double")
        / (
            F.sqrt(F.expr(_INORM2.format(col="qq")).cast("double"))
            * F.sqrt(F.expr(_INORM2.format(col="cq")).cast("double"))
        ),
        6,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("qcosine").desc(), F.col("c_id"))
    return (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", qcos.alias("qcosine"))
        .select("q_id", "c_id", "qcosine", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= _SQ_TOP_K)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# product-quantized ANN (PQ + ADC)

_PQ_M = 8  # subvectors (64 dims / 8)
_PQ_DSUB = 8  # dims per subvector
_PQ_K = 16  # centroids per subvector → 4 bits/code, M bytes/vector total


def _pq_codebook(
    m: int = _PQ_M, k: int = _PQ_K, dsub: int = _PQ_DSUB
) -> list[list[list[float]]]:
    """Deterministic codebook: centroid[m][k][j] = (md5int % 2001 − 1000)/1000
    ∈ [−1, 1] with 3 decimals.  Computed driver-side (hashlib) and embedded
    as NUMERIC LITERALS in both engines' expressions, so there is no
    cross-engine hash arithmetic to keep in sync — both engines parse the
    identical decimal literal to the identical double (correctly-rounded
    strtod).  A production pipeline would train these with k-means (see
    ann_ivf_kmeans for the trained-centroid pattern, and
    stress.train_pq_codebook for the sampled per-subspace training the
    PQ dial sweep measures); the ADC machinery is identical either way.
    Parameterized (m × k = codebook resolution, the production recall
    dial — SCALE.md §11) with the gate-pinned defaults."""
    import hashlib

    def md5i(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [
        [
            [
                (md5i(f"pq|{mi}|{ki}|{j}") % 2001 - 1000) / 1000.0
                for j in range(dsub)
            ]
            for ki in range(k)
        ]
        for mi in range(m)
    ]


_PQ_CB = _pq_codebook()


def _pq_dist_terms(
    vec: str,
    m: int,
    k: int,
    spark_side: bool,
    cb: list | None = None,
    dsub: int | None = None,
) -> str:
    """Unrolled ||vec_sub − centroid||² with one fixed left-assoc order on
    both engines (Spark element_at is 1-indexed; DuckDB [] is 1-indexed).
    ``cb``/``dsub`` default to the gate-pinned codebook."""
    cb = _PQ_CB if cb is None else cb
    dsub = _PQ_DSUB if dsub is None else dsub
    terms = []
    for j in range(dsub):
        idx = m * dsub + j + 1
        el = (
            f"CAST(element_at({vec}, {idx}) AS DOUBLE)"
            if spark_side
            else f"{vec}[{idx}]::DOUBLE"
        )
        c = repr(cb[m][k][j])
        terms.append(f"(({el} - {c}) * ({el} - {c}))")
    return " + ".join(terms)


def _pq_code_expr(m: int) -> str:
    """Spark expr: the argmin centroid id for subvector m — array_min over
    (dist, k) structs compares lexicographically, so ties break on the
    lower centroid id with the identical rule as the oracle's
    row_number(ORDER BY d, k)."""
    structs = ", ".join(
        f"named_struct('d', {_pq_dist_terms('embedding', m, k, True)}, 'k', {k})"
        for k in range(_PQ_K)
    )
    return f"array_min(array({structs})).k"


# -- Spark-side higher-order-function forms ---------------------------------
# The fully-unrolled expressions above produce ~2×1024 squared-diff terms,
# which blows whole-stage codegen past janino's method limits: Spark logs
# "ERROR CodeGenerator: Failed to compile" and silently falls back to
# interpreted evaluation.  The DuckDB oracle keeps the unrolled SQL (no
# codegen there), while the Spark side evaluates the SAME arithmetic with
# transform/aggregate loops over the codebook embedded as ONE constant-
# folded nested-array literal.  IEEE equivalence with the unrolled form:
# the aggregate fold is (((0.0 + t1) + t2) + …) and 0.0 + t1 == t1 exactly
# for the non-negative squared terms, so the summation order — and hence
# every bit of the result — is unchanged.

def _pq_cb_lit(cb: list[list[list[float]]]) -> str:
    """The codebook as ONE constant-folded nested-array Spark literal."""
    return "array(" + ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(repr(c) for c in row) + ")"
            for row in sub
        ) + ")"
        for sub in cb
    ) + ")"


_PQ_CB_LIT = _pq_cb_lit(_PQ_CB)


def _pq_sqdist_hof(
    vec: str,
    m_var: str,
    k_var: str,
    cb_lit: str = _PQ_CB_LIT,
    dsub: int = _PQ_DSUB,
) -> str:
    """||vec_sub − centroid[m][k]||² as an aggregate() fold (j ascending,
    left-assoc — the unrolled form's order)."""
    el = f"CAST(element_at({vec}, {m_var} * {dsub} + j) AS DOUBLE)"
    c = (
        f"element_at(element_at(element_at({cb_lit}, {m_var} + 1), "
        f"{k_var} + 1), j)"
    )
    return (
        f"aggregate(sequence(1, {dsub}), CAST(0.0 AS DOUBLE), "
        f"(acc, j) -> acc + (({el}) - ({c})) * (({el}) - ({c})))"
    )


def _pq_codes_hof_expr(
    vec: str = "embedding",
    m: int = _PQ_M,
    k: int = _PQ_K,
    dsub: int = _PQ_DSUB,
    cb_lit: str = _PQ_CB_LIT,
) -> str:
    """codes[m] = argmin_k dist(vec_sub_m, centroid[m][k]) — same
    struct-min tie rule as _pq_code_expr, loop-compiled."""
    return (
        f"transform(sequence(0, {m - 1}), m -> "
        f"array_min(transform(sequence(0, {k - 1}), k -> "
        f"named_struct('d', {_pq_sqdist_hof(vec, 'm', 'k', cb_lit, dsub)}, "
        f"'k', k))).k)"
    )


def _pq_lut_hof_expr(
    vec: str = "qe",
    m: int = _PQ_M,
    k: int = _PQ_K,
    dsub: int = _PQ_DSUB,
    cb_lit: str = _PQ_CB_LIT,
) -> str:
    """lut[m][k] = ||vec_sub_m − centroid[m][k]||², loop-compiled."""
    return (
        f"transform(sequence(0, {m - 1}), m -> "
        f"transform(sequence(0, {k - 1}), k -> "
        f"{_pq_sqdist_hof(vec, 'm', 'k', cb_lit, dsub)}))"
    )


def _pq_lut_expr(spark_side: bool, vec: str = "qe") -> str:
    """The query-side ADC lookup table as a nested array literal-expression:
    lut[m][k] = ||q_sub − centroid[m][k]||²."""
    rows = []
    for m in range(_PQ_M):
        cells = ", ".join(
            _pq_dist_terms(vec, m, k, spark_side) for k in range(_PQ_K)
        )
        rows.append(f"array({cells})" if spark_side else f"[{cells}]")
    return ("array(" + ", ".join(rows) + ")") if spark_side else ("[" + ", ".join(rows) + "]")


_PQ_TOP_K = 10
_PQ_N_QUERIES = 8


def _pq_oracle() -> str:
    # corpus codes: relational argmin (row_number over dist, k) — the same
    # (d, k) tie rule as Spark's array_min struct compare
    dist_rows = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, {k} AS k, "
        f"{_pq_dist_terms('embedding', m, k, False)} AS d FROM embeddings"
        for m in range(_PQ_M)
        for k in range(_PQ_K)
    )
    lut = _pq_lut_expr(False, vec="embedding")
    score = (
        "("
        + " + ".join(
            f"lut[{m + 1}][codes[{m + 1}] + 1]" for m in range(_PQ_M)
        )
        + ")"
    )
    return f"""
        WITH dists AS ({dist_rows}),
        coded AS (
            SELECT vec_id, m, k AS code FROM (
                SELECT vec_id, m, k,
                       row_number() OVER (PARTITION BY vec_id, m
                                          ORDER BY d, k) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        codes AS (
            SELECT vec_id, list(code ORDER BY m) AS codes
            FROM coded GROUP BY vec_id
        ),
        q AS (
            SELECT vec_id AS q_id, {lut} AS lut
            FROM embeddings WHERE vec_id < {_PQ_N_QUERIES}
        ),
        scored AS (
            SELECT q_id, c.vec_id AS c_id, ROUND({score}, 6) AS adc_dist
            FROM q CROSS JOIN codes c
            WHERE q_id <> c.vec_id
        )
        SELECT q_id, c_id, adc_dist, rank FROM (
            SELECT q_id, c_id, adc_dist,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adc_dist, c_id) AS rank
            FROM scored
        ) WHERE rank <= {_PQ_TOP_K}
        ORDER BY q_id, rank
    """


@register(
    "ann_pq_adc",
    # r4 end-of-round: rotated IN for a first driver recording this round
    oracle=_pq_oracle(),
    survey_ref="LLM ops: ANN similarity search — product quantization with "
    "asymmetric distance computation (PQ-ADC, Jégou et al. 2011: the "
    "standard billion-scale vector-search compression)",
    description=f"PQ: {_PQ_M} subvectors × {_PQ_K} centroids (4-bit codes "
    "— 32× memory compression vs float32); encoding is a map-only argmin "
    "per subvector against a broadcast codebook; queries build an "
    f"{_PQ_M}×{_PQ_K} ADC lookup table once and score the corpus by "
    "TABLE LOOKUPS ONLY (one fixed-order fold over M cells per pair — no "
    "float vector math in the scan). At 100 TB the corpus lives as "
    "M-byte codes, the scan is cache-resident, and the codebook/LUT "
    "broadcast; both engines share one explicit (dist, centroid-id) "
    "argmin tie rule and one left-assoc summation order, so ADC scores "
    "are bit-identical before the final ROUND",
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    # loop-compiled (HOF) forms: identical arithmetic to the oracle's
    # unrolled SQL, but codegen-friendly (see the comment block above)
    codes = e.select(
        "vec_id", F.expr(_pq_codes_hof_expr("embedding")).alias("codes")
    )
    q = e.where(F.col("vec_id") < _PQ_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
    ).select("q_id", F.expr(_pq_lut_hof_expr("qe")).alias("lut"))
    score = F.expr(
        " + ".join(
            f"element_at(element_at(lut, {m + 1}), element_at(codes, {m + 1}) + 1)"
            for m in range(_PQ_M)
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id"))
    return (
        F.broadcast(q)
        .crossJoin(codes.select(F.col("vec_id").alias("c_id"), "codes"))
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.round(score, 6).alias("adc_dist"))
        .select("q_id", "c_id", "adc_dist", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= _PQ_TOP_K)
        .orderBy("q_id", "rank")
    )


@register(
    "multimodal_frame_sample",
    oracle="""
        WITH vp AS (
            SELECT doc_id,
                   6 + (doc_id % 10) AS nf,
                   4 + (doc_id % 7) AS w,
                   4 + ((doc_id // 7) % 5) AS h
            FROM documents
        ),
        fr AS (
            SELECT doc_id, nf, w, h, f
            FROM vp, range(0, 16) t(f)
            WHERE f < nf AND f % 2 = 0
        ),
        s AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_sampled,
                   CAST(SUM(((doc_id + 11 * f) % 256
                             + (doc_id * 7 + 3 * f) % 256
                             + (doc_id * 13 + 5 * f) % 256) * w * h)
                        AS BIGINT) AS sampled_pixel_sum
            FROM fr GROUP BY doc_id
        )
        SELECT v.doc_id AS media_id,
               CAST(v.nf AS BIGINT) AS n_frames,
               CAST(v.w AS INT) AS width,
               CAST(v.h AS INT) AS height,
               s.n_sampled, s.sampled_pixel_sum
        FROM vp v JOIN s ON s.doc_id = v.doc_id
        ORDER BY media_id
    """,
    survey_ref="LLM ops: multimodal frame sampling — multi-frame container "
    "(concatenated P6, Y4M-style) decoded by REAL sequential frame "
    "parsing through mapInPandas; every-2nd-frame sampling",
    description="synthesize a multi-frame video payload per document "
    "(6-15 real P6 frames, per-frame fill colors), then SAMPLE every 2nd "
    "frame by genuinely walking the container byte stream (tokenized "
    "frame headers, raster skips — no arithmetic shortcuts on the decode "
    "side) and sum sampled raster bytes. The oracle recomputes the exact "
    "integers from the generator formulas. Map-only both ways; at 100 TB "
    "frame sampling is the standard decode-cost reducer before feature "
    "extraction, and Arrow batch size bounds executor memory against "
    "multi-MB payload rows",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach._shiplib import ensure_shipped
    from sparkroach.functions.media import (
        frame_sample_features,
        synthesize_video_media,
    )

    ensure_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    media = synthesize_video_media(docs)
    return frame_sample_features(media, sample_every=2).orderBy("media_id")


@register(
    "multimodal_resize",
    oracle="""
        WITH gp AS (
            SELECT doc_id,
                   6 + (doc_id % 11) AS w,
                   6 + ((doc_id // 11) % 7) AS h
            FROM documents
        ),
        px AS (
            SELECT doc_id, w, h, x, y,
                   (doc_id + 3 * x + 5 * y) % 256
                   + (doc_id * 7 + 2 * x + y) % 256
                   + (doc_id * 13 + x + 4 * y) % 256 AS v
            FROM gp, range(0, 17) tx(x), range(0, 13) ty(y)
            WHERE x < w AND y < h AND x % 2 = 0 AND y % 2 = 0
        )
        SELECT doc_id AS media_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST((w + 1) // 2 AS INT) AS out_width,
               CAST((h + 1) // 2 AS INT) AS out_height,
               CAST(SUM(v) AS BIGINT) AS out_pixel_sum
        FROM px
        GROUP BY doc_id, w, h
        ORDER BY media_id
    """,
    survey_ref="LLM ops: multimodal resize — nearest-neighbor downscale of "
    "a gradient image via real numpy strided resampling through "
    "mapInPandas",
    description="per-document gradient PPM (pixel value varies with "
    "coordinates, so the resize output depends on WHICH pixels survive), "
    "parsed and downscaled 2x by numpy strided slicing over the true "
    "raster; the oracle recomputes the kept-coordinate sums exactly. "
    "Completes the brief's multimodal operator list (decode / "
    "feature-extract / frame-sample / resize). Map-only; the downscaled "
    "payload is 4x smaller — at 100 TB resize-before-featurize is the "
    "standard decode-bandwidth saver",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach._shiplib import ensure_shipped
    from sparkroach.functions.media import (
        resize_features,
        synthesize_gradient_media,
    )

    ensure_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    media = synthesize_gradient_media(docs)
    return resize_features(media, factor=2).orderBy("media_id")


def _ivfpq_oracle() -> str:
    """IVF-PQ: the k-means IVF assignment (nested as one CTE — the
    identical training chain ann_ivf_kmeans gates) restricts each query
    to its own cluster's members, and PQ-ADC lookup tables score ONLY
    those members."""
    from sparkroach.queries.llm_ops import _ivf_kmeans_oracle

    dist_rows = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, {k} AS k, "
        f"{_pq_dist_terms('embedding', m, k, False)} AS d FROM embeddings"
        for m in range(_PQ_M)
        for k in range(_PQ_K)
    )
    lut = _pq_lut_expr(False, vec="embedding")
    score = (
        "("
        + " + ".join(
            f"lut[{m + 1}][codes[{m + 1}] + 1]" for m in range(_PQ_M)
        )
        + ")"
    )
    return f"""
        WITH assign AS ({_ivf_kmeans_oracle("assign")}),
        dists AS ({dist_rows}),
        coded AS (
            SELECT vec_id, m, k AS code FROM (
                SELECT vec_id, m, k,
                       row_number() OVER (PARTITION BY vec_id, m
                                          ORDER BY d, k) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        codes AS (
            SELECT vec_id, list(code ORDER BY m) AS codes
            FROM coded GROUP BY vec_id
        ),
        q AS (
            SELECT e.vec_id AS q_id, {lut} AS lut, a.cluster
            FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
            WHERE e.vec_id < {_PQ_N_QUERIES}
        ),
        scored AS (
            SELECT q.q_id, m.vec_id AS c_id, ROUND({score}, 6) AS adc_dist
            FROM q
            JOIN assign m ON m.cluster = q.cluster AND m.vec_id <> q.q_id
            JOIN codes c ON c.vec_id = m.vec_id
        )
        SELECT q_id, c_id, adc_dist, rank FROM (
            SELECT q_id, c_id, adc_dist,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adc_dist, c_id) AS rank
            FROM scored
        ) WHERE rank <= {_PQ_TOP_K}
        ORDER BY q_id, rank
    """


@register(
    "ann_ivfpq_adc",
    oracle=_ivfpq_oracle(),
    survey_ref="LLM ops: ANN — IVF-PQ (Jégou et al. 2011, the composed "
    "billion-scale index: IVF cluster pruning bounds WHICH vectors are "
    "scored, PQ-ADC lookup tables bound the COST of scoring each one)",
    description="the composition the FAISS IVFPQ index implements: the "
    "trained k-means IVF assignment (identical chain to ann_ivf_kmeans, "
    "so the cluster routing is already gate-proven) restricts each "
    "query's candidates to its own cluster, and the PQ-ADC lookup table "
    f"({_PQ_M}×{_PQ_K} cells, {_PQ_M}-byte codes — 32× compression) "
    "scores only those candidates with table lookups.  At 100 TB this "
    "is THE memory/recall/cost operating point: the corpus lives as "
    "codes partitioned by cluster, a query touches one partition and "
    "never the float vectors.  Loop-compiled HOF expressions keep "
    "whole-stage codegen alive (see the PQ note above); scores are "
    "bit-identical to the unrolled DuckDB oracle before the final "
    "ROUND",
)
def ann_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops import _ivf_kmeans_parts

    e = load(spark, sf_dir, "embeddings")
    assign, _ = _ivf_kmeans_parts(spark, sf_dir)
    codes = e.select(
        "vec_id", F.expr(_pq_codes_hof_expr("embedding")).alias("codes")
    )
    q = (
        e.where(F.col("vec_id") < _PQ_N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.expr(_pq_lut_hof_expr("embedding")).alias("lut"),
        )
        .join(
            assign.select(F.col("vec_id").alias("q_id"), "cluster"), "q_id"
        )
    )
    members = assign.select(F.col("vec_id").alias("c_id"), "cluster")
    cand = (
        F.broadcast(q)
        .join(members, "cluster")
        .where(F.col("c_id") != F.col("q_id"))
        .join(codes.select(F.col("vec_id").alias("c_id"), "codes"), "c_id")
    )
    score = F.expr(
        " + ".join(
            f"element_at(element_at(lut, {m + 1}), element_at(codes, {m + 1}) + 1)"
            for m in range(_PQ_M)
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id"))
    return (
        cand.select("q_id", "c_id", F.round(score, 6).alias("adc_dist"))
        .select("q_id", "c_id", "adc_dist", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= _PQ_TOP_K)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# ann_ivfpq_rerank — two-stage retrieval: quantized shortlist, exact rerank
# ---------------------------------------------------------------------------
# Production dial, MEASURED at 100k vectors (r7 sweep, SCALE.md §11): the
# r6-pinned dial (8-cell single-probe k-means routing, 8×4-bit codes,
# 24-deep shortlist) measured recall@10 = 0.36 — and the sweep showed the
# routing was the binding constraint (its dial-independent ceiling was
# 0.76 while scanning 12.5% of the corpus).  The pinned configuration is
# the measured optimum of the (routing × resolution × shortlist) grid:
#
#   * stage 1: fine-cell MULTIPROBE routing (per-label centroid means,
#     top _RR_NPROBE=2 cells per query) — ceiling 0.9156 scanning 0.2%
#     of the corpus, vs 0.7594 at 12.5% for coarse single-probe k-means;
#   * codes: m=16 subvectors × 16 centroids (4-bit → 8 B/vector, 32×
#     compression) — at the 160-deep shortlist this equals the 16×8-bit
#     codebook's recall (both hit the 0.9156 routing ceiling) at half
#     the bytes; higher nbits only buys recall at SHALLOWER shortlists
#     (at 40 deep: 0.83 vs 0.72), a trade the sweep table records;
#   * shortlist: _RERANK_SHORTLIST=160 (16× top-k) — recall@10 0.9156
#     == the routing ceiling; per query that is 160 exact cosines on
#     top of ~200 8-byte ADC probes.
#
# ann_pq_adc / ann_ivfpq_adc keep the original 8×16×8 codebook and
# kmeans routing — they pin the ADC arithmetic parity; this operator
# pins the production two-stage configuration.

_RR_M, _RR_K, _RR_DSUB = 16, 16, 4  # 16 subvectors × 4-bit codes
_RR_NPROBE = 2  # fine-cell multiprobe width (stage 1)
_RERANK_SHORTLIST = 160  # ADC shortlist depth feeding the exact stage

_RR_CB = _pq_codebook(_RR_M, _RR_K, _RR_DSUB)
_RR_CB_LIT = _pq_cb_lit(_RR_CB)


def _ivfpq_rerank_oracle() -> str:
    """Stage 1 routes through the multiprobe probe CTE (the exact chain
    ann_ivf_multiprobe gates, as a derived table), PQ-ADC with the
    production 16×16×4 codebook shortlists probed members, stage 2
    rescans ONLY shortlist rows with exact float cosine and re-ranks."""
    from sparkroach.queries.llm_ops import (
        _DOT_SQL,
        _NORM_SQL,
        _ivf_multiprobe_oracle,
    )

    probes_sql = _ivf_multiprobe_oracle(n_probes=_RR_NPROBE, select="probes")
    dist_rows = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, {k} AS k, "
        f"{_pq_dist_terms('embedding', m, k, False, _RR_CB, _RR_DSUB)} AS d "
        "FROM embeddings"
        for m in range(_RR_M)
        for k in range(_RR_K)
    )
    lut_rows = []
    for m in range(_RR_M):
        cells = ", ".join(
            _pq_dist_terms("embedding", m, k, False, _RR_CB, _RR_DSUB)
            for k in range(_RR_K)
        )
        lut_rows.append(f"[{cells}]")
    lut = "[" + ", ".join(lut_rows) + "]"
    score = (
        "("
        + " + ".join(
            f"lut[{m + 1}][codes[{m + 1}] + 1]" for m in range(_RR_M)
        )
        + ")"
    )
    return f"""
        WITH probes AS (SELECT * FROM ({probes_sql}) _p),
        dists AS ({dist_rows}),
        coded AS (
            SELECT vec_id, m, k AS code FROM (
                SELECT vec_id, m, k,
                       row_number() OVER (PARTITION BY vec_id, m
                                          ORDER BY d, k) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        codes AS (
            SELECT vec_id, list(code ORDER BY m) AS codes
            FROM coded GROUP BY vec_id
        ),
        q AS (
            SELECT vec_id AS q_id, {lut} AS lut
            FROM embeddings WHERE vec_id < {_PQ_N_QUERIES}
        ),
        scored AS (
            SELECT q.q_id, mem.vec_id AS c_id, ROUND({score}, 6) AS adc_dist
            FROM q
            JOIN probes p ON p.q_id = q.q_id
            JOIN (SELECT vec_id, label FROM embeddings) mem
              ON mem.label = p.label AND mem.vec_id <> q.q_id
            JOIN codes c ON c.vec_id = mem.vec_id
        ),
        shortlist AS (
            SELECT q_id, c_id FROM (
                SELECT q_id, c_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY adc_dist, c_id) AS rn
                FROM scored
            ) WHERE rn <= {_RERANK_SHORTLIST}
        ),
        rer AS (
            SELECT s.q_id, s.c_id,
                   ROUND({_DOT_SQL}
                         / ({_NORM_SQL.format(col="qe")}
                            * {_NORM_SQL.format(col="ce")}),
                         6) AS cosine
            FROM shortlist s
            JOIN (SELECT vec_id, embedding AS qe FROM embeddings) eq
              ON eq.vec_id = s.q_id
            JOIN (SELECT vec_id, embedding AS ce FROM embeddings) ec
              ON ec.vec_id = s.c_id
        )
        SELECT q_id, c_id, cosine, rank FROM (
            SELECT q_id, c_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, c_id) AS rank
            FROM rer
        ) WHERE rank <= {_PQ_TOP_K}
        ORDER BY q_id, rank
    """


@register(
    "ann_ivfpq_rerank",
    oracle=_ivfpq_rerank_oracle(),
    survey_ref="LLM ops: ANN — two-stage retrieval (the production "
    "standard): fine-cell multiprobe IVF routes, PQ-ADC shortlists the "
    "probed members, exact float cosine reranks ONLY the shortlist — "
    "quantization error affects WHICH candidates survive stage 1, never "
    "the final ordering",
    description="the measured production configuration (r7 dial sweep, "
    f"SCALE.md §11 — recall@10 0.9156 at 100k vectors, equal to its "
    f"routing ceiling, scanning 0.2% of the corpus): multiprobe "
    f"routing over per-label centroid means (top {_RR_NPROBE} cells "
    f"per query), {_RR_M}×{_RR_K} codebook (4-bit codes, 8 B/vector, "
    f"32× compression), {_RERANK_SHORTLIST}-deep ADC shortlist "
    f"({_RERANK_SHORTLIST // _PQ_TOP_K}× top-k), exact cosine on "
    "shortlist rows only.  At 100 TB the float vectors live in a "
    "separate store accessed at shortlist rate (the FAISS refine / "
    "two-tower serving layout); the 8-byte-code index is "
    "cell-partitioned and a query reads two cells",
)
def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops import _DOT, _NORM, _ivf_multiprobe_parts

    e = load(spark, sf_dir, "embeddings")
    probes, _ = _ivf_multiprobe_parts(spark, sf_dir, _RR_NPROBE)
    codes = e.select(
        "vec_id",
        F.expr(
            _pq_codes_hof_expr("embedding", _RR_M, _RR_K, _RR_DSUB, _RR_CB_LIT)
        ).alias("codes"),
    )
    q = e.where(F.col("vec_id") < _PQ_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.expr(
            _pq_lut_hof_expr("embedding", _RR_M, _RR_K, _RR_DSUB, _RR_CB_LIT)
        ).alias("lut"),
    )
    members = e.select(F.col("vec_id").alias("c_id"), "label")
    cand = (
        F.broadcast(q.join(probes, "q_id"))
        .join(members, "label")
        .where(F.col("c_id") != F.col("q_id"))
        .join(codes.select(F.col("vec_id").alias("c_id"), "codes"), "c_id")
    )
    adc = F.expr(
        " + ".join(
            f"element_at(element_at(lut, {m + 1}), element_at(codes, {m + 1}) + 1)"
            for m in range(_RR_M)
        )
    )
    ws = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id"))
    shortlist = (
        # round BEFORE ranking, matching the oracle's ROUND(adc_dist, 6):
        # near-ties at the shortlist cut must break on (rounded, c_id)
        # identically in both engines
        cand.select("q_id", "c_id", F.round(adc, 6).alias("adc"))
        .select("q_id", "c_id", F.row_number().over(ws).alias("rn"))
        .where(F.col("rn") <= _RERANK_SHORTLIST)
        .select("q_id", "c_id")
    )
    qe = e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    ce = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    cosine = F.round(
        F.expr(_DOT)
        / (F.expr(_NORM.format(col="qe")) * F.expr(_NORM.format(col="ce"))),
        6,
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        shortlist.join(F.broadcast(qe), "q_id")
        .join(ce, "c_id")
        .select("q_id", "c_id", cosine.alias("cosine"))
        .select("q_id", "c_id", "cosine", F.row_number().over(wr).alias("rank"))
        .where(F.col("rank") <= _PQ_TOP_K)
        .orderBy("q_id", "rank")
    )
