"""Round-7 late wave 6: five more R8-window candidates (registered,
oracle-verified at three SFs, DELEGATED with driver-proven or
in-window twins until R8 slots open).

* ``dup_span_cut_list`` — the EXTRACTION step of span-level substring
  dedup (Lee et al. 2022): ``dup_span_coverage`` measures how much of
  each doc is duplicated; this operator emits the actual maximal
  duplicated spans — the cut list a span-removal pass executes.
  Machinery: gaps-and-islands over the covered word positions
  (position − row_number is constant within a contiguous run).

* ``phrase_query_positions`` — exact phrase search over a POSITIONAL
  inverted index: the corpus's top trigram phrases are found by two
  adjacency self-joins on (doc_id, pos)=(doc_id, pos+1), then each
  phrase's document/occurrence counts come from the same positional
  join.  BM25 (recorded r6) ranks bags of words; phrase match is the
  other half of a lexical retrieval engine and needs positions, not
  term frequencies.

* ``dedup_cluster_bcubed`` — B-cubed precision/recall of a clustering
  against gold (Bagga & Baldwin 1998; the standard dedup-clustering
  metric): predicted clusters from a 10-word prefix fingerprint, gold
  clusters from exact text equality.  Per-item ratios are quantized to
  integers (floor(x·10^9) via integer division — exact on both
  engines), summed exactly, divided once at the end.

* ``dsir_importance_weights`` — hashed-n-gram importance weighting in
  the shape of DSIR (Xie et al. 2023, 'Data Selection for Language
  Models via Importance Resampling'): bigrams hashed into a fixed
  bucket vocabulary, a target/raw count table trained on the even-id
  half, odd-id docs scored by Σ c_f·w_f with an INTEGER ratio weight
  w_f = ((t_f+1)·2^16) div (r_f+1) standing in for the log-likelihood
  ratio (monotone in the ratio, reproducible bit-for-bit — no
  cross-engine transcendental hazard), keep label decided by integer
  cross-multiplication.

* ``shard_rendezvous_assign`` — rendezvous (highest-random-weight)
  hashing of documents onto shards: shard = argmax_s h(doc‖s).  The
  property that matters at 100 TB: adding a shard moves only ~1/(S+1)
  of the keys (unlike mod-S, which moves almost all), so incremental
  re-sharding of a corpus is cheap.  One generated-column explode +
  window argmax; output is the per-shard balance/ownership report.

Reference parity: none; LLM-training-data surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

_HEX = "0123456789abcdef"


def _th32_sql(col: str) -> str:
    """DuckDB: first 8 hex chars of md5 as a BIGINT in [0, 2^32)."""
    return " + ".join(
        f"(instr('{_HEX}', substring({col}, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )


def _th32(col) -> F.Column:
    """Spark twin of :func:`_th32_sql`."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# dup_span_cut_list
# ---------------------------------------------------------------------------

CUT_SPAN_WORDS = 16


@register(
    "dup_span_cut_list",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        win0 AS (
            SELECT doc_id,
                   unnest([{{'i': i,
                            'ph': md5(array_to_string(
                                      ws[i+1:i+{CUT_SPAN_WORDS}], ' '))}}
                           for i in range(0, greatest(len(ws)
                                                      - {CUT_SPAN_WORDS - 1},
                                                      0))])
                       AS s
            FROM w
        ),
        win AS (SELECT doc_id, s.i AS i, s.ph AS ph FROM win0),
        hd AS (
            SELECT ph FROM win GROUP BY ph
            HAVING COUNT(DISTINCT doc_id) > 1
        ),
        covered AS (
            SELECT DISTINCT doc_id, wd FROM (
                SELECT win.doc_id,
                       unnest([win.i + j
                               for j in range(0, {CUT_SPAN_WORDS})]) AS wd
                FROM win JOIN hd ON hd.ph = win.ph
            )
        ),
        runs AS (
            SELECT doc_id, wd,
                   wd - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY wd) AS grp
            FROM covered
        ),
        spans AS (
            SELECT doc_id, CAST(MIN(wd) AS BIGINT) AS span_start,
                   CAST(MAX(wd) AS BIGINT) AS span_end,
                   CAST(COUNT(*) AS BIGINT) AS span_len
            FROM runs GROUP BY doc_id, grp
        )
        SELECT s.doc_id, s.span_start, s.span_end, s.span_len,
               CAST(len(w.ws) AS BIGINT) AS n_words
        FROM spans s JOIN w USING (doc_id)
        ORDER BY s.doc_id, s.span_start
    """,
    survey_ref="LLM ops: span-level substring-dedup cut list (Lee et "
    "al. 2022) — the maximal duplicated word spans per document, i.e. "
    "the intervals a span-removal pass deletes; complements the "
    "recorded dup_span_coverage metric with the actionable output",
    description=f"every {CUT_SPAN_WORDS}-word window is hashed; windows "
    "whose hash occurs in >1 document mark their word positions "
    "covered; contiguous covered runs become maximal spans via "
    "gaps-and-islands (position − row_number constant within a run).  "
    "Every stage is a grouped agg, equi-join, or partitioned window — "
    "the per-doc window is bounded by document length, never corpus "
    "size, so the plan is unchanged at 100 TB.  By construction each "
    f"emitted span is ≥ {CUT_SPAN_WORDS} words (one full dup window)",
)
def dup_span_cut_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("ws"))
    idx = F.when(
        F.size("ws") >= CUT_SPAN_WORDS,
        F.sequence(F.lit(0), F.size("ws") - CUT_SPAN_WORDS),
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    win = (
        w.select("doc_id", "ws", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            "i",
            F.expr(
                f"md5(array_join(slice(ws, i + 1, {CUT_SPAN_WORDS}), ' '))"
            ).alias("ph"),
        )
        # consumed by the dup-hash agg AND the cover join
        .localCheckpoint(eager=True)
    )
    hd = (
        win.groupBy("ph")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("ph")
    )
    covered = (
        win.join(hd, "ph")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + CUT_SPAN_WORDS - 1)
            ).alias("wd"),
        )
        .distinct()
    )
    runs = covered.withColumn(
        "grp",
        F.col("wd")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("wd")),
    )
    spans = runs.groupBy("doc_id", "grp").agg(
        F.min("wd").cast("long").alias("span_start"),
        F.max("wd").cast("long").alias("span_end"),
        F.count("*").cast("long").alias("span_len"),
    )
    return (
        spans.join(w, "doc_id")
        .select(
            "doc_id",
            "span_start",
            "span_end",
            "span_len",
            F.size("ws").cast("long").alias("n_words"),
        )
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------------------------------
# phrase_query_positions
# ---------------------------------------------------------------------------

_PHRASE_TOP = 5


@register(
    "phrase_query_positions",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                         unnest(range(1, len(string_split(text, ' ')) + 1))
                             AS i
                  FROM documents)
        ),
        tri AS (
            SELECT a.doc_id, a.p,
                   a.w || ' ' || b.w || ' ' || c.w AS phrase
            FROM pos a
            JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
            JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
        ),
        top AS (
            SELECT phrase, COUNT(*) AS n_occurrences,
                   COUNT(DISTINCT doc_id) AS n_docs,
                   MIN(doc_id) AS first_doc_id
            FROM tri GROUP BY phrase
            ORDER BY COUNT(*) DESC, phrase
            LIMIT {_PHRASE_TOP}
        )
        SELECT phrase, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_occurrences AS BIGINT) AS n_occurrences,
               CAST(first_doc_id AS BIGINT) AS first_doc_id
        FROM top ORDER BY n_occurrences DESC, phrase
    """,
    survey_ref="LLM ops: exact phrase query over a positional inverted "
    "index — adjacency self-joins on (doc_id, position); the other half "
    "of lexical retrieval next to the recorded BM25 bag-of-words ranker",
    description="words are exploded with their positions (the "
    "positional posting list); trigram phrases materialize by joining "
    "the posting list to itself twice on (doc_id, pos+1)/(doc_id, "
    f"pos+2); the top {_PHRASE_TOP} phrases by occurrence (phrase "
    "lexicographic tie-break) are reported with doc/occurrence counts.  "
    "The self-join keys on (doc_id, pos) — co-partitioned by doc, no "
    "corpus-size shuffle amplification; a real engine would keep the "
    "positional index bucketed by term, which this plan's groupBy "
    "stage models.  TakeOrderedAndProject caps the driver at "
    f"{_PHRASE_TOP} rows",
)
def phrase_query_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "w")
    ).select("doc_id", F.col("p").cast("long").alias("p"), "w")
    a, b, c = pos.alias("a"), pos.alias("b"), pos.alias("c")
    tri = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") == F.col("a.p") + 1),
        )
        .join(
            c,
            (F.col("a.doc_id") == F.col("c.doc_id"))
            & (F.col("c.p") == F.col("a.p") + 2),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.concat_ws(
                " ", F.col("a.w"), F.col("b.w"), F.col("c.w")
            ).alias("phrase"),
        )
    )
    return (
        tri.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
        )
        .orderBy(F.col("n_occurrences").desc(), "phrase")
        .limit(_PHRASE_TOP)
    )


# ---------------------------------------------------------------------------
# dedup_cluster_bcubed
# ---------------------------------------------------------------------------

_BC_PREFIX_WORDS = 10
_BC_Q = 10**9  # per-item ratio quantizer (exact integer division)


@register(
    "dedup_cluster_bcubed",
    oracle=f"""
        WITH labeled AS (
            SELECT doc_id,
                   CAST({_th32_sql(
                       "md5(array_to_string("
                       f"string_split(text, ' ')[1:{_BC_PREFIX_WORDS}],"
                       " ' '))"
                   )} AS BIGINT) AS pred,
                   CAST({_th32_sql("md5(text)")} AS BIGINT) AS gold
            FROM documents
        ),
        cell AS (
            SELECT pred, gold, COUNT(*) AS c
            FROM labeled GROUP BY pred, gold
        ),
        psz AS (SELECT pred, SUM(c) AS ps FROM cell GROUP BY pred),
        gsz AS (SELECT gold, SUM(c) AS gs FROM cell GROUP BY gold),
        item AS (
            SELECT cell.c,
                   (cell.c * {_BC_Q}) // psz.ps AS prec_q,
                   (cell.c * {_BC_Q}) // gsz.gs AS rec_q
            FROM cell
            JOIN psz USING (pred) JOIN gsz USING (gold)
        ),
        tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
                   CAST(SUM(c * prec_q) AS BIGINT) AS prec_q_sum,
                   CAST(SUM(c * rec_q) AS BIGINT) AS rec_q_sum
            FROM item
        )
        SELECT n_docs, prec_q_sum, rec_q_sum,
               CAST(prec_q_sum AS DOUBLE)
                   / (CAST(n_docs AS DOUBLE) * {_BC_Q}) AS bcubed_precision,
               CAST(rec_q_sum AS DOUBLE)
                   / (CAST(n_docs AS DOUBLE) * {_BC_Q}) AS bcubed_recall
        FROM tot
    """,
    survey_ref="LLM ops: B-cubed precision/recall (Bagga & Baldwin "
    "1998) — the standard extrinsic metric for dedup clusterings; "
    "evaluates a prefix-fingerprint clustering against exact-text gold",
    description=f"each doc gets a predicted cluster (md5 of its first "
    f"{_BC_PREFIX_WORDS} words) and a gold cluster (md5 of the full "
    "text); the (pred, gold) contingency cell counts give every item "
    "in a cell precision c/|pred| and recall c/|gold|.  Ratios are "
    f"quantized floor(x·10^9) by INTEGER division (exact on both "
    "engines), summed exactly, divided once into a DOUBLE at the end — "
    "no float summation-order hazard.  Three grouped counts + two "
    "broadcast-size joins on cluster ids: the contingency table is "
    "#distinct-cluster-pairs rows, not corpus rows, so the plan holds "
    "at 100 TB",
)
def dedup_cluster_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    labeled = d.select(
        "doc_id",
        _th32(
            F.md5(
                F.array_join(
                    F.slice(F.split("text", " "), 1, _BC_PREFIX_WORDS), " "
                )
            )
        ).alias("pred"),
        _th32(F.md5("text")).alias("gold"),
    )
    cell = labeled.groupBy("pred", "gold").agg(F.count("*").alias("c"))
    psz = cell.groupBy("pred").agg(F.sum("c").alias("ps"))
    gsz = cell.groupBy("gold").agg(F.sum("c").alias("gs"))
    item = (
        cell.join(psz, "pred")
        .join(gsz, "gold")
        .select(
            "c",
            F.expr(f"(c * {_BC_Q}) div ps").alias("prec_q"),
            F.expr(f"(c * {_BC_Q}) div gs").alias("rec_q"),
        )
    )
    return item.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.col("c") * F.col("prec_q")).cast("long").alias("prec_q_sum"),
        F.sum(F.col("c") * F.col("rec_q")).cast("long").alias("rec_q_sum"),
    ).select(
        "n_docs",
        "prec_q_sum",
        "rec_q_sum",
        (
            F.col("prec_q_sum").cast("double")
            / (F.col("n_docs").cast("double") * _BC_Q)
        ).alias("bcubed_precision"),
        (
            F.col("rec_q_sum").cast("double")
            / (F.col("n_docs").cast("double") * _BC_Q)
        ).alias("bcubed_recall"),
    )


# ---------------------------------------------------------------------------
# dsir_importance_weights
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_SCALE = 1 << 16
# keep threshold: score ≥ 1.25 (= 5/4) of the neutral weight — docs whose
# hashed-bigram profile is at least 25% "more target-like" than raw
_DSIR_KEEP_NUM, _DSIR_KEEP_DEN = 5, 4


@register(
    "dsir_importance_weights",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        big AS (
            SELECT doc_id,
                   CAST(({_th32_sql(
                       "md5(ws[i+1] || ' ' || ws[i+2])"
                   )}) % {_DSIR_BUCKETS} AS BIGINT) AS f
            FROM (SELECT doc_id, ws,
                         unnest(range(0, greatest(len(ws) - 1, 0))) AS i
                  FROM toks)
        ),
        target AS (
            SELECT f, COUNT(*) AS t FROM big
            WHERE doc_id % 2 = 0 GROUP BY f
        ),
        raw AS (
            SELECT f, COUNT(*) AS r FROM big
            WHERE doc_id % 2 = 1 GROUP BY f
        ),
        buckets AS (SELECT unnest(range(0, {_DSIR_BUCKETS})) AS f),
        wt AS (
            SELECT b.f,
                   ((COALESCE(t.t, 0) + 1) * {_DSIR_SCALE})
                       // (COALESCE(r.r, 0) + 1) AS w
            FROM buckets b
            LEFT JOIN target t ON t.f = b.f
            LEFT JOIN raw r ON r.f = b.f
        ),
        scored AS (
            SELECT big.doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(wt.w) AS BIGINT) AS score_num
            FROM big JOIN wt USING (f)
            WHERE big.doc_id % 2 = 1
            GROUP BY big.doc_id
        )
        SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, score_num,
               CAST(score_num AS DOUBLE)
                   / (CAST(n_bigrams AS DOUBLE) * {_DSIR_SCALE})
                   AS importance,
               CAST(score_num * {_DSIR_KEEP_DEN} >=
                    n_bigrams * {_DSIR_SCALE} * {_DSIR_KEEP_NUM}
                    AS BOOLEAN) AS keep
        FROM scored ORDER BY doc_id
    """,
    survey_ref="LLM ops: hashed-n-gram importance weighting (DSIR — "
    "Xie et al. 2023) — target/raw bucket count table trained on one "
    "half of the corpus, the other half scored by the per-bucket ratio "
    "weight; the data-selection pass before pretraining-mix sampling",
    description=f"bigrams hash into {_DSIR_BUCKETS} buckets; target "
    "counts come from even doc_ids, raw counts from odd; the bucket "
    f"weight is the INTEGER ratio ((t+1)·2^16) div (r+1) — a monotone "
    "surrogate for the DSIR log-likelihood ratio with zero cross-engine "
    "transcendental hazard — and each held-out (odd) doc scores "
    "Σ_f c_f·w_f with exactly one IEEE division at the end; the keep "
    f"label (score ≥ {_DSIR_KEEP_NUM}/{_DSIR_KEEP_DEN}) is decided by "
    "integer cross-multiplication so no float is ever compared.  The "
    f"weight table is {_DSIR_BUCKETS} rows — always broadcast; the "
    "corpus never shuffles except the bucket-count agg.  Headroom: "
    "(t+1)·2^16 < 2^63 to ~1.4e14 target bigrams (ANSI mode errors "
    "loudly beyond)",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ws"))
    idx = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(0), F.size("ws") - 2)
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    big = (
        toks.select("doc_id", "ws", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            (
                _th32(F.expr("concat(ws[i], ' ', ws[i+1])"))
                % _DSIR_BUCKETS
            ).alias("f"),
        )
        # consumed by the target agg, the raw agg, and the scoring join
        .localCheckpoint(eager=True)
    )
    target = (
        big.where(F.col("doc_id") % 2 == 0)
        .groupBy("f")
        .agg(F.count("*").alias("t"))
    )
    raw = (
        big.where(F.col("doc_id") % 2 == 1)
        .groupBy("f")
        .agg(F.count("*").alias("r"))
    )
    buckets = spark.range(_DSIR_BUCKETS).selectExpr(
        "CAST(id AS BIGINT) AS f"
    )
    wt = (
        buckets.join(target, "f", "left")
        .join(raw, "f", "left")
        .select(
            "f",
            F.expr(
                f"((coalesce(t, 0) + 1) * {_DSIR_SCALE}) "
                "div (coalesce(r, 0) + 1)"
            ).alias("w"),
        )
    )
    scored = (
        big.where(F.col("doc_id") % 2 == 1)
        .join(F.broadcast(wt), "f")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("w").cast("long").alias("score_num"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "score_num",
        (
            F.col("score_num").cast("double")
            / (F.col("n_bigrams").cast("double") * _DSIR_SCALE)
        ).alias("importance"),
        (
            F.col("score_num") * _DSIR_KEEP_DEN
            >= F.col("n_bigrams") * _DSIR_SCALE * _DSIR_KEEP_NUM
        ).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# shard_rendezvous_assign
# ---------------------------------------------------------------------------

_RDV_SHARDS = 16


@register(
    "shard_rendezvous_assign",
    oracle=f"""
        WITH cand AS (
            SELECT d.doc_id, s.s,
                   CAST({_th32_sql(
                       "md5(CAST(d.doc_id AS VARCHAR) || ':' "
                       "|| CAST(s.s AS VARCHAR))"
                   )} AS BIGINT) AS h
            FROM documents d,
                 (SELECT unnest(range(0, {_RDV_SHARDS})) AS s) s
        ),
        owner AS (
            SELECT doc_id, s AS shard, h FROM (
                SELECT doc_id, s, h,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id
                           ORDER BY h DESC, s) AS rk
                FROM cand
            ) WHERE rk = 1
        )
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
               CAST(SUM(h) AS BIGINT) AS weight_sum
        FROM owner GROUP BY shard ORDER BY shard
    """,
    survey_ref="LLM ops: rendezvous (highest-random-weight) shard "
    "assignment — argmax_s h(doc‖s); adding a shard moves only "
    "~1/(S+1) of the keys, the property incremental re-sharding of a "
    "100 TB corpus depends on (mod-S moves nearly all keys)",
    description=f"each doc generates {_RDV_SHARDS} candidate weights "
    "md5(doc_id:s); the owning shard is the argmax (hash desc, shard "
    "asc tie-break — deterministic even under md5 collisions).  The "
    "candidate explode is a generated column (no join input), the "
    "argmax one per-doc window over a constant-size frame, the report "
    f"a {_RDV_SHARDS}-group agg.  Map-only until the final tiny "
    "groupBy — at 100 TB the assignment runs inside the scan stage",
)
def shard_rendezvous_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cand = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(_RDV_SHARDS - 1))
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s").cast("long").alias("s"),
        _th32(
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.col("s").cast("string")
            )
        ).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("h").desc(), F.col("s"))
    owner = (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("s").alias("shard"), "h")
    )
    return (
        owner.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
            F.sum("h").cast("long").alias("weight_sum"),
        )
        .orderBy("shard")
    )
