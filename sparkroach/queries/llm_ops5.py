"""LLM-pipeline operators, round-4 continuation (wave 5): provenance-
aware dedup reporting, embedding drift monitoring, the dataset-card
summary, and LSH tuning diagnostics.

- ``cross_source_dup_matrix`` — verified near-dup pairs grouped by the
  (source, source) pair: the provenance view of duplication.  Real
  pipelines treat WITHIN-source dups (mirrors, reposts) differently from
  CROSS-source dups (scrape overlap, benchmark leakage); this is the
  matrix that decides which.
- ``label_centroid_drift`` — per-label mean embedding on two corpus
  halves and the squared-L2 distance between them: the drift monitor
  run between ingest generations (a shifted centroid = the upstream
  distribution moved).  Sums are DECIMAL-exact; the cross-dimension fold
  runs in index order on both engines.
- ``dataset_card_stats`` — the per-source dataset card: documents,
  tokens, languages, near-dup exposure, mean length — the one-screen
  composition summary published next to a training corpus.
- ``lsh_band_selectivity`` — per-band bucket statistics (buckets, max
  bucket, singletons, Σ C(n,2) pair contribution): the diagnostic that
  tunes band/row counts BEFORE running the pair join (a band whose
  biggest bucket explodes pairs is the one to re-parameterize).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.llm_ops import (
    _JACC_SQL,
    _JACCARD_TAU,
    _lsh_candidates_cte,
    _verified_pairs,
    _with_shingles,
    lsh_bands,
)
from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# cross_source_dup_matrix
# ---------------------------------------------------------------------------


def _dup_matrix_oracle() -> str:
    lsh = _lsh_candidates_cte().strip()
    assert lsh.startswith("WITH ")
    return f"""
        WITH {lsh[len("WITH "):]},
        verified AS (
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        ),
        srcpairs AS (
            SELECT LEAST(da.source, db.source) AS source_a,
                   GREATEST(da.source, db.source) AS source_b,
                   (da.source = db.source) AS within
            FROM verified v
            JOIN documents da ON da.doc_id = v.doc_a
            JOIN documents db ON db.doc_id = v.doc_b
        )
        SELECT source_a, source_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN within THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_within
        FROM srcpairs
        GROUP BY source_a, source_b
        ORDER BY source_a, source_b
    """


@register(
    "cross_source_dup_matrix",
    oracle=_dup_matrix_oracle(),
    survey_ref="LLM ops: provenance-aware dedup — the verified near-dup "
    "pair count per (source, source) pair; within-source vs cross-source "
    "duplication drive different keep/drop policies",
    description="joins the shared capped-LSH verified pairs to the "
    "documents table twice (doc_id equi-joins — the cluster table is "
    "tiny next to the corpus, so both joins broadcast the pair side at "
    "scale) and normalizes each pair's sources with LEAST/GREATEST so "
    "the matrix is triangular.  Cross-source mass signals scrape overlap "
    "or benchmark leakage; within-source mass signals mirrors — the "
    "split real pipelines act on differently",
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pairs = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_a", "doc_b")
    )
    src = d.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("sa") == F.col("sb")).alias("within"),
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("within"), 1).otherwise(0))
            .cast("long")
            .alias("n_within"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# label_centroid_drift
# ---------------------------------------------------------------------------


TOP_DRIFT_DIMS = 8


@register(
    "label_centroid_drift",
    oracle="""
        WITH ex AS (
            -- parallel unnest zips the value list with its index list
            -- (this DuckDB has no WITH ORDINALITY)
            SELECT label, vec_id % 2 AS half,
                   unnest(range(1, len(embedding) + 1)) AS i,
                   unnest(embedding) AS x
            FROM embeddings
        ),
        sums AS (
            -- micro-unit quantization: FLOOR(x·1e6) of the double value.
            -- floor is TIE-FREE (unlike round-to-decimal, whose half-way
            -- cases resolve differently between Spark's shortest-repr
            -- BigDecimal rounding and DuckDB's exact-binary rounding —
            -- both a REAL→DECIMAL cast and a drift_sq design died of
            -- that at sf0.1), so the integer sums are bit-identical.
            SELECT label, half, i,
                   SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0)
                            AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM ex GROUP BY label, half, i
        ),
        dims AS (
            -- mean drift per dim in micro-units: exact-integer operands,
            -- two IEEE divisions and one subtraction — deterministic
            SELECT a.label, a.i,
                   CAST(a.s AS DOUBLE) / a.n
                       - CAST(b.s AS DOUBLE) / b.n AS d,
                   a.n AS n_even, b.n AS n_odd
            FROM sums a JOIN sums b
              ON a.label = b.label AND a.i = b.i
             AND a.half = 0 AND b.half = 1
        ),
        ranked_dims AS (
            SELECT label, i, d, d * d AS d_sq, n_even, n_odd,
                   row_number() OVER (
                       PARTITION BY label ORDER BY d * d DESC, i
                   ) AS drift_rank
            FROM dims
        )
        SELECT label, CAST(i AS INT) AS dim,
               d AS drift, d_sq AS drift_sq,
               CAST(n_even AS BIGINT) AS n_even,
               CAST(n_odd AS BIGINT) AS n_odd,
               CAST(drift_rank AS BIGINT) AS drift_rank
        FROM ranked_dims
        WHERE drift_rank <= {TOP_DRIFT_DIMS}
        ORDER BY label, drift_rank
    """.replace("{TOP_DRIFT_DIMS}", str(TOP_DRIFT_DIMS)),
    survey_ref="LLM ops: embedding drift monitoring — per-label centroid "
    "distance between two corpus partitions (ingest generations); the "
    "check run before mixing a new crawl into the training corpus",
    description="splits the embedding corpus into even/odd halves (stand-"
    "ins for 'last generation' and 'this generation'), computes each "
    "label's per-dimension mean over micro-unit-quantized values "
    "(floor(x·1e6) — floor is tie-free, so the integer sums are "
    "bit-identical across engines where round-to-decimal half-way cases "
    "are not), and reports each label's TOP-8 drifted "
    "dimensions (ranked by squared difference — every reported number "
    "is a single IEEE-determined operation on exact operands, so no "
    "cross-dimension float summation exists to diverge between engines; "
    "an earlier drift_sq design died exactly that death at a "
    "round-to-12 boundary at sf0.1).  The per-dimension view is also "
    "the actionable artifact: it names WHICH dimensions moved.  The "
    "posexplode→grouped-sum shape is one shuffle by (label, half, dim) "
    "— fully parallel at any corpus size",
)
def label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        F.pmod("vec_id", F.lit(2)).alias("half"),
        F.posexplode("embedding").alias("i", "x"),
    )
    # micro-unit quantization via floor — tie-free, so the integer sums
    # are bit-identical across engines (see the oracle's comment)
    sums = ex.groupBy("label", "half", "i").agg(
        F.sum(
            F.floor(F.col("x").cast("double") * 1000000.0).cast("long")
        ).alias("s"),
        F.count("*").alias("n"),
    )
    a = sums.where(F.col("half") == 0).alias("a")
    b = sums.where(F.col("half") == 1).alias("b")
    dims = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.i") == F.col("b.i"))
    ).select(
        F.col("a.label").alias("label"),
        F.col("a.i").alias("i"),
        (
            F.col("a.s").cast("double") / F.col("a.n")
            - F.col("b.s").cast("double") / F.col("b.n")
        ).alias("d"),
        F.col("a.n").alias("n_even"),
        F.col("b.n").alias("n_odd"),
    )
    w = Window.partitionBy("label").orderBy(
        (F.col("d") * F.col("d")).desc(), F.col("i")
    )
    return (
        dims.withColumn("drift_rank", F.row_number().over(w))
        .where(F.col("drift_rank") <= TOP_DRIFT_DIMS)
        .select(
            "label",
            # DuckDB's index list is 1-based; posexplode is 0-based
            (F.col("i") + 1).cast("int").alias("dim"),
            F.col("d").alias("drift"),
            (F.col("d") * F.col("d")).alias("drift_sq"),
            F.col("n_even").cast("long").alias("n_even"),
            F.col("n_odd").cast("long").alias("n_odd"),
            F.col("drift_rank").cast("long").alias("drift_rank"),
        )
        .orderBy("label", "drift_rank")
    )


# ---------------------------------------------------------------------------
# dataset_card_stats
# ---------------------------------------------------------------------------


def _card_oracle() -> str:
    lsh = _lsh_candidates_cte().strip()
    assert lsh.startswith("WITH ")
    return f"""
        WITH {lsh[len("WITH "):]},
        verified AS (
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        ),
        dup_docs AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM verified
                UNION ALL SELECT doc_b FROM verified
            )
        ),
        per_doc AS (
            SELECT d.source, d.doc_id, d.n_chars, d.lang,
                   len(string_split(d.text, ' ')) AS n_tokens,
                   (dd.doc_id IS NOT NULL) AS is_dup
            FROM documents d LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """


@register(
    "dataset_card_stats",
    oracle=_card_oracle(),
    survey_ref="LLM ops: dataset card — the per-source composition "
    "summary (documents, tokens, languages, near-dup exposure, mean "
    "length) published alongside a training corpus",
    description="one row per source: exact document/token/language "
    "counts, how many documents appear in at least one verified "
    "near-dup pair (the shared capped-LSH pipeline's output, exploded "
    "to a distinct doc set and LEFT-joined back — the dup set is "
    "corpus-proportional, so the join shuffles on doc_id and AQE "
    "broadcasts it only when genuinely small), and mean length as one "
    "division of exact "
    "integers.  This is the artifact the mix-weight operators "
    "(domain_mix_weights, temperature_mix_weights) consume — the "
    "card IS the corpus's interface at 100 TB",
)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pairs = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_a", "doc_b")
    )
    # r9: explode(array(a, b)) instead of a union of two projections —
    # the union planned the ENTIRE verify-join subtree twice (both
    # branches re-ran the candidate join against the shingle sets; the
    # before-plan shows the pair pipeline duplicated under the union).
    # explode emits both endpoints from ONE execution of the pair
    # pipeline, map-side; same distinct endpoint set (guide §2.4).
    dup_docs = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    per_doc = d.join(dup_docs, "doc_id", "left").select(
        "source",
        "n_chars",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias(
                "mean_chars"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# lsh_band_selectivity
# ---------------------------------------------------------------------------


def _band_selectivity_oracle() -> str:
    # reuse the signature/band CTEs, then per-band bucket statistics
    lsh = _lsh_candidates_cte().strip()
    # keep everything up to (and incl.) the bands CTE; drop the cand tail
    head = lsh[: lsh.index(",\n        bn")]
    return f"""
        {head}
        , buckets AS (
            SELECT band_idx, band_val, COUNT(*) AS n
            FROM bands GROUP BY band_idx, band_val
        )
        SELECT band_idx,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(MAX(n) AS BIGINT) AS max_bucket,
               CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_singletons,
               CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS pair_contribution
        FROM buckets
        GROUP BY band_idx
        ORDER BY band_idx
    """


@register(
    "lsh_band_selectivity",
    oracle=_band_selectivity_oracle(),
    survey_ref="LLM ops: LSH tuning diagnostic — per-band bucket "
    "statistics (bucket count, max bucket, singletons, Σ C(n,2) pair "
    "contribution) computed BEFORE the pair join",
    description="groups the shared minhash band table by (band, bucket) "
    "and reports, per band: how many buckets, the largest, how many are "
    "singletons (contribute nothing), and the uncapped all-pairs count "
    "the band WOULD contribute (Σ n·(n−1)/2 — exact integers).  This is "
    "the skew report of the dedup plane (suppkey_skew_report's sibling): "
    "at 100 TB you run it first, and a band whose pair_contribution "
    "explodes is the signal to add rows-per-band or rely on the bucket "
    "cap.  Two grouped aggregations over the band table; the corpus is "
    "touched once by the signature stage",
)
def lsh_band_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bands = lsh_bands(_with_shingles(d))
    buckets = bands.groupBy("band_idx", "band_val").agg(
        F.count("*").alias("n")
    )
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.max("n").cast("long").alias("max_bucket"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_singletons"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("long")
            .alias("pair_contribution"),
        )
        .orderBy("band_idx")
    )


# ---------------------------------------------------------------------------
# dup_span_coverage — Lee et al. duplicated-span coverage per document
# ---------------------------------------------------------------------------

SPAN_WORDS = 16


@register(
    "dup_span_coverage",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        -- LATERAL range() rejects column parameters in this DuckDB;
        -- list comprehensions over range() accept them, so windows are
        -- built as (i, hash) structs and unnested
        win0 AS (
            SELECT doc_id,
                   unnest([{{'i': i,
                            'ph': md5(array_to_string(
                                      ws[i+1:i+{SPAN_WORDS}], ' '))}}
                           for i in range(0, greatest(len(ws)
                                                      - {SPAN_WORDS - 1}, 0))])
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
                               for j in range(0, {SPAN_WORDS})]) AS wd
                FROM win JOIN hd ON hd.ph = win.ph
            )
        ),
        cov_n AS (
            SELECT doc_id, COUNT(*) AS n_covered FROM covered GROUP BY doc_id
        )
        SELECT w.doc_id,
               CAST(len(w.ws) AS BIGINT) AS n_words,
               CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered_words,
               CAST(COALESCE(c.n_covered, 0) AS DOUBLE) / len(w.ws)
                   AS covered_fraction
        FROM w LEFT JOIN cov_n c ON c.doc_id = w.doc_id
        ORDER BY w.doc_id
    """,
    survey_ref="LLM ops: duplicated-span coverage (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better') — the "
    "fraction of each document covered by word spans that also occur in "
    "another document; the REMOVAL metric suffix-array substring dedup "
    "acts on",
    description=f"every {SPAN_WORDS}-word window is hashed (the "
    "passage_dedup_exact stage); windows whose hash occurs in more than "
    "one document mark all their word positions covered, and the "
    "distinct covered positions per doc over its word count is the "
    "span-coverage fraction — docs near 1.0 are TEMPLATED (near-whole "
    "duplication), docs with a small positive fraction carry a shared "
    "boilerplate span, the signal for span-level (not doc-level) "
    "removal.  The window table is corpus×~words rows but every stage "
    "is a grouped agg or equi-join; the position-explode is bounded by "
    f"{SPAN_WORDS}× the dup windows only, never the corpus",
)
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("ws"))
    idx = F.when(
        F.size("ws") >= SPAN_WORDS,
        F.sequence(F.lit(0), F.size("ws") - SPAN_WORDS),
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    win = (
        w.select("doc_id", "ws", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            "i",
            F.expr(
                f"md5(array_join(slice(ws, i + 1, {SPAN_WORDS}), ' '))"
            ).alias("ph"),
        )
        # consumed by the dup-hash agg AND the cover join (see
        # passage_dedup_exact for the measured cost of recomputing)
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
                F.sequence(F.col("i"), F.col("i") + SPAN_WORDS - 1)
            ).alias("wd"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_covered"))
    )
    return (
        w.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            F.coalesce("n_covered", F.lit(0))
            .cast("long")
            .alias("n_covered_words"),
            (
                F.coalesce("n_covered", F.lit(0)).cast("double")
                / F.size("ws")
            ).alias("covered_fraction"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# keep-best selection per near-dup cluster (shared by the two oracles below)
# ---------------------------------------------------------------------------


def _keep_best_oracle() -> str:
    lsh = _lsh_candidates_cte().strip()
    assert lsh.startswith("WITH ")
    return f"""
        WITH RECURSIVE {lsh[len("WITH "):]},
        edges AS (
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM edges
        ),
        reach(node, r) AS (
            SELECT DISTINCT src, src FROM sym
            UNION
            SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.node
        ),
        comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
        -- NB not named "ranked": the shared LSH CTE already defines one
        best AS (
            SELECT comp.cluster_id, comp.node AS doc_id, d.n_chars,
                   row_number() OVER (
                       PARTITION BY comp.cluster_id
                       ORDER BY d.n_chars DESC, comp.node
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY comp.cluster_id) AS sz
            FROM comp JOIN documents d ON d.doc_id = comp.node
        )
        SELECT cluster_id, doc_id AS keep_doc_id,
               CAST(n_chars AS BIGINT) AS keep_n_chars,
               CAST(sz - 1 AS BIGINT) AS n_dropped
        FROM best WHERE rn = 1
        ORDER BY cluster_id
    """


# ---------------------------------------------------------------------------
# clean_corpus_report — the dedup DECISIONS, executed
# ---------------------------------------------------------------------------


def _clean_corpus_oracle() -> str:
    keep = _keep_best_oracle().strip()
    assert keep.startswith("WITH RECURSIVE ")
    # reuse the keep-best CTE chain up to `best`, then derive drops
    head = keep[: keep.index("SELECT cluster_id, doc_id AS keep_doc_id")]
    return f"""
        {head.rstrip()},
        near_drops AS (
            SELECT doc_id FROM best WHERE rn > 1
        ),
        exact_drops AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (
                           PARTITION BY md5(text) ORDER BY doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn > 1
        ),
        drops AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id FROM near_drops
                UNION ALL SELECT doc_id FROM exact_drops
            )
        ),
        per_doc AS (
            SELECT d.source, d.doc_id,
                   len(string_split(d.text, ' ')) AS n_tokens,
                   (dr.doc_id IS NOT NULL) AS dropped
            FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS docs_before,
               CAST(SUM(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT)
                   AS docs_after,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
               CAST(SUM(CASE WHEN dropped THEN 0 ELSE n_tokens END)
                    AS BIGINT) AS tokens_after
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """


@register(
    "clean_corpus_report",
    oracle=_clean_corpus_oracle(),
    survey_ref="LLM ops: the dedup ENDPOINT — keep/drop decisions from "
    "the exact and near-dup pipelines actually applied, reported as the "
    "per-source before/after corpus (the artifact every dedup run "
    "publishes)",
    description="drops = exact duplicates (same md5(text), min doc_id "
    "survives) ∪ near-dup cluster members that lost the keep-best "
    "policy (max n_chars, doc_id tiebreak — dedup_keep_best's rule); "
    "the report is per-source documents and tokens before/after the "
    "drop set is applied.  This is the operator that turns the pairwise "
    "similarity machinery into a DELIVERABLE corpus; the drop set is "
    "corpus-proportional, so the join shuffles on doc_id (no forced "
    "broadcast — AQE broadcasts it only when genuinely small)",
)
def clean_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops import (
        _JACCARD_TAU,
        _verified_pairs,
        connected_components,
    )

    d = load(spark, sf_dir, "documents")
    edges = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    kb = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    near_drops = (
        comp.join(d.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(kb))
        .where(F.col("rn") > 1)
        .select("doc_id")
    )
    ex = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact_drops = (
        d.select("doc_id", "text")
        .withColumn("rn", F.row_number().over(ex))
        .where(F.col("rn") > 1)
        .select("doc_id")
    )
    drops = (
        near_drops.unionByName(exact_drops)
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    per_doc = d.join(drops, "doc_id", "left").select(
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.coalesce("dropped", F.lit(False)).alias("dropped"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("docs_before"),
            F.sum(F.when(F.col("dropped"), 0).otherwise(1))
            .cast("long")
            .alias("docs_after"),
            F.sum("n_tokens").cast("long").alias("tokens_before"),
            F.sum(F.when(F.col("dropped"), 0).otherwise(F.col("n_tokens")))
            .cast("long")
            .alias("tokens_after"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# lang_id_confusion — classifier evaluation: predicted × true language
# ---------------------------------------------------------------------------


def _lang_confusion_oracle() -> str:
    from sparkroach.queries.llm_ops import _lang_id_oracle

    return f"""
        WITH preds AS ({_lang_id_oracle().strip()}),
        joined AS (
            SELECT d.lang AS true_lang,
                   COALESCE(p.pred_lang, 'unknown') AS pred_lang
            FROM documents d LEFT JOIN preds p ON p.doc_id = d.doc_id
        ),
        cm AS (
            SELECT true_lang, pred_lang, COUNT(*) AS n
            FROM joined GROUP BY true_lang, pred_lang
        ),
        tot AS (
            SELECT true_lang, SUM(n) AS n_true FROM cm GROUP BY true_lang
        )
        SELECT cm.true_lang, cm.pred_lang,
               CAST(cm.n AS BIGINT) AS n_docs,
               CAST(tot.n_true AS BIGINT) AS n_true,
               CAST(cm.n AS DOUBLE) / tot.n_true AS row_frac
        FROM cm JOIN tot ON tot.true_lang = cm.true_lang
        ORDER BY cm.true_lang, cm.pred_lang
    """


@register(
    "lang_id_confusion",
    oracle=_lang_confusion_oracle(),
    survey_ref="LLM ops: classifier evaluation — the confusion matrix of "
    "the stopword language-ID predictor against the corpus's true lang "
    "labels (the eval artifact every heuristic filter ships with)",
    description="lang_id_stopwords' per-doc argmax prediction LEFT-joined "
    "to the truth column (docs with zero lexicon hits classify as "
    "'unknown' — the null path is part of the contract), grouped into "
    "the (true, predicted) matrix with per-true-language row fractions "
    "(recall sits on the diagonal; one exact-integer division per "
    "cell).  On THIS testdata the matrix honestly reports that the "
    "heuristic cannot discriminate: the generator's lang labels are "
    "independent of the (English-ish word-salad) text, so ~all rows "
    "predict 'en' — which is exactly the failure this dashboard exists "
    "to catch before a filter ships.  Output bounded by languages², "
    "independent of corpus size",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops import lang_id_stopwords

    d = load(spark, sf_dir, "documents")
    preds = lang_id_stopwords(spark, sf_dir).select("doc_id", "pred_lang")
    joined = d.select("doc_id", F.col("lang").alias("true_lang")).join(
        preds, "doc_id", "left"
    ).select(
        "true_lang",
        F.coalesce("pred_lang", F.lit("unknown")).alias("pred_lang"),
    )
    cm = joined.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    tot = cm.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    return (
        cm.join(F.broadcast(tot), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            F.col("n").cast("long").alias("n_docs"),
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n").cast("double") / F.col("n_true")).alias("row_frac"),
        )
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# leakage_safe_split — split by near-dup CLUSTER, never by document
# ---------------------------------------------------------------------------


def _leakage_split_oracle() -> str:
    keep = _keep_best_oracle().strip()
    assert keep.startswith("WITH RECURSIVE ")
    head = keep[: keep.index("best AS (")]
    md5i = (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', substring("
            f"md5(CAST(unit AS VARCHAR)), {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
            for k in range(8)
        )
        + ")"
    )
    return f"""
        {head.rstrip()},
        units AS (
            SELECT d.doc_id,
                   COALESCE(comp.cluster_id, d.doc_id) AS unit,
                   len(string_split(d.text, ' ')) AS n_tokens
            FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
        ),
        assigned AS (
            SELECT doc_id, unit, n_tokens,
                   CASE WHEN {md5i} % 100 < 80 THEN 'train'
                        ELSE 'eval' END AS split
            FROM units
        )
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT unit) AS BIGINT) AS n_units,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM assigned
        GROUP BY split
        ORDER BY split
    """


@register(
    "leakage_safe_split",
    oracle=_leakage_split_oracle(),
    survey_ref="LLM data management: LEAKAGE-SAFE train/eval split — the "
    "split unit is the near-dup CLUSTER (singletons split by their own "
    "id), so no duplicate pair can ever straddle the boundary; the "
    "doc-level split (train_eval_split) cannot give this guarantee",
    description="documents LEFT-join the CC cluster table (the shared "
    "capped-LSH pipeline); the split key is the cluster id where one "
    "exists, the doc id otherwise, hashed to an 80/20 assignment — so "
    "every member of a duplicate cluster lands on the SAME side by "
    "construction (a near-copy of a training doc in the eval set is "
    "exactly the leakage this prevents; test-pinned over the verified "
    "pairs).  The cluster table is corpus-proportional, so the join "
    "shuffles on doc_id (AQE broadcasts it only when genuinely small); "
    "the assignment is one map-side hash",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops import connected_components

    d = load(spark, sf_dir, "documents")
    edges = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    units = d.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("unit"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    r = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("unit").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(100),
    )
    assigned = units.withColumn(
        "split", F.when(r < 80, "train").otherwise("eval")
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("unit").cast("long").alias("n_units"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# lsh_recall_report — dedup-plane recall vs brute-force ground truth
# ---------------------------------------------------------------------------

RECALL_SAMPLE = 64  # probe docs (md5-smallest doc_ids — deterministic)


def _lsh_recall_oracle() -> str:
    from sparkroach.queries.llm_ops import (
        _JACC_SQL,
        _JACCARD_TAU,
        _lsh_candidates_cte,
        _SHINGLES_SQL,
    )

    lsh = _lsh_candidates_cte().strip()
    assert lsh.startswith("WITH ")
    md5i = (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', substring("
            f"md5(CAST(doc_id AS VARCHAR)), {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
            for k in range(8)
        )
        + ")"
    )
    return f"""
        WITH {lsh[len("WITH "):]},
        probes AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY {md5i}, doc_id) AS rn
                FROM documents
            ) WHERE rn <= {RECALL_SAMPLE}
        ),
        truth AS (
            SELECT p.doc_id AS probe, d.doc_id AS other
            FROM probes p
            JOIN shing sa ON sa.doc_id = p.doc_id
            JOIN documents d ON d.doc_id <> p.doc_id
            JOIN shing sb ON sb.doc_id = d.doc_id
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        ),
        found AS (
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        ),
        hits AS (
            SELECT t.probe, t.other
            FROM truth t
            JOIN found f
              ON (f.doc_a = t.probe AND f.doc_b = t.other)
              OR (f.doc_a = t.other AND f.doc_b = t.probe)
        )
        SELECT CAST({RECALL_SAMPLE} AS BIGINT) AS n_probes,
               CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_pairs,
               CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_found,
               CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 1.0
                    ELSE CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                         / (SELECT COUNT(*) FROM truth) END AS recall
    """


@register(
    "lsh_recall_report",
    oracle=_lsh_recall_oracle(),
    survey_ref="LLM ops: dedup-plane recall evaluation — the capped-LSH "
    "verified pairs measured against BRUTE-FORCE near-dup ground truth "
    "over a deterministic probe sample (the ann_recall_report of the "
    "text-dedup side; quantifies what the band geometry + bucket cap "
    "actually trade away)",
    description=f"the {RECALL_SAMPLE} md5-smallest documents are probes; "
    "ground truth = EVERY corpus doc whose exact shingle Jaccard with a "
    "probe clears the dedup threshold (probe×corpus brute force — "
    "bounded by the sample, never all-pairs), and recall counts how "
    "many of those true pairs the production capped-LSH pipeline also "
    "found.  Exact integers plus one final division.  At 100 TB this "
    "report runs on every band-geometry change — the empirical recall "
    "number that justifies (or vetoes) the cap and band parameters",
)
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops import _with_shingles

    d = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    # Probe selection is a global top-k, NOT a global row_number window:
    # orderBy().limit() plans as TakeOrderedAndProject (per-partition
    # heaps + a driver merge of k rows), while an empty-partition-spec
    # window would serialize EVERY document through one task (the
    # WindowExec single-partition warning — verdict r7 What's-wrong #2).
    probes = (
        d.select("doc_id", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(RECALL_SAMPLE)
        .select("doc_id")
    )
    sh = _with_shingles(d).localCheckpoint(eager=True)
    pa = probes.join(sh, "doc_id").select(
        F.col("doc_id").alias("probe"), F.col("shingles").alias("sh_a")
    )
    corpus = sh.select(
        F.col("doc_id").alias("other"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    truth = (
        F.broadcast(pa)
        .join(corpus, F.col("probe") != F.col("other"))
        .where(jac >= _JACCARD_TAU)
        .select("probe", "other")
        .localCheckpoint(eager=True)
    )
    found = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_a", "doc_b")
    )
    sym = found.unionByName(
        found.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    hits = truth.join(
        sym,
        (F.col("probe") == F.col("doc_a")) & (F.col("other") == F.col("doc_b")),
        "left_semi",
    )
    n_truth = truth.count()
    n_hits = hits.count()
    return d.sparkSession.createDataFrame(
        [
            (
                RECALL_SAMPLE,
                n_truth,
                n_hits,
                1.0 if n_truth == 0 else n_hits / n_truth,
            )
        ],
        "n_probes long, n_true_pairs long, n_found long, recall double",
    )


# ---------------------------------------------------------------------------
# doc_passages_udtf — Python UDTF (Spark 4) through a LATERAL join
# ---------------------------------------------------------------------------

PASSAGE_W = 32  # tokens per passage window
PASSAGE_S = 16  # stride between window starts


class _PassageWindows:
    """Arrow-optimized Python UDTF: one input document row → one output
    row per (stride-aligned) token window, with the window's md5.

    This is the FLEXIBLE path on purpose: the same windows are SQL-
    expressible (the oracle proves it, and passage_dedup_exact takes the
    JVM-side route for the hot path), so the gate pins that the UDTF
    lane — Spark 4's user-defined TABLE function API, the escape hatch
    for 1→N row logic that genuinely isn't SQL-expressible (parsers,
    tokenizers with state, decoders) — produces bit-identical results
    when both lanes can express the op."""

    def eval(self, text: str):
        import hashlib

        toks = text.split(" ")
        i = 0
        while i + PASSAGE_W <= len(toks):
            window = " ".join(toks[i : i + PASSAGE_W])
            yield (
                i // PASSAGE_S,
                hashlib.md5(window.encode("utf-8")).hexdigest(),
            )
            i += PASSAGE_S


@register(
    "doc_passages_udtf",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        )
        SELECT doc_id,
               CAST(gs.i // {PASSAGE_S} AS INTEGER) AS passage_idx,
               md5(array_to_string(t[gs.i + 1 : gs.i + {PASSAGE_W}], ' '))
                   AS passage_hash
        FROM toks,
             LATERAL (SELECT unnest(range(0, len(t), {PASSAGE_S})) AS i) gs
        WHERE gs.i + {PASSAGE_W} <= len(t)
        ORDER BY doc_id, passage_idx
    """,
    survey_ref="LLM ops / API surface — Python UDTF (Spark 4) via a "
    "LATERAL join: the 1→N user-defined table function lane, "
    "hash-verified against the pure-SQL expression of the same windows",
    description=f"every document exploded into {PASSAGE_W}-token "
    f"passages at stride {PASSAGE_S} by an Arrow-batched Python UDTF in "
    "a lateral join, each passage md5-fingerprinted — the passage "
    "extraction stage of retrieval chunking and Lee-et-al-style "
    "substring dedup.  UDTFs are the slow lane (per-row Python): at "
    "100 TB this exact op should run as the SQL/JVM expression the "
    "oracle uses (sequence + slice + md5, as passage_dedup_exact does); "
    "the UDTF lane is for logic that ISN'T SQL-expressible, and this "
    "gate proves the two lanes agree where they overlap",
)
def doc_passages_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    docs = load(spark, sf_dir, "documents")
    passage_fn = udtf(
        _PassageWindows,
        returnType="passage_idx int, passage_hash string",
        useArrow=True,
    )
    spark.udtf.register("sparkroach_passage_windows", passage_fn)
    return spark.sql(
        """
        SELECT d.doc_id, p.passage_idx, p.passage_hash
        FROM {d} d,
             LATERAL sparkroach_passage_windows(d.text) p
        ORDER BY d.doc_id, p.passage_idx
        """,
        d=docs,
    )


# ---------------------------------------------------------------------------
# dedup_threshold_sweep — the tuning artifact behind _JACCARD_TAU
# ---------------------------------------------------------------------------

SWEEP_PCTS = [40, 50, 60, 70, 80, 90]


@register(
    "dedup_threshold_sweep",
    oracle=f"""
        {_lsh_candidates_cte()}
        , pairs AS (
            SELECT c.doc_a, c.doc_b,
                   len(list_filter(sa.shingles,
                                   x -> list_contains(sb.shingles, x)))
                       AS inter,
                   len(sa.shingles) + len(sb.shingles)
                   - len(list_filter(sa.shingles,
                                     x -> list_contains(sb.shingles, x)))
                       AS uni
            FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
        )
        SELECT CAST(t.t AS BIGINT) AS threshold_pct,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT p.doc_b) AS BIGINT) AS n_docs_dropped
        FROM (VALUES {", ".join(f"({t})" for t in SWEEP_PCTS)}) t(t), pairs p
        WHERE p.inter * 100 >= t.t * p.uni
        GROUP BY t.t
        ORDER BY threshold_pct
    """,
    survey_ref="LLM ops / dedup tuning — the threshold sweep behind the "
    "fixed _JACCARD_TAU: pair count and would-drop document count at "
    "every candidate threshold from ONE verified-pair pass; thresholds "
    "compare by integer cross-multiplication (inter·100 ≥ t·union), "
    "never against a float literal",
    description="how aggressive is dedup at each Jaccard threshold: the "
    "LSH-candidate pairs are exactly verified once (the expensive "
    "stage), then a 6-way threshold explode reuses them — choosing the "
    "production threshold costs one report, not six dedup runs.  "
    "n_docs_dropped counts distinct doc_b (the greedy keep-lowest-id "
    "convention the dedup plane uses throughout).  At 100 TB the sweep "
    "shares every shuffle with the dedup run itself",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pairs = _verified_pairs(d).select("doc_a", "doc_b", "inter", "uni")
    ths = F.explode(
        F.array(*[F.lit(t).cast("long") for t in SWEEP_PCTS])
    ).alias("threshold_pct")
    swept = pairs.select("*", ths).where(
        F.col("inter") * 100 >= F.col("threshold_pct") * F.col("uni")
    )
    return (
        swept.groupBy("threshold_pct")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_dropped"),
        )
        .orderBy("threshold_pct")
    )
