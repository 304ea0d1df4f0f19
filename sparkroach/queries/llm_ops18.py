"""Round-8 wave: LLM-pipeline breadth — lossless PNG decode lane,
reciprocal-rank-fusion hybrid retrieval, and margin-based embedding
pair mining.

Exactness discipline: PNG is lossless, so the decode gate's oracle
mirrors the synthetic pixel arithmetic directly (no JPEG-style
exactness construction needed); RRF scores are sums of exactly TWO
correctly-rounded divisions (deterministic in IEEE — no summation-order
hazard); margin scores quantize the per-node cosine sums to
DECIMAL(10,6) before aggregation so the only float steps are three
pinned multiplications and one division.

Reference parity: none — training-data pipeline operators per the
build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# multimodal_png_decode — the lossless half of the codec matrix
# ---------------------------------------------------------------------------


def _png_oracle() -> str:
    v = "(p.doc_id * 31 + y.y * 16 + x.x * 5) % 256"
    return f"""
        WITH p AS (
            SELECT doc_id,
                   8 + (doc_id % 5) * 3 AS w,
                   6 + ((doc_id // 5) % 4) * 5 AS h,
                   doc_id % 2 = 0 AS grey
            FROM documents
        ),
        px AS (
            SELECT p.doc_id, p.w, p.h, p.grey,
                   SUM(CASE WHEN p.grey THEN {v}
                            ELSE {v} + ({v} + 85) % 256
                                 + ({v} + 170) % 256 END) AS ps
            FROM p
            JOIN range(0, 32) x(x) ON x.x < p.w
            JOIN range(0, 32) y(y) ON y.y < p.h
            GROUP BY ALL
        )
        SELECT doc_id AS media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(CASE WHEN grey THEN 1 ELSE 3 END AS INT)
                   AS n_components,
               CAST(ps AS BIGINT) AS pixel_sum,
               CAST(5 AS INT) AS n_filters
        FROM px ORDER BY media_id
    """


@register(
    "multimodal_png_decode",
    # r8-new: pinned into the R8 window (rotation.R8_NEW)
    oracle=_png_oracle(),
    survey_ref="LLM ops: multimodal decode — from-scratch PNG codec "
    "(zlib DEFLATE + CRC-32 chunks + ALL FIVE filter reconstructions "
    "incl. Paeth) through the mapInPandas lane: the LOSSLESS half of "
    "the codec matrix next to the JPEG family",
    description="encode a real PNG per document (grey for even ids, "
    "truecolour RGB for odd; the per-row filter cycles (doc_id+y)%5 so "
    "every image exercises None/Sub/Up/Average/Paeth; the zlib stream "
    "splits across multiple IDAT chunks) and decode it with the strict "
    "from-scratch decoder (CRC-verified chunks, all five un-filters); "
    "lossless, so the oracle mirrors the pixel function as pure doc_id "
    "arithmetic and n_filters pins that all 5 reconstruction paths ran. "
    "Map-only mapInPandas both ways — the plan is a scan at any scale",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach._shiplib import ensure_shipped
    from sparkroach.functions.png import png_features, synthesize_png_media

    ensure_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    return png_features(synthesize_png_media(docs)).orderBy("media_id")


# ---------------------------------------------------------------------------
# hybrid_rrf_fusion — reciprocal rank fusion of two retrieval rankings
# ---------------------------------------------------------------------------

RRF_TERMS = ("scan", "window", "merge")  # common corpus-vocabulary terms
RRF_K = 60  # the standard RRF damping constant (Cormack et al.)
RRF_DEPTH = 20  # per-ranking shortlist depth
RRF_TOP = 10

_TERMS_SQL = ", ".join(f"'{t}'" for t in RRF_TERMS)

_RRF_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    hits AS (
        SELECT w.doc_id, w.term FROM words w
        WHERE w.term IN ({_TERMS_SQL})
    ),
    ra AS (
        SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS rank_a
        FROM (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM hits GROUP BY doc_id
            ORDER BY tf DESC, doc_id LIMIT {RRF_DEPTH}
        )
    ),
    rb AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cov DESC, n_chars, doc_id)
                   AS rank_b
        FROM (
            SELECT h.doc_id,
                   CAST(COUNT(DISTINCT h.term) AS BIGINT) AS cov,
                   ANY_VALUE(d.n_chars) AS n_chars
            FROM hits h JOIN documents d USING (doc_id)
            GROUP BY h.doc_id
            ORDER BY cov DESC, n_chars, h.doc_id LIMIT {RRF_DEPTH}
        )
    ),
    fused AS (
        SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
               ra.rank_a, rb.rank_b,
               COALESCE(1.0 / ({RRF_K} + ra.rank_a), 0.0)
               + COALESCE(1.0 / ({RRF_K} + rb.rank_b), 0.0) AS rrf_score
        FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rank_a AS BIGINT) AS rank_a,
           CAST(rank_b AS BIGINT) AS rank_b,
           rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOP}
"""


@register(
    "hybrid_rrf_fusion",
    # r8-new: pinned into the R8 window (rotation.R8_NEW).  The bounded
    # rank windows sit ABOVE .limit(RRF_DEPTH) — whitelisted in
    # tests/test_plans.py _GLOBAL_WINDOW_OK.
    oracle=_RRF_ORACLE,
    survey_ref="LLM ops: hybrid retrieval — reciprocal rank fusion "
    "(Cormack et al., the standard way modern search fuses lexical and "
    "semantic shortlists) over two independent rankings of the corpus",
    description=f"two rankings for the fixed query {RRF_TERMS}: "
    "term-frequency and distinct-term coverage (length-tiebroken); each "
    f"shortlist is a global top-{RRF_DEPTH} via orderBy().limit() "
    "(TakeOrderedAndProject) with ranks assigned by a window over the "
    "LIMITED set only; fusion = full outer join of two bookkeeping-"
    f"sized lists, rrf = Σ 1/({RRF_K}+rank) — a sum of exactly TWO "
    "correctly-rounded divisions, deterministic in IEEE.  The corpus is "
    "touched once per ranking (explode → filter → grouped count); "
    "everything after the shortlists is rank-fusion arithmetic on "
    f"≤{2 * RRF_DEPTH} rows",
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    hits = words.where(F.col("term").isin(*RRF_TERMS))
    ta = (
        hits.groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), "doc_id")
        .limit(RRF_DEPTH)
    )
    ra = ta.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), F.col("doc_id")))
        .cast("long")
        .alias("rank_a"),
    )
    tb = (
        hits.join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("cov"),
            F.any_value("n_chars").alias("n_chars"),
        )
        .orderBy(F.col("cov").desc(), "n_chars", "doc_id")
        .limit(RRF_DEPTH)
    )
    rb = tb.select(
        "doc_id",
        F.row_number()
        .over(
            Window.orderBy(
                F.col("cov").desc(), F.col("n_chars"), F.col("doc_id")
            )
        )
        .cast("long")
        .alias("rank_b"),
    )
    fused = ra.join(rb, "doc_id", "full").select(
        "doc_id",
        "rank_a",
        "rank_b",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_b")), F.lit(0.0)
            )
        ).alias("rrf_score"),
    )
    return (
        fused.orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(RRF_TOP)
        .orderBy(F.col("rrf_score").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# bitext_margin_pairs — ratio-margin pair mining over the kNN graph
# ---------------------------------------------------------------------------

MARGIN_TOP = 50


def _margin_oracle() -> str:
    from sparkroach.queries.llm_ops4 import KNN_K, _knn_pairs_sql

    return f"""
        WITH {_knn_pairs_sql().strip()},
        sym AS (
            SELECT a_id AS src, b_id AS dst, cosine FROM pairs
            UNION ALL
            SELECT b_id AS src, a_id AS dst, cosine FROM pairs
        ),
        r AS (
            SELECT src, dst, cosine,
                   row_number() OVER (
                       PARTITION BY src ORDER BY cosine DESC, dst
                   ) AS rank
            FROM sym
        ),
        knn AS (SELECT src, dst, cosine FROM r WHERE rank <= {KNN_K}),
        stats AS (
            SELECT src AS node,
                   SUM(CAST(cosine AS DECIMAL(10,6))) AS s,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM knn GROUP BY src
        ),
        edges AS (
            SELECT DISTINCT LEAST(src, dst) AS a_id,
                   GREATEST(src, dst) AS b_id, cosine
            FROM knn
        ),
        m AS (
            SELECT e.a_id, e.b_id, e.cosine,
                   2.0 * e.cosine * sa.c * sb.c
                   / CAST(sa.s * sb.c + sb.s * sa.c AS DOUBLE) AS margin
            FROM edges e
            JOIN stats sa ON sa.node = e.a_id
            JOIN stats sb ON sb.node = e.b_id
        ),
        mr AS (
            SELECT a_id, b_id, cosine, ROUND(margin, 6) AS margin FROM m
        )
        SELECT a_id, b_id, cosine, margin
        FROM mr ORDER BY margin DESC, a_id, b_id LIMIT {MARGIN_TOP}
    """


@register(
    "bitext_margin_pairs",
    # r8-new: pinned into the R8 window (rotation.R8_NEW)
    oracle=_margin_oracle(),
    survey_ref="LLM ops: margin-based embedding pair mining (the "
    "Artetxe–Schwenk ratio-margin criterion bitext/LASER mining uses: "
    "a pair is interesting when its similarity beats BOTH endpoints' "
    "neighborhood averages, not an absolute threshold)",
    description="margin(x,y) = cos(x,y) / (½·avgNN(x) + ½·avgNN(y)) "
    "over the capped IVF kNN graph (the recorded knn_graph_ivf "
    "machinery); per-node neighborhood sums quantize the rounded "
    "cosines to DECIMAL(10,6) (exact, order-free aggregation), and the "
    "margin is algebraically rearranged to 2·cos·ca·cb / (sa·cb+sb·ca) "
    "— three pinned float multiplications and ONE division, identical "
    f"in both engines.  Global top-{MARGIN_TOP} via "
    "orderBy().limit() (TakeOrderedAndProject).  Scale = the kNN "
    "graph's: capped within-cluster pairs, never n²",
)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops4 import knn_graph_ivf

    knn = knn_graph_ivf(spark, sf_dir).localCheckpoint(eager=True)
    stats = knn.groupBy(F.col("vec_id").alias("node")).agg(
        F.sum(F.col("cosine").cast("decimal(10,6)")).alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    edges = knn.select(
        F.least("vec_id", "nbr_id").alias("a_id"),
        F.greatest("vec_id", "nbr_id").alias("b_id"),
        "cosine",
    ).distinct()
    sa = stats.withColumnsRenamed({"node": "a_id", "s": "sa", "c": "ca"})
    sb = stats.withColumnsRenamed({"node": "b_id", "s": "sb", "c": "cb"})
    margin = (
        F.lit(2.0) * F.col("cosine") * F.col("ca") * F.col("cb")
    ) / (
        F.col("sa") * F.col("cb") + F.col("sb") * F.col("ca")
    ).cast("double")
    # the top-N cut keys on the ROUNDED margin on BOTH sides (the oracle
    # rounds before its ORDER BY ... LIMIT too) so the limit boundary
    # can never split a rounding-equal group differently per engine
    return (
        edges.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id", "b_id", "cosine", F.round(margin, 6).alias("margin")
        )
        .orderBy(F.col("margin").desc(), "a_id", "b_id")
        .limit(MARGIN_TOP)
        .orderBy(F.col("margin").desc(), "a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# search_ndcg_report — ranking-quality evaluation (nDCG@10)
# ---------------------------------------------------------------------------

NDCG_AT = 10
# 1/log2(i+1) for rank i = 1..10, to 12 decimals — literal constants so
# neither engine ever calls log(); the whole DCG is exact DECIMAL
# arithmetic with ONE IEEE division at the very end
_DISCOUNT = (
    "1.000000000000", "0.630929753571", "0.500000000000",
    "0.430676558073", "0.386852807235", "0.356207187108",
    "0.333333333333", "0.315464876786", "0.301029995664",
    "0.289064826318",
)


def _disc_case(rank: str) -> str:
    arms = " ".join(
        f"WHEN {i + 1} THEN CAST({d} AS DECIMAL(14,12))"
        for i, d in enumerate(_DISCOUNT)
    )
    return f"CASE {rank} {arms} END"


_NDCG_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    rel AS (
        SELECT doc_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS rel,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM words WHERE term IN ({_TERMS_SQL})
        GROUP BY doc_id
    ),
    ranked AS (
        SELECT rel, row_number() OVER (ORDER BY tf DESC, doc_id) AS rank
        FROM (
            SELECT * FROM rel ORDER BY tf DESC, doc_id LIMIT {NDCG_AT}
        )
    ),
    ideal AS (
        SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rank
        FROM (
            SELECT * FROM rel ORDER BY rel DESC, doc_id LIMIT {NDCG_AT}
        )
    ),
    d AS (
        SELECT CAST(SUM(rel * ({_disc_case("rank")})) AS DECIMAL(38,12))
                   AS dcg_q
        FROM ranked
    ),
    i AS (
        SELECT CAST(SUM(rel * ({_disc_case("rank")})) AS DECIMAL(38,12))
                   AS idcg_q
        FROM ideal
    )
    SELECT CAST(d.dcg_q AS DOUBLE) AS dcg_q,
           CAST(i.idcg_q AS DOUBLE) AS idcg_q,
           CAST(d.dcg_q AS DOUBLE) / CAST(i.idcg_q AS DOUBLE) AS ndcg
    FROM d, i
"""


@register(
    "search_ndcg_report",
    # r8-new: pinned into the R8 window (rotation.R8_NEW).  The rank
    # windows sit above .limit(NDCG_AT) — whitelisted in
    # tests/test_plans.py _GLOBAL_WINDOW_OK.
    oracle=_NDCG_ORACLE,
    survey_ref="LLM ops: retrieval-quality evaluation — nDCG@10 of a "
    "ranking against graded relevance labels (the metric every search/"
    "RAG pipeline reports; completes the retrieval plane: build the "
    "index, rank, FUSE, and now EVALUATE)",
    description=f"graded relevance = distinct query terms matched "
    f"(0–{len(RRF_TERMS)}); system ranking = term-frequency top-"
    f"{NDCG_AT} (tiebroken by doc_id), ideal ranking = relevance-sorted "
    f"top-{NDCG_AT}; DCG discounts are 12-decimal literal constants "
    "(no runtime log), so DCG and IDCG are EXACT DECIMAL sums — "
    "order-free, engine-identical — cast to DOUBLE at output per the "
    "registry float discipline, and nDCG is the single IEEE "
    "division at the end.  Corpus touched once; everything downstream "
    "is arithmetic on two 10-row shortlists",
)
def search_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    rel = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term").isin(*RRF_TERMS))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").cast("long").alias("rel"),
            F.count("*").cast("long").alias("tf"),
        )
    )

    disc = F.expr(_disc_case("rank"))

    def dcg(ranked: DataFrame, out: str) -> DataFrame:
        return ranked.agg(
            F.sum(F.col("rel") * disc).cast("decimal(38,12)").alias(out)
        )

    sys_top = rel.orderBy(F.col("tf").desc(), "doc_id").limit(NDCG_AT)
    sys_ranked = sys_top.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    ideal_top = rel.orderBy(F.col("rel").desc(), "doc_id").limit(NDCG_AT)
    ideal_ranked = ideal_top.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.col("rel").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    return (
        dcg(sys_ranked, "dcg_q")
        .crossJoin(dcg(ideal_ranked, "idcg_q"))  # 1-row x 1-row
        .select(
            # registry float discipline: the exact DECIMAL sums are cast to
            # DOUBLE as the last step on BOTH engines — a raw DECIMAL output
            # column hash-diverges at the driver (pandas canonicalization:
            # DuckDB DECIMAL → float64, Spark → Decimal objects), the r8
            # red-row root cause.  Cast verified bit-identical at 3 SFs.
            F.col("dcg_q").cast("double").alias("dcg_q"),
            F.col("idcg_q").cast("double").alias("idcg_q"),
            (
                F.col("dcg_q").cast("double") / F.col("idcg_q").cast("double")
            ).alias("ndcg"),
        )
    )
