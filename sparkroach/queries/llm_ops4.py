"""LLM-data-pipeline operators, set 4: semantic dedup (SemDeDup), BPE
pair counting, triangle counting over the near-dup graph, and TF-IDF
term ranking.

Beyond-reference surface (the reference engine — algorand/
conduit-cockroachdb — has no text/embedding plane; these are the
training-data operators SURVEY.md's north star calls for), each
expressed Spark-first with an exact DuckDB oracle:

- ``semdedup_clusters``: the SemDeDup recipe (Abbas et al. 2023,
  arXiv:2303.09540) — k-means-cluster the embedding space, then look for
  near-duplicates ONLY within a cluster.  Cluster blocking is the scale
  story: candidate generation is an equi-join on the cluster id instead
  of an n² scan, and the per-cluster pair work is bounded by the shared
  ``capped_band_pairs`` guard (the same cap every LSH family member
  uses), so a degenerate cluster can never go quadratic.
- ``bpe_pair_counts``: the first iteration of byte-pair-encoding
  tokenizer training — corpus-weighted adjacent-symbol pair frequencies.
  Two grouped aggregations; the pair table is bounded by charset² so the
  final global rank is a broadcast-scale sort, never a data-scale one.
- ``triangle_count_dup_graph``: per-node triangle counts on the
  LSH-verified near-dup graph via the oriented wedge join (each edge
  stored once as doc_a < doc_b; wedge (a,b),(a,c) with b < c closes iff
  (b,c) is an edge — every triangle counted exactly once).  The standard
  distributed triangle algorithm: two equi-join shuffles over the edge
  list, no matrix products.
- ``tfidf_top_terms``: per-document top terms by TF-IDF with LINEAR idf
  (tf·N/df as one IEEE division of exact integers).  log-idf would rank
  identically (log is monotone) but ln() is libm whose last-ulp varies
  by engine — the linear variant keeps the score bit-identical in Spark
  and DuckDB, the same determinism discipline as the HLL estimator in
  sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.llm_ops import (
    _DOT,
    _DOT_SQL,
    _JACC_SQL,
    _JACCARD_TAU,
    _NORM,
    _NORM_SQL,
    _capped_cand_sql,
    _ivf_kmeans_oracle,
    _ivf_kmeans_parts,
    _lsh_candidates_cte,
    _verified_pairs,
    NEARDUP_TAU,
    capped_band_pairs,
)
from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup blocked by k-means clusters
# ---------------------------------------------------------------------------

# same cosine threshold as dedup_embedding_cosine so the two blocking
# strategies (hyperplane LSH vs k-means clusters) are directly comparable
SEMDEDUP_TAU = NEARDUP_TAU


def _semdedup_oracle() -> str:
    """Cluster assignment = the trained k-means of ann_ivf_kmeans (one
    Lloyd iteration, deterministic seeds/ties), reused verbatim; pair
    generation mirrors capped_band_pairs keyed on the cluster id."""
    assign = _ivf_kmeans_oracle("assign")
    capped = _capped_cand_sql("assign", "vec_id", ("cluster",))
    return f"""
        WITH assign AS MATERIALIZED ({assign}),
        {capped.strip()},
        scored AS (
            SELECT c.doc_a AS a_id, c.doc_b AS b_id,
                   ea.embedding AS qe, eb.embedding AS ce
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.doc_a
            JOIN embeddings eb ON eb.vec_id = c.doc_b
        ),
        pairs AS (
            SELECT a_id, b_id,
                   ROUND({_DOT_SQL}
                         / ({_NORM_SQL.format(col="qe")} * {_NORM_SQL.format(col="ce")}),
                         6) AS cosine
            FROM scored
        )
        SELECT p.b_id AS dup_id, a.cluster,
               MIN(p.a_id) AS keep_id,
               COUNT(*) AS n_matches, MAX(p.cosine) AS max_cosine
        FROM pairs p JOIN assign a ON a.vec_id = p.b_id
        WHERE p.cosine >= {SEMDEDUP_TAU}
        GROUP BY p.b_id, a.cluster
        ORDER BY dup_id
    """


@register(
    "semdedup_clusters",
    oracle=_semdedup_oracle(),
    survey_ref="LLM ops: SEMANTIC dedup, SemDeDup-style — k-means-cluster "
    "the embedding space, near-dup search only within a cluster "
    "(cluster-blocked complement to the hyperplane-LSH-blocked "
    "dedup_embedding_cosine)",
    description="SemDeDup (Abbas et al. 2023): assign every embedding to a "
    "trained k-means centroid (the ann_ivf_kmeans training pass — "
    "broadcast centroids, the corpus never shuffles for assignment), "
    "generate candidate pairs ONLY within a cluster through the shared "
    f"capped band join, verify with exact cosine >= {SEMDEDUP_TAU}, keep "
    "the lowest vec_id.  At 100 TB the cluster count scales with n so "
    "per-cluster membership stays bounded; candidate generation is one "
    "equi-join on the cluster id and the cap guard makes a degenerate "
    "cluster linear, not quadratic",
)
def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    a2, _ = _ivf_kmeans_parts(spark, sf_dir)
    # the assignment feeds candidate generation AND the dup-side cluster
    # join; one k-means chain, not two
    a2 = a2.localCheckpoint(eager=True)
    cand = capped_band_pairs(a2, "vec_id", key_cols=("cluster",)).select(
        F.col("doc_a").alias("a_id"), F.col("doc_b").alias("b_id")
    )
    e = load(spark, sf_dir, "embeddings")
    # per-vector norm once on the embedding side (same move as
    # dedup_embedding_cosine — identical float, one traversal per pair).
    # No broadcast hints: ea/eb scale with the corpus; shuffled id-keyed
    # equi-joins are the 100 TB plan and AQE broadcasts small sides itself.
    en = e.select(
        "vec_id",
        "embedding",
        F.expr(_NORM.format(col="embedding")).alias("nrm"),
    )
    ea = en.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("na"),
    )
    eb = en.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("nb"),
    )
    cosine = F.round(F.expr(_DOT) / (F.col("na") * F.col("nb")), 6)
    pairs = (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .select("a_id", "b_id", cosine.alias("cosine"))
        .where(F.col("cosine") >= SEMDEDUP_TAU)
    )
    return (
        pairs.groupBy(F.col("b_id").alias("dup_id"))
        .agg(
            F.min("a_id").alias("keep_id"),
            F.count("*").alias("n_matches"),
            F.max("cosine").alias("max_cosine"),
        )
        .join(
            a2.select(F.col("vec_id").alias("dup_id"), "cluster"), "dup_id"
        )
        .select("dup_id", "cluster", "keep_id", "n_matches", "max_cosine")
        .orderBy("dup_id")
    )


# ---------------------------------------------------------------------------
# BPE pair counting: tokenizer training's inner loop, first iteration
# ---------------------------------------------------------------------------

BPE_TOP = 20


@register(
    "bpe_pair_counts",
    oracle=f"""
        WITH w AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        wf AS (
            SELECT w, COUNT(*) AS f FROM w WHERE length(w) >= 2 GROUP BY w
        ),
        p AS (
            SELECT unnest([substring(w, i, 2) for i in range(1, length(w))])
                       AS pair,
                   f
            FROM wf
        ),
        pc AS (SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM p GROUP BY pair),
        r AS (
            SELECT pair, n,
                   row_number() OVER (ORDER BY n DESC, pair) AS rank
            FROM pc
        )
        SELECT pair, n, rank FROM r WHERE rank <= {BPE_TOP} ORDER BY rank
    """,
    survey_ref="LLM ops: BPE tokenizer training, first merge iteration — "
    "corpus-weighted adjacent-symbol pair frequencies (the op a tokenizer "
    "trainer runs over the whole corpus before every merge)",
    description="byte-pair-encoding pair statistics: word frequencies "
    "(first grouped agg — collapses the corpus to its vocabulary), then "
    "adjacent character pairs per DISTINCT word weighted by word "
    "frequency (second grouped agg over a charset²-bounded pair space).  "
    f"Top {BPE_TOP} pairs = the first BPE merge candidates.  The global "
    "rank window runs over the bounded pair table, never the corpus — at "
    "100 TB both aggs have map-side partial combine and the rank input "
    "is a few thousand rows regardless of corpus size",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    wf = w.groupBy("w").agg(F.count("*").alias("f"))
    pairs = F.expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
    )
    pc = (
        wf.select(F.explode(pairs).alias("pair"), "f")
        .groupBy("pair")
        .agg(F.sum("f").alias("n"))
    )
    # global rank over the charset²-bounded pair table (single-partition
    # window by design: the input is vocabulary-of-pairs-sized, not
    # corpus-sized)
    wr = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return (
        pc.select("pair", "n", F.row_number().over(wr).alias("rank"))
        .where(F.col("rank") <= BPE_TOP)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# triangle counting over the verified near-dup graph
# ---------------------------------------------------------------------------


def _triangle_oracle() -> str:
    lsh = _lsh_candidates_cte().strip()
    return f"""
        {lsh},
        edges AS (
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        ),
        tri AS (
            SELECT x.doc_a AS a, x.doc_b AS b, y.doc_b AS c
            FROM edges x
            JOIN edges y ON x.doc_a = y.doc_a AND x.doc_b < y.doc_b
            JOIN edges z ON z.doc_a = x.doc_b AND z.doc_b = y.doc_b
        ),
        nodes AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
        SELECT doc_id, COUNT(*) AS n_triangles
        FROM nodes GROUP BY doc_id ORDER BY doc_id
    """


@register(
    "triangle_count_dup_graph",
    oracle=_triangle_oracle(),
    survey_ref="LLM ops: triangle counting on the verified near-dup graph — "
    "the clustering-coefficient primitive (distinguishes clique-like dup "
    "clusters from chain-like hash-collision artifacts)",
    description="exact per-node triangle counts via the oriented wedge "
    "join: edges stored once as doc_a < doc_b, wedges (a,b)x(a,c) with "
    "b < c, closed by an equi-join back to the edge list — each triangle "
    "counted exactly once, no matrix products, no symmetric blowup.  At "
    "100 TB this is two equi-join shuffles over the (corpus-vanishing) "
    "edge list; the orientation bounds wedge fan-out by the max "
    "HIGH-degree of a node's lower-id neighbors, the standard skew guard "
    "for distributed triangle counting",
)
def triangle_count_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # the edge list feeds the wedge join twice and the closing semi-join;
    # materialize once (same move as pagerank_dup_graph's sym table)
    edges = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    x = edges.alias("x")
    y = edges.alias("y")
    z = edges.alias("z")
    wedges = x.join(
        y,
        (F.col("x.doc_a") == F.col("y.doc_a"))
        & (F.col("x.doc_b") < F.col("y.doc_b")),
    ).select(
        F.col("x.doc_a").alias("a"),
        F.col("x.doc_b").alias("b"),
        F.col("y.doc_b").alias("c"),
    )
    tri = wedges.join(
        z,
        (F.col("b") == F.col("z.doc_a")) & (F.col("c") == F.col("z.doc_b")),
    ).select("a", "b", "c")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

TFIDF_TOP = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH n AS (SELECT COUNT(*) AS nn FROM documents),
        w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM w WHERE length(term) > 0 GROUP BY doc_id, term
        ),
        dfc AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
        s AS (
            SELECT t.doc_id, t.term,
                   CAST(t.tf AS BIGINT) AS tf,
                   CAST(d.df_docs AS BIGINT) AS df_docs,
                   CAST(t.tf * n.nn AS DOUBLE) / CAST(d.df_docs AS DOUBLE)
                       AS tfidf
            FROM tf t JOIN dfc d USING (term) CROSS JOIN n
        ),
        r AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, term
                   ) AS rank
            FROM s
        )
        SELECT doc_id, term, tf, df_docs, tfidf, rank
        FROM r WHERE rank <= {TFIDF_TOP}
        ORDER BY doc_id, rank
    """,
    survey_ref="LLM ops: TF-IDF term ranking per document — the retrieval-"
    "side relevance score over the inverted-index statistics "
    "(inverted_index_postings provides the postings, this ranks them)",
    description=f"top {TFIDF_TOP} terms per document by tf·N/df with "
    "LINEAR idf: log-idf ranks identically (log is monotone in N/df) but "
    "ln() is libm whose last ulp differs across engines — tf·N is an "
    "exact integer and the single IEEE division is bit-identical in "
    "Spark and DuckDB (the sketches.py determinism discipline).  Plan: "
    "one grouped agg for tf (map-side combine), one for df, one "
    "term-keyed equi-join (both sides already partitioned by term from "
    "their aggregations), per-doc rank window.  No driver-side anything",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("nn"))
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.length("term") > 0)
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    s = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df_docs",
            (
                (F.col("tf") * F.col("nn")).cast("double")
                / F.col("df_docs").cast("double")
            ).alias("tfidf"),
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        s.select("doc_id", "term", "tf", "df_docs", "tfidf",
                 F.row_number().over(wr).alias("rank"))
        .where(F.col("rank") <= TFIDF_TOP)
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# kNN graph construction (IVF-blocked)
# ---------------------------------------------------------------------------

KNN_K = 4


def _knn_pairs_sql(eps: float | None = None) -> str:
    """Shared CTE chain: trained assignment → capped within-cluster pairs
    → exact rounded cosine.  ``pairs(a_id, b_id, cosine)``; with ``eps``
    also ``edges`` (thresholded) and ``sym`` (symmetrized)."""
    assign = _ivf_kmeans_oracle("assign")
    capped = _capped_cand_sql("assign", "vec_id", ("cluster",))
    base = f"""
        assign AS MATERIALIZED ({assign}),
        {capped.strip()},
        scored AS (
            SELECT c.doc_a AS a_id, c.doc_b AS b_id,
                   ea.embedding AS qe, eb.embedding AS ce
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.doc_a
            JOIN embeddings eb ON eb.vec_id = c.doc_b
        ),
        pairs AS MATERIALIZED (
            SELECT a_id, b_id,
                   ROUND({_DOT_SQL}
                         / ({_NORM_SQL.format(col="qe")} * {_NORM_SQL.format(col="ce")}),
                         6) AS cosine
            FROM scored
        )
    """
    if eps is None:
        return base
    return f"""{base},
        edges AS (SELECT a_id, b_id FROM pairs WHERE cosine >= {eps}),
        sym AS (
            SELECT a_id AS src, b_id AS dst FROM edges
            UNION ALL
            SELECT b_id AS src, a_id AS dst FROM edges
        )
    """


@register(
    "knn_graph_ivf",
    oracle=f"""
        WITH {_knn_pairs_sql().strip()},
        sym AS (
            SELECT a_id AS vec_id, b_id AS nbr_id, cosine FROM pairs
            UNION ALL
            SELECT b_id AS vec_id, a_id AS nbr_id, cosine FROM pairs
        ),
        r AS (
            SELECT vec_id, nbr_id, cosine,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY cosine DESC, nbr_id
                   ) AS rank
            FROM sym
        )
        SELECT vec_id, nbr_id, cosine, rank
        FROM r WHERE rank <= {KNN_K}
        ORDER BY vec_id, rank
    """,
    survey_ref="LLM ops: kNN GRAPH construction — every vector's top-k "
    "neighbors (the artifact HNSW builds, UMAP embeddings, diversity "
    "sampling and graph-based dedup all start from), IVF-cluster-blocked",
    description=f"top-{KNN_K} neighbor graph over ALL vectors (not just "
    "query vectors): candidates are the capped within-cluster pairs of "
    "the trained k-means assignment, scored once per unordered pair and "
    "symmetrized, ranked per vector.  Recall is the IVF trade (neighbors "
    "in other clusters are missed — same dial as ann_ivf_kmeans, more "
    "clusters probed → more recall); isolated vectors (no same-cluster "
    "candidate) have no rows by declared semantics.  At 100 TB the pair "
    "generation is the capped equi-join and the rank is per-vector — "
    "nothing global, nothing quadratic",
)
def knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _knn_scored_pairs(spark, sf_dir)
    sym = pairs.select(
        F.col("a_id").alias("vec_id"), F.col("b_id").alias("nbr_id"), "cosine"
    ).unionByName(
        pairs.select(
            F.col("b_id").alias("vec_id"),
            F.col("a_id").alias("nbr_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id")
    )
    return (
        sym.select("vec_id", "nbr_id", "cosine", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= KNN_K)
        .orderBy("vec_id", "rank")
    )


def _knn_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a_id, b_id, cosine) for every capped within-cluster pair of the
    trained IVF assignment — shared by the kNN graph and DBSCAN."""
    a2, _ = _ivf_kmeans_parts(spark, sf_dir)
    a2 = a2.localCheckpoint(eager=True)
    cand = capped_band_pairs(a2, "vec_id", key_cols=("cluster",)).select(
        F.col("doc_a").alias("a_id"), F.col("doc_b").alias("b_id")
    )
    e = load(spark, sf_dir, "embeddings")
    en = e.select(
        "vec_id",
        "embedding",
        F.expr(_NORM.format(col="embedding")).alias("nrm"),
    )
    ea = en.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("na"),
    )
    eb = en.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("nb"),
    )
    cosine = F.round(F.expr(_DOT) / (F.col("na") * F.col("nb")), 6)
    # the scored pair table feeds the symmetrize + rank (kNN) or the
    # edge/degree/CC chain (DBSCAN) — materialize so consumers never
    # re-run the k-means + pair generation upstream
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .select("a_id", "b_id", cosine.alias("cosine"))
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# DBSCAN over the blocked similarity graph
# ---------------------------------------------------------------------------

DBSCAN_EPS = 0.3  # cosine threshold for the eps-neighborhood
DBSCAN_MINPTS = 3  # neighbors (excluding self) required for a core point


def _dbscan_oracle() -> str:
    return f"""
        WITH RECURSIVE {_knn_pairs_sql(DBSCAN_EPS).strip()},
        deg AS (SELECT src AS vec_id, COUNT(*) AS d FROM sym GROUP BY src),
        core AS (SELECT vec_id FROM deg WHERE d >= {DBSCAN_MINPTS}),
        ce AS (
            SELECT e.a_id, e.b_id FROM edges e
            JOIN core ca ON ca.vec_id = e.a_id
            JOIN core cb ON cb.vec_id = e.b_id
        ),
        csym AS (
            SELECT a_id AS src, b_id AS dst FROM ce
            UNION ALL
            SELECT b_id AS src, a_id AS dst FROM ce
        ),
        reach(node, r) AS (
            SELECT vec_id, vec_id FROM core
            UNION
            SELECT s.dst, reach.r FROM reach JOIN csym s ON s.src = reach.node
        ),
        comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
        border AS (
            SELECT s.src AS vec_id, MIN(comp.cluster_id) AS cluster_id
            FROM sym s
            JOIN core c ON c.vec_id = s.dst
            JOIN comp ON comp.node = s.dst
            WHERE s.src NOT IN (SELECT vec_id FROM core)
            GROUP BY s.src
        )
        SELECT e.vec_id,
               CASE WHEN comp.node IS NOT NULL THEN 'core'
                    WHEN b.vec_id IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               COALESCE(comp.cluster_id, b.cluster_id) AS cluster_id
        FROM embeddings e
        LEFT JOIN comp ON comp.node = e.vec_id
        LEFT JOIN border b ON b.vec_id = e.vec_id
        ORDER BY e.vec_id
    """


@register(
    "dbscan_embedding_clusters",
    oracle=_dbscan_oracle(),
    survey_ref="LLM ops: density-based clustering (DBSCAN) over the "
    "blocked embedding similarity graph — core/border/noise roles and "
    "density clusters (the semantic-outlier and topic-island detector a "
    "curation pipeline runs after dedup)",
    description=f"DBSCAN with eps = cosine >= {DBSCAN_EPS}, minPts = "
    f"{DBSCAN_MINPTS}, over the IVF-blocked pair graph (the declared "
    "approximation: eps-neighbors in other k-means cells are unseen — "
    "the standard distributed-DBSCAN partitioning trade, mirrored "
    "bit-for-bit by the oracle).  Degrees from one grouped count; cores "
    "by threshold; clusters = connected components over CORE-CORE edges "
    "(min-label propagation, the dedup_cc_clusters machinery); border "
    "points attach to their minimum core-neighbor cluster (deterministic "
    "where textbook DBSCAN is arrival-order-dependent); everything else "
    "is noise.  Every stage is an equi-join or grouped agg on the "
    "(corpus-vanishing) edge list",
)
def dbscan_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkroach.queries.llm_ops import connected_components

    pairs = _knn_scored_pairs(spark, sf_dir)
    edges = pairs.where(F.col("cosine") >= DBSCAN_EPS).select("a_id", "b_id")
    sym = edges.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(
        edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("vec_id")).agg(F.count("*").alias("d"))
    core = deg.where(F.col("d") >= DBSCAN_MINPTS).select("vec_id")
    ce = (
        edges.join(core.withColumnRenamed("vec_id", "a_id"), "a_id", "left_semi")
        .join(core.withColumnRenamed("vec_id", "b_id"), "b_id", "left_semi")
        .select(F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b"))
    )
    labels = connected_components(ce).select(
        F.col("node").alias("vec_id"), F.col("label").alias("cluster_id")
    )
    # isolated cores (deg >= minPts via border neighbors only) are their
    # own single-node cluster — same as the oracle's self-seeded reach
    comp = core.join(labels, "vec_id", "left").select(
        "vec_id", F.coalesce("cluster_id", "vec_id").alias("cluster_id")
    )
    border = (
        sym.join(core.withColumnRenamed("vec_id", "dst"), "dst", "left_semi")
        .join(core.withColumnRenamed("vec_id", "src"), "src", "left_anti")
        .join(comp.withColumnRenamed("vec_id", "dst"), "dst")
        .groupBy(F.col("src").alias("vec_id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    e = load(spark, sf_dir, "embeddings").select("vec_id")
    return (
        e.join(comp.withColumnRenamed("cluster_id", "_core_c"), "vec_id", "left")
        .join(border.withColumnRenamed("cluster_id", "_border_c"), "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("_core_c").isNotNull(), F.lit("core"))
            .when(F.col("_border_c").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("_core_c", "_border_c").alias("cluster_id"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# temperature sampling, executed
# ---------------------------------------------------------------------------

_HEX4 = "0123456789abcdef"
_DOCH32_SQL = " + ".join(
    f"(instr('{_HEX4}', substring(m, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
    for k in range(8)
)
_TWO32 = 4294967296.0  # 2^32 — scaling by a power of two is float-exact


@register(
    "temperature_sample_by_lang",
    oracle=f"""
        WITH tok AS (
            SELECT lang,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY lang
        ),
        mn AS (SELECT CAST(MIN(n_tokens) AS BIGINT) AS min_tokens FROM tok),
        rate AS (
            SELECT lang, n_tokens,
                   sqrt(CAST(mn.min_tokens AS DOUBLE))
                   / sqrt(CAST(n_tokens AS DOUBLE)) AS rate
            FROM tok CROSS JOIN mn
        ),
        hv AS (
            SELECT lang, len(string_split(text, ' ')) AS toks,
                   CAST({_DOCH32_SQL} AS BIGINT) AS hv
            FROM (SELECT lang, text, md5(CAST(doc_id AS VARCHAR)) AS m
                  FROM documents)
        ),
        k AS (
            SELECT hv.lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN CAST(hv.hv AS DOUBLE)
                                      < r.rate * {_TWO32}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(SUM(CASE WHEN CAST(hv.hv AS DOUBLE)
                                      < r.rate * {_TWO32}
                                 THEN hv.toks ELSE 0 END) AS BIGINT)
                       AS kept_tokens
            FROM hv JOIN rate r USING (lang)
            GROUP BY hv.lang
        )
        SELECT k.lang, k.n_docs, k.n_kept, k.kept_tokens,
               r.n_tokens, r.rate
        FROM k JOIN rate r USING (lang)
        ORDER BY lang
    """,
    survey_ref="LLM data management: temperature sampling EXECUTED — the "
    "per-document keep/drop decision implementing the w ∝ n^0.5 policy "
    "temperature_mix_weights computes (policy → sampler, the pair a mix "
    "pipeline ships together)",
    description="per-language sqrt-temperature downsampling: acceptance "
    "rate = sqrt(min_lang_tokens)/sqrt(lang_tokens) (two IEEE-exact "
    "sqrts + one division — deterministic across engines), a document "
    "kept iff its 32-bit md5 fraction < rate (the threshold multiply is "
    "by 2^32, float-exact).  Hash-based selection makes the sample "
    "REPRODUCIBLE and coordination-free: any executor decides any "
    "document's fate locally, reruns and backfills select the identical "
    "subset — the property random() sampling loses.  One grouped pass "
    "for the rates (broadcast back), one map-side pass to decide — no "
    "shuffle of the corpus",
)
def temperature_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    tok = d.groupBy("lang").agg(F.sum(toks).cast("long").alias("n_tokens"))
    mn = tok.agg(F.min("n_tokens").cast("long").alias("min_tokens"))
    rate = (
        tok.crossJoin(F.broadcast(mn))
        .select(
            "lang",
            "n_tokens",
            (
                F.sqrt(F.col("min_tokens").cast("double"))
                / F.sqrt(F.col("n_tokens").cast("double"))
            ).alias("rate"),
        )
    )
    hv = d.select(
        "lang",
        toks.alias("toks"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    kept = F.col("hv").cast("double") < F.col("rate") * _TWO32
    k = (
        hv.join(F.broadcast(rate), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("toks")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )
    return (
        k.join(F.broadcast(rate), "lang")
        .select("lang", "n_docs", "n_kept", "kept_tokens", "n_tokens", "rate")
        .orderBy("lang")
    )


@register(
    "bpe_second_merge",
    oracle=f"""
        WITH w AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        wf AS (
            SELECT w, COUNT(*) AS f FROM w WHERE length(w) >= 2 GROUP BY w
        ),
        p1 AS (
            SELECT unnest([substring(w, i, 2) for i in range(1, length(w))])
                       AS pair, f
            FROM wf
        ),
        pc1 AS (SELECT pair, SUM(f) AS n FROM p1 GROUP BY pair),
        top1 AS (
            SELECT pair FROM (
                SELECT pair, row_number() OVER (ORDER BY n DESC, pair) AS rn
                FROM pc1
            ) WHERE rn = 1
        ),
        spaced AS (
            SELECT array_to_string([substring(w, i, 1)
                                    for i in range(1, length(w) + 1)], ' ')
                       AS s, f
            FROM wf
        ),
        merged AS (
            -- apply the learned merge: replace() is left-to-right
            -- non-overlapping in BOTH engines, the greedy BPE rule
            SELECT replace(s, substring(t.pair, 1, 1) || ' '
                              || substring(t.pair, 2, 1),
                           t.pair) AS s,
                   f
            FROM spaced CROSS JOIN top1 t
        ),
        syms AS (SELECT string_split(s, ' ') AS sy, f FROM merged),
        p2 AS (
            SELECT unnest([sy[i] || '+' || sy[i+1]
                           for i in range(1, len(sy))]) AS pair, f
            FROM syms WHERE len(sy) >= 2
        ),
        pc2 AS (SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM p2 GROUP BY pair)
        SELECT (SELECT pair FROM top1) AS applied_merge, pair, n, rank
        FROM (
            SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rank
            FROM pc2
        )
        WHERE rank <= {BPE_TOP}
        ORDER BY rank
    """,
    survey_ref="LLM ops: BPE tokenizer training, SECOND merge iteration — "
    "the rank-1 pair from iteration 1 is APPLIED to the symbol sequences "
    "(greedy left-to-right, the BPE rule) and pair statistics are "
    "recounted over the merged symbols, proving the training loop "
    "iterates distributedly rather than stopping at one census",
    description="words become char-spaced symbol strings; the learned "
    "merge rewrites them with ONE string replace (left-to-right "
    "non-overlapping in both engines — the greedy rule, no UDF); "
    "iteration-2 pairs are adjacent SYMBOLS (variable length now, so "
    "the pair key carries a '+' separator), counted weighted by word "
    "frequency over the distinct-word table.  Each BPE iteration at "
    "100 TB is exactly this shape: two grouped aggs over the vocabulary "
    "(never the corpus — word frequencies collapse it once), a "
    "broadcast of the single learned merge, and a bounded rank window",
)
def bpe_second_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    wf = w.groupBy("w").agg(F.count("*").alias("f"))
    pairs1 = F.expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
    )
    pc1 = (
        wf.select(F.explode(pairs1).alias("pair"), "f")
        .groupBy("pair")
        .agg(F.sum("f").alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), F.col("pair"))
    top1 = (
        pc1.select("pair", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") == 1)
        .select(F.col("pair").alias("m"))
    )
    spaced = wf.select(
        F.expr(
            "array_join(transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1)), ' ')"
        ).alias("s"),
        "f",
    )
    merged = spaced.crossJoin(F.broadcast(top1)).select(
        F.expr(
            "replace(s, substring(m, 1, 1) || ' ' || substring(m, 2, 1), m)"
        ).alias("s"),
        "f",
        "m",
    )
    syms = merged.select(F.split("s", " ").alias("sy"), "f", "m").where(
        F.size("sy") >= 2
    )
    pairs2 = F.expr(
        "transform(sequence(1, size(sy) - 1), "
        "i -> element_at(sy, i) || '+' || element_at(sy, i + 1))"
    )
    pc2 = (
        syms.select(F.explode(pairs2).alias("pair"), "f", "m")
        .groupBy("pair")
        .agg(F.sum("f").alias("n"), F.max("m").alias("applied_merge"))
    )
    wr2 = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return (
        pc2.select(
            "applied_merge",
            "pair",
            F.col("n").cast("long").alias("n"),
            F.row_number().over(wr2).alias("rank"),
        )
        .where(F.col("rank") <= BPE_TOP)
        .orderBy("rank")
    )
