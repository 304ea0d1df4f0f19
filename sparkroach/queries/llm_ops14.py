"""Round-7 late wave 8 (continued): three R8-window candidates covering
retrieval diversification, substring-level policy scanning, and the
deterministic epoch shuffle — pipeline stages the earlier waves did not
yet carry.

* ``mmr_diversified_topk`` — Maximal Marginal Relevance (Carbonell &
  Goldstein, SIGIR 1998): greedy top-k selection balancing relevance to
  a query against redundancy with already-selected results — the
  standard diversified-retrieval pass a RAG pipeline runs after ANN.
  The heavy stage is distributed (relevance over every vector via a
  broadcast query vector → TakeOrderedAndProject shortlist); the greedy
  selection is inherently sequential and runs over the BOUNDED shortlist
  (pool rows through the driver, SCALE.md §9 bookkeeping policy — the
  pool size, not the corpus, is the driver cost).  All similarity
  arithmetic is integer (floor(x·2^10) quantized dots), so both engines
  agree bit-for-bit; the oracle replays the same greedy as an unrolled
  CTE chain — an independent SQL formulation of each argmax step.

* ``substring_denylist_scan`` — substring-level multi-pattern policy
  scan (the denylist pass when patterns are NOT whole tokens: profanity
  stems, code signatures, blocklisted fragments).  Counts occurrences
  via the length-difference identity occ = (len(t) − len(replace(t,p)))
  / len(p) — pure JVM string expressions, one map-only scan computing
  every pattern in one pass, then a tiny unpivot census.  Complements
  the recorded token-level ``denylist_scrub_report``.

* ``epoch_shuffle_order`` — the deterministic training-epoch shuffle: a
  4-round Feistel network on the 32-bit id domain gives a seeded
  BIJECTION doc_id → position with zero state and zero coordination —
  every worker can compute any row's shuffled position independently
  (the production pattern for reshuffling a 100 TB corpus between
  epochs without materializing a permutation table).  Injectivity is
  not assumed: the gate output is a census (count, distinct positions,
  min/max/sum, a position-weighted checksum) that PROVES the bijection
  on the corpus, plus the first 8 doc ids in shuffled order.  Both
  engines evaluate the identical integer round functions.

Reference parity: none — LLM-training-data surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# mmr_diversified_topk
# ---------------------------------------------------------------------------

_MMR_Q = 1 << 10  # coordinate quantizer (power of two: exact in double)
_MMR_POOL = 32  # relevance shortlist (the distributed stage's output)
_MMR_K = 8  # diversified picks
_MMR_QUERY_ID = 0  # the corpus vector used as the query

_MMR_QE_DUCK = (
    "list_transform(embedding, x -> "
    f"CAST(floor(CAST(x AS DOUBLE) * {_MMR_Q}.0) AS BIGINT))"
)


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as a CTE chain: pool = top-POOL by relevance,
    then K argmax steps, each scoring 2·rel − max(dot with selected).
    Every CTE a later step references more than once is MATERIALIZED —
    DuckDB inlines CTEs by default, and the s1..s{k-1} unions inside
    each step would otherwise re-expand the whole chain exponentially."""
    ctes = [
        f"qe AS MATERIALIZED (SELECT vec_id, {_MMR_QE_DUCK} AS qe "
        "FROM embeddings)",
        f"qv AS (SELECT qe FROM qe WHERE vec_id = {_MMR_QUERY_ID})",
        (
            "rel AS (SELECT a.vec_id, CAST(list_sum(list_transform("
            "list_zip(a.qe, q.qe), z -> z[1] * z[2])) AS BIGINT) AS rel, "
            f"a.qe FROM qe a, qv q WHERE a.vec_id != {_MMR_QUERY_ID})"
        ),
        (
            f"pool AS MATERIALIZED (SELECT vec_id, rel, qe FROM rel "
            f"ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL})"
        ),
        (
            "pd AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb, "
            "CAST(list_sum(list_transform(list_zip(a.qe, b.qe), "
            "z -> z[1] * z[2])) AS BIGINT) AS dot FROM pool a, pool b)"
        ),
        (
            "s1 AS MATERIALIZED (SELECT vec_id, rel, CAST(0 AS BIGINT) "
            "AS msim, CAST(1 AS BIGINT) AS pick FROM pool "
            "ORDER BY rel DESC, vec_id LIMIT 1)"
        ),
    ]
    for k in range(2, _MMR_K + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, k)
        )
        ctes.append(
            f"c{k} AS (SELECT p.vec_id, p.rel, MAX(pd.dot) AS msim "
            f"FROM pool p JOIN pd ON pd.va = p.vec_id "
            f"AND pd.vb IN ({sel}) "
            f"WHERE p.vec_id NOT IN ({sel}) "
            f"GROUP BY p.vec_id, p.rel)"
        )
        ctes.append(
            f"s{k} AS MATERIALIZED (SELECT vec_id, rel, msim, "
            f"CAST({k} AS BIGINT) AS pick FROM c{k} "
            f"ORDER BY 2 * rel - msim DESC, vec_id LIMIT 1)"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM s{k}" for k in range(1, _MMR_K + 1)
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT pick, vec_id, rel AS rel_q, msim AS max_sim_q, "
        f"2 * rel - msim AS mmr_q FROM ({union}) ORDER BY pick"
    )


@register(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(),
    survey_ref="LLM ops: diversified retrieval — Maximal Marginal "
    "Relevance top-k over the embedding corpus (greedy λ·rel − "
    "(1−λ)·max-sim selection after the distributed relevance stage)",
    description=f"relevance = integer dot of floor(x·2^10)-quantized "
    f"vectors against a broadcast query vector (vec_id {_MMR_QUERY_ID}) "
    f"over the whole corpus → TakeOrderedAndProject shortlist of "
    f"{_MMR_POOL}; then {_MMR_K} greedy picks maximizing 2·rel − "
    "max_sim-to-selected (λ=2/3 cleared of fractions), ties to the "
    "lowest vec_id.  The sequential stage touches only the bounded "
    f"shortlist ({_MMR_POOL} rows through the driver — bookkeeping, "
    "not data); at 100 TB the corpus-size cost is one scored scan, "
    "identical to the recorded exact-ANN plan.  msim of the first "
    "pick is 0 by convention on both engines",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    qe = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _MMR_Q).cast("long"),
    )
    base = e.select("vec_id", qe.alias("qe"))
    qv = base.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("qe").alias("qq")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("qq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pool = (
        base.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .join(F.broadcast(qv))
        .select("vec_id", dot.alias("rel"), "qe")
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_POOL)
    )
    # bounded bookkeeping: _MMR_POOL rows (shortlist, not corpus) — the
    # greedy argmax is sequential by definition and runs on the driver
    rows = pool.collect()
    remaining = {
        int(r["vec_id"]): (int(r["rel"]), [int(v) for v in r["qe"]])
        for r in rows
    }
    selected: list[list[int]] = []
    out = []
    for pick in range(1, _MMR_K + 1):
        best = None
        for vid, (rel, vec) in remaining.items():
            msim = (
                max(
                    sum(a * b for a, b in zip(vec, svec))
                    for svec in selected
                )
                if selected
                else 0
            )
            key = (-(2 * rel - msim), vid)
            if best is None or key < best[0]:
                best = (key, vid, rel, msim)
        _, vid, rel, msim = best
        out.append((pick, vid, rel, msim, 2 * rel - msim))
        selected.append(remaining.pop(vid)[1])
    return spark.createDataFrame(
        out,
        "pick long, vec_id long, rel_q long, max_sim_q long, mmr_q long",
    ).orderBy("pick")


# ---------------------------------------------------------------------------
# substring_denylist_scan
# ---------------------------------------------------------------------------

# substring patterns (deliberately NOT whole corpus tokens: 'art' hits
# inside 'part', 'able' inside 'table', 'as' inside 'fast'/'hash')
_SUB_PATTERNS = ["art", "able", "val", "as", "row"]


def _sub_occ_sql(p: str) -> str:
    return (
        f"(length(text) - length(replace(text, '{p}', ''))) div {len(p)}"
    )


def _sub_oracle() -> str:
    parts = []
    for p in _SUB_PATTERNS:
        occ = (
            f"(length(text) - length(replace(text, '{p}', ''))) // {len(p)}"
        )
        parts.append(
            f"SELECT '{p}' AS pattern, "
            f"CAST(SUM(occ) AS BIGINT) AS total_occ, "
            f"CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS docs_hit, CAST(MAX(occ) AS BIGINT) AS max_in_doc "
            f"FROM (SELECT {occ} AS occ FROM documents)"
        )
    return " UNION ALL ".join(parts) + " ORDER BY pattern"


@register(
    "substring_denylist_scan",
    oracle=_sub_oracle(),
    survey_ref="LLM ops: substring-level multi-pattern policy scan — "
    "occurrence counts for non-token-aligned denylist fragments via the "
    "length-difference identity, one map-only pass for all patterns",
    description="occ(text, p) = (len(text) − len(replace(text, p))) "
    "div len(p) computed for every pattern in ONE scan (JVM string "
    "expressions, no Python, no explode), then stack() unpivots the "
    f"per-pattern columns into a {len(_SUB_PATTERNS)}-group census "
    "(total occurrences, docs hit, max per doc).  At 100 TB this is a "
    "single map-side-combinable pass whose cost is independent of "
    "pattern count until replace() dominates; patterns ship in the "
    "plan, not in a join",
)
def substring_denylist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    occ_cols = [
        F.expr(_sub_occ_sql(p)).alias(f"occ_{i}")
        for i, p in enumerate(_SUB_PATTERNS)
    ]
    wide = d.select(*occ_cols)
    stack_args = ", ".join(
        f"'{p}', occ_{i}" for i, p in enumerate(_SUB_PATTERNS)
    )
    tall = wide.select(
        F.expr(
            f"stack({len(_SUB_PATTERNS)}, {stack_args}) AS (pattern, occ)"
        )
    )
    return (
        tall.groupBy("pattern")
        .agg(
            F.sum("occ").cast("long").alias("total_occ"),
            F.sum((F.col("occ") > 0).cast("int")).cast("long").alias(
                "docs_hit"
            ),
            F.max("occ").cast("long").alias("max_in_doc"),
        )
        .orderBy("pattern")
    )


# ---------------------------------------------------------------------------
# epoch_shuffle_order
# ---------------------------------------------------------------------------

# per-round (multiplier, offset) — the "seed"; any values work, the
# bijection holds by Feistel construction regardless of F's quality
_FEISTEL_ROUNDS = [(40503, 12345), (30345, 6789), (28561, 54321), (12289, 9999)]
_HALF = 1 << 16  # 16-bit halves over the 32-bit id domain
_CHK_P = 1000003
_CHK_M = 1000000007


def _feistel_f(r: str, a: int, b: int) -> str:
    """Round function (engine-neutral integer SQL): bounded < 2^33
    intermediates, identical text evaluates in Spark SQL and DuckDB."""
    return f"((({r}) * {a} + {b}) % {_HALF} * ((({r}) % 251) + 3)) % {_HALF}"


def _shuffle_oracle() -> str:
    ctes = [
        (
            f"f0 AS (SELECT doc_id, doc_id // {_HALF} AS l0, "
            f"doc_id % {_HALF} AS r0 FROM documents)"
        )
    ]
    for i, (a, b) in enumerate(_FEISTEL_ROUNDS, start=1):
        p = i - 1
        ctes.append(
            f"f{i} AS (SELECT doc_id, r{p} AS l{i}, "
            f"(l{p} + {_feistel_f(f'r{p}', a, b)}) % {_HALF} AS r{i} "
            f"FROM f{p})"
        )
    n = len(_FEISTEL_ROUNDS)
    ctes.append(
        f"pos AS (SELECT doc_id, l{n} * {_HALF} + r{n} AS pos FROM f{n})"
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + ", census AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_distinct, "
        "CAST(MIN(pos) AS BIGINT) AS pos_min, "
        "CAST(MAX(pos) AS BIGINT) AS pos_max, "
        "CAST(SUM(pos) AS BIGINT) AS pos_sum, "
        f"CAST(SUM(pos * (doc_id % {_CHK_P}) % {_CHK_M}) AS BIGINT) AS chk "
        "FROM pos), "
        "head AS (SELECT string_agg(CAST(doc_id AS VARCHAR), ' ' "
        "ORDER BY pos) AS head8 FROM (SELECT doc_id, pos FROM pos "
        "ORDER BY pos LIMIT 8)) "
        "SELECT census.*, head.head8 FROM census, head"
    )


@register(
    "epoch_shuffle_order",
    # Promoted into the R8 window (rotation.R8_PROMOTED) for its first
    # driver recording.  While delegated (r7) its functional twin in the
    # rotation ledger was doc_fingerprint (closed-form per-row integer
    # hashing, map-only — r1-recorded); the injectivity-proving census
    # is unit-pinned over a full dense id domain in
    # tests/test_llm_ops14.py.
    oracle=_shuffle_oracle(),
    survey_ref="LLM ops: deterministic epoch shuffle — seeded Feistel "
    "bijection doc_id → position; coordination-free corpus reshuffling "
    "with an injectivity-proving census",
    description=f"{len(_FEISTEL_ROUNDS)}-round Feistel network on the "
    "32-bit id domain (16-bit halves, integer round functions — "
    "identical expression text in both engines); shuffled position = "
    "recombined halves.  The output census (n, distinct positions, "
    "min/max/sum, position-weighted checksum mod 1e9+7) PROVES "
    "injectivity on the corpus rather than assuming it, plus the first "
    "8 doc ids in shuffled order.  Zero state, zero shuffle: every "
    "executor computes any row's epoch position independently — the "
    "100 TB pattern for between-epoch reshuffling without "
    "materializing a permutation table (a new seed per epoch = new "
    "round constants)",
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cur = d.selectExpr(
        "doc_id", f"doc_id div {_HALF} AS l0", f"doc_id % {_HALF} AS r0"
    )
    for i, (a, b) in enumerate(_FEISTEL_ROUNDS, start=1):
        p = i - 1
        cur = cur.selectExpr(
            "doc_id",
            f"r{p} AS l{i}",
            f"(l{p} + {_feistel_f(f'r{p}', a, b)}) % {_HALF} AS r{i}",
        )
    n = len(_FEISTEL_ROUNDS)
    pos = cur.selectExpr("doc_id", f"l{n} * {_HALF} + r{n} AS pos")
    census = pos.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("pos").cast("long").alias("n_distinct"),
        F.min("pos").cast("long").alias("pos_min"),
        F.max("pos").cast("long").alias("pos_max"),
        F.sum("pos").cast("long").alias("pos_sum"),
        F.sum(
            (F.col("pos") * (F.col("doc_id") % _CHK_P)) % _CHK_M
        )
        .cast("long")
        .alias("chk"),
    )
    head = (
        pos.orderBy("pos")
        .limit(8)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "doc_id"))
                    ),
                    lambda s: s["doc_id"].cast("string"),
                ),
                " ",
            ).alias("head8")
        )
    )
    return census.crossJoin(F.broadcast(head))
