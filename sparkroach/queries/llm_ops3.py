"""LLM-data-pipeline operators, set 3 (round 4, continuation).

Four more operators a 100 TB training-data pipeline runs between raw
corpus and training mix:

- ``simhash_hamming_pairs``  — SimHash near-dup PAIRS: 64-bit shingle
                               SimHash, 16-bit band blocking, exact
                               Hamming verify.  Completes the SimHash
                               story (``simhash_docs`` emits signatures;
                               this turns them into dup candidates the
                               way Google's web-crawl dedup did —
                               Manku et al., WWW'07).
- ``doc_rarity_score``       — per-document mean/min document-frequency
                               of its tokens: the engine-exact analog of
                               unigram-LM perplexity filtering (CCNet
                               style) — low mean-df docs are rare-token
                               outliers, high mean-df docs are boilerplate.
- ``bigram_top_transitions`` — corpus bigram table with conditional
                               continuation probability P(next|prev):
                               the first pass of n-gram LM estimation
                               and a tokenizer-merge-candidate census.
- ``quality_filter_funnel``  — the end-to-end preprocessing funnel:
                               language filter → token-count quality gate
                               → near-dup drop (minhash-LSH verified),
                               reported as per-source survivor counts —
                               the acceptance report every corpus refresh
                               ships with.

Exactness discipline (registry.py): integer math until at most one final
double division computed identically on both engines; hash-derived
"randomness" only.

Reference parity note: the reference (algorand/conduit-cockroachdb) has
no LLM plane; this module is part of the beyond-reference surface the
build brief requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkroach.queries.llm_ops import (
    _JACC_SQL,
    _JACCARD_TAU,
    _SHINGLES_SQL,
    _capped_cand_sql,
    _lsh_candidates_cte,
    _verified_pairs,
    _with_shingles,
    capped_band_pairs,
)
from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# simhash_hamming_pairs
# ---------------------------------------------------------------------------

# 64-bit SimHash (two 32-bit halves from one md5 per shingle) over word-
# bigram shingles — the token-set variant in simhash_docs is near-constant
# on a small-vocabulary corpus (every doc contains most of the vocabulary),
# while the shingle basis matches the minhash family and discriminates by
# word ORDER.  4 bands × 16 bits: by pigeonhole, any pair within Hamming
# distance 3 shares at least one untouched band, so recall is EXACT for
# the declared threshold (under-cap buckets; over-cap buckets degrade per
# the shared LSH_BUCKET_CAP policy, mirrored in the oracle).
N_SIMHAM_HALF = 32  # bits per half
SIMHAM_TAU = 3  # max Hamming distance reported (4 bands ⇒ exact recall)
_HEX = "0123456789abcdef"


def _simham_half_sql(half: int) -> tuple[str, str]:
    """(bit-vote SUM column list, signature value expr) for one 32-bit
    half of the 64-bit SimHash, DuckDB side.  ``half`` 0 reads md5 hex
    positions 1-8, half 1 positions 9-16 — the same integers Spark gets
    from conv(substring(md5, 1|9, 8), 16, 10)."""
    sums = []
    for j in range(N_SIMHAM_HALF):
        p = half * 8 + j // 4 + 1
        shift = 3 - (j % 4)
        digit = f"(instr('{_HEX}', substring(m, {p}, 1)) - 1)"
        bit = f"(({digit} // {2 ** shift}) % 2)"
        sums.append(f"SUM(2 * {bit} - 1) AS h{half}c{j}")
    value = " + ".join(
        f"(CASE WHEN h{half}c{j} > 0 THEN {2 ** (N_SIMHAM_HALF - 1 - j)} ELSE 0 END)"
        for j in range(N_SIMHAM_HALF)
    )
    return ", ".join(sums), value


def _simham_sims_cte() -> str:
    """CTE chain ending in ``sims(doc_id, sim_hi, sim_lo)`` — shared by
    the registered oracle and the brute-force recall test."""
    c0, v0 = _simham_half_sql(0)
    c1, v1 = _simham_half_sql(1)
    return f"""
        w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        shing AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM w),
        toks AS (SELECT doc_id, md5(unnest(shingles)) AS m FROM shing),
        bits AS (SELECT doc_id, {c0}, {c1} FROM toks GROUP BY doc_id),
        sims AS MATERIALIZED (
            SELECT doc_id, CAST({v0} AS BIGINT) AS sim_hi,
                   CAST({v1} AS BIGINT) AS sim_lo
            FROM bits
        )
    """


def _simham_oracle() -> str:
    band_val = (
        "CASE WHEN b.band_idx = 0 THEN (sim_hi >> 16) & 65535 "
        "WHEN b.band_idx = 1 THEN sim_hi & 65535 "
        "WHEN b.band_idx = 2 THEN (sim_lo >> 16) & 65535 "
        "ELSE sim_lo & 65535 END"
    )
    ham = (
        "bit_count(xor(sa.sim_hi, sb.sim_hi)) "
        "+ bit_count(xor(sa.sim_lo, sb.sim_lo))"
    )
    return f"""
        WITH {_simham_sims_cte().strip()},
        bands AS MATERIALIZED (
            SELECT doc_id, b.band_idx, {band_val} AS band_val
            FROM sims, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
        ),
        {_capped_cand_sql("bands", "doc_id", ("band_idx", "band_val")).strip()}
        SELECT c.doc_a, c.doc_b, CAST({ham} AS BIGINT) AS hamming
        FROM cand c
        JOIN sims sa ON sa.doc_id = c.doc_a
        JOIN sims sb ON sb.doc_id = c.doc_b
        WHERE {ham} <= {SIMHAM_TAU}
        ORDER BY doc_a, doc_b
    """


@register(
    "simhash_hamming_pairs",
    oracle=_simham_oracle(),
    survey_ref="LLM ops: SimHash near-dup pairs — 64-bit shingle SimHash, "
    "16-bit band blocking, exact Hamming verify (Manku et al. WWW'07)",
    description=f"64-bit SimHash over word-bigram shingles (one md5 per "
    "shingle, split into two 32-bit halves; bit-votes are one grouped agg "
    "with map-side combine), 4×16-bit bands via the shared capped band "
    f"join, exact Hamming <= {SIMHAM_TAU} verify on candidates only.  "
    "Pigeonhole makes recall exact at this threshold for under-cap "
    "buckets; all heavy stages are linear in corpus size",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = (
        _with_shingles(d)
        .select("doc_id", F.explode("shingles").alias("tok"))
        .select("doc_id", F.md5("tok").alias("m"))
        .select(
            "doc_id",
            F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("hv_hi"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("hv_lo"),
        )
    )
    votes = []
    for half in ("hi", "lo"):
        for j in range(N_SIMHAM_HALF):
            bit = F.shiftright(F.col(f"hv_{half}"), N_SIMHAM_HALF - 1 - j).bitwiseAND(
                F.lit(1)
            )
            votes.append(F.sum(bit * 2 - 1).alias(f"{half}{j}"))
    bits = toks.groupBy("doc_id").agg(*votes)

    def sig(half: str):
        value = None
        for j in range(N_SIMHAM_HALF):
            term = F.when(
                F.col(f"{half}{j}") > 0, F.lit(2 ** (N_SIMHAM_HALF - 1 - j))
            ).otherwise(F.lit(0))
            value = term if value is None else value + term
        return value.cast("long")

    # sims feeds THREE consumers (the band explode and both verify-join
    # sides); without materialization each re-runs the md5-per-shingle +
    # 64-column bit-vote pipeline.  n_docs × 3 ints — tiny.  Measured
    # ~4.5 s → ~2 s at sf0.1.
    sims = bits.select(
        "doc_id", sig("hi").alias("sim_hi"), sig("lo").alias("sim_lo")
    ).localCheckpoint(eager=True)
    band_structs = [
        F.struct(
            F.lit(i).alias("band_idx"),
            expr.alias("band_val"),
        )
        for i, expr in enumerate(
            [
                F.shiftright("sim_hi", 16).bitwiseAND(F.lit(65535)),
                F.col("sim_hi").bitwiseAND(F.lit(65535)),
                F.shiftright("sim_lo", 16).bitwiseAND(F.lit(65535)),
                F.col("sim_lo").bitwiseAND(F.lit(65535)),
            ]
        )
    ]
    bands = sims.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_val")
    pairs = capped_band_pairs(bands, "doc_id")
    sa = sims.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sim_hi").alias("a_hi"),
        F.col("sim_lo").alias("a_lo"),
    )
    sb = sims.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sim_hi").alias("b_hi"),
        F.col("sim_lo").alias("b_lo"),
    )
    ham = (
        F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi")))
        + F.bit_count(F.col("a_lo").bitwiseXOR(F.col("b_lo")))
    ).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .where(F.col("hamming") <= SIMHAM_TAU)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# doc_rarity_score
# ---------------------------------------------------------------------------


@register(
    "doc_rarity_score",
    oracle="""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        df AS (
            SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM words GROUP BY term
        )
        SELECT w.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(df) AS BIGINT) AS df_sum,
               CAST(min(df) AS BIGINT) AS min_df,
               CAST(CAST(sum(df) AS BIGINT) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS mean_df
        FROM words w JOIN df ON w.term = df.term
        GROUP BY w.doc_id
        ORDER BY doc_id
    """,
    survey_ref="LLM ops: document rarity scoring — per-doc token "
    "document-frequency stats (the engine-exact analog of unigram-LM "
    "perplexity filtering, CCNet style)",
    description="vocabulary document-frequency table (vocab-sized — "
    "unbounded at web scale, so the term-keyed join shuffles; AQE "
    "broadcasts it only when genuinely small) joined back to every "
    "token occurrence; per-doc mean and "
    "min df are integer sums with ONE final IEEE division, so both "
    "engines agree bit-for-bit.  Low mean_df = rare-token outlier doc, "
    "high mean_df = boilerplate; min_df flags hapax-bearing docs",
)
def doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    df = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return (
        words.join(df, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("df").alias("df_sum"),
            F.min("df").alias("min_df"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "df_sum",
            "min_df",
            (F.col("df_sum").cast("double") / F.col("n_tokens").cast("double")).alias(
                "mean_df"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# bigram_top_transitions
# ---------------------------------------------------------------------------

N_TOP_TRANSITIONS = 20


@register(
    "bigram_top_transitions",
    oracle=f"""
        WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        bg AS (
            SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])
                AS b
            FROM w
        ),
        pc AS (SELECT b, CAST(count(*) AS BIGINT) AS pair_cf FROM bg GROUP BY b),
        pv AS (
            SELECT string_split(b, ' ')[1] AS prev_term,
                   CAST(sum(pair_cf) AS BIGINT) AS prev_cf
            FROM pc GROUP BY 1
        ),
        scored AS (
            SELECT string_split(b, ' ')[1] AS prev_term,
                   string_split(b, ' ')[2] AS next_term,
                   pair_cf, prev_cf,
                   CAST(pair_cf AS DOUBLE) / CAST(prev_cf AS DOUBLE) AS cond_p
            FROM pc JOIN pv ON string_split(pc.b, ' ')[1] = pv.prev_term
        )
        SELECT prev_term, next_term, pair_cf, prev_cf, cond_p
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY pair_cf DESC, prev_term, next_term
            ) AS rn
            FROM scored
        )
        WHERE rn <= {N_TOP_TRANSITIONS}
        ORDER BY pair_cf DESC, prev_term, next_term
    """,
    survey_ref="LLM ops: bigram language-model counts — corpus transition "
    "table with conditional continuation probability (n-gram LM "
    "estimation / tokenizer-merge census)",
    description=f"corpus bigram counts via per-doc array transform (no "
    "self-join: consecutive-token pairs are built map-side), grouped "
    "twice (pair and prefix totals, both with map-side combine; prefix "
    "totals are vocab-sized, so the prev_term-keyed join shuffles — no "
    "forced broadcast at web-scale vocab); cond_p = pair_cf/prev_cf is "
    "one exact integer division.  The global top-"
    f"{N_TOP_TRANSITIONS} window runs over the vocab²-bounded aggregate, "
    "never the corpus",
)
def bigram_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    idx = F.when(F.size(ws) >= 2, F.sequence(F.lit(1), F.size(ws) - 1)).otherwise(
        F.expr("CAST(array() AS ARRAY<INT>)")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(ws, i).alias("prev_term"),
            F.element_at(ws, i + 1).alias("next_term"),
        ),
    )
    b = d.select(F.explode(pairs).alias("p")).select("p.prev_term", "p.next_term")
    pc = b.groupBy("prev_term", "next_term").agg(F.count("*").alias("pair_cf"))
    pv = pc.groupBy("prev_term").agg(F.sum("pair_cf").alias("prev_cf"))
    scored = pc.join(pv, "prev_term").select(
        "prev_term",
        "next_term",
        "pair_cf",
        "prev_cf",
        (F.col("pair_cf").cast("double") / F.col("prev_cf").cast("double")).alias(
            "cond_p"
        ),
    )
    # Global top-N as orderBy().limit() (TakeOrderedAndProject — per-
    # partition heaps), never a row_number window: the scored pair table
    # is vocab²-shaped and must not serialize through one WindowExec task.
    return (
        scored.orderBy(F.col("pair_cf").desc(), "prev_term", "next_term")
        .limit(N_TOP_TRANSITIONS)
        .orderBy(F.col("pair_cf").desc(), "prev_term", "next_term")
    )


# ---------------------------------------------------------------------------
# quality_filter_funnel
# ---------------------------------------------------------------------------

FUNNEL_LANG = "en"
FUNNEL_MIN_TOKENS = 30
FUNNEL_MAX_TOKENS = 90


def _funnel_oracle() -> str:
    quality = (
        f"lang = '{FUNNEL_LANG}' AND len(string_split(text, ' ')) "
        f"BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS}"
    )
    return f"""
        {_lsh_candidates_cte()},
        vp AS (
            SELECT DISTINCT c.doc_b FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE lang = '{FUNNEL_LANG}') AS BIGINT)
                   AS n_lang,
               CAST(count(*) FILTER (WHERE {quality}) AS BIGINT) AS n_quality,
               CAST(count(*) FILTER (WHERE {quality} AND vp.doc_b IS NULL)
                    AS BIGINT) AS n_final,
               CAST(count(*) FILTER (WHERE {quality} AND vp.doc_b IS NULL)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS retention
        FROM documents d LEFT JOIN vp ON vp.doc_b = d.doc_id
        GROUP BY source
        ORDER BY source
    """


@register(
    "quality_filter_funnel",
    oracle=_funnel_oracle(),
    survey_ref="LLM ops: end-to-end preprocessing funnel — language filter "
    "→ token-count quality gate → near-dup drop, per-source survivor "
    "accounting (the corpus-refresh acceptance report)",
    description="three stacked per-doc predicates (language, token-count "
    "band, not-a-dropped-near-dup) aggregated per source in ONE grouped "
    "pass over the corpus.  The near-dup drop set is the minhash-LSH "
    "verified doc_b side (keep-lowest-id greedy) — corpus-proportional, "
    "so the flag join shuffles on doc_id (AQE broadcasts it only when "
    "genuinely small); retention = n_final/n_docs is one exact "
    "integer division",
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    dropped = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    n_tokens = F.size(F.split(F.col("text"), " "))
    is_lang = F.col("lang") == FUNNEL_LANG
    is_quality = is_lang & n_tokens.between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS)
    is_final = is_quality & F.col("_drop").isNull()
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        d.join(dropped, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            flag(is_lang).alias("n_lang"),
            flag(is_quality).alias("n_quality"),
            flag(is_final).alias("n_final"),
        )
        .select(
            "source",
            "n_docs",
            "n_lang",
            "n_quality",
            "n_final",
            (F.col("n_final").cast("double") / F.col("n_docs").cast("double")).alias(
                "retention"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# inverted_index_postings
# ---------------------------------------------------------------------------

POSTINGS_HEAD = 10


@register(
    "inverted_index_postings",
    oracle=f"""
        WITH words AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        occ AS (
            SELECT doc_id, term, 1 AS one FROM words
        ),
        cf AS (
            SELECT term, CAST(count(*) AS BIGINT) AS cf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY term
        )
        SELECT w.term,
               CAST(count(*) AS BIGINT) AS df,
               cf.cf,
               array_to_string(
                   (list_sort(list(w.doc_id)))[1:{POSTINGS_HEAD}], ' '
               ) AS postings_head
        FROM words w JOIN cf ON cf.term = w.term
        GROUP BY w.term, cf.cf
        ORDER BY w.term
    """,
    survey_ref="LLM ops: inverted index construction — per-term posting "
    "lists (document frequency + head of the sorted doc-id list), the "
    "retrieval-side artifact every RAG/search corpus build produces",
    description="distinct (doc_id, term) pairs grouped per term: df is "
    "the posting count, postings_head the first "
    f"{POSTINGS_HEAD} doc ids in sorted order (the posting list head — "
    "full lists would be emitted to a term-bucketed store at scale; the "
    "head keeps the gate row bounded while pinning real order).  "
    "postings_head is space-joined to a STRING because the driver "
    "canonicalizes result frames with pandas sort_values, which cannot "
    "sort list cells (the r5 red recording); the join preserves the "
    "order pin exactly.  One shuffle on term with map-side combine; "
    "corpus frequency joins from the vocab-sized side",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    all_words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    words = all_words.distinct()
    cf = all_words.groupBy("term").agg(F.count("*").alias("cf"))
    return (
        words.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")), 1, POSTINGS_HEAD
                ),
                " ",
            ).alias("postings_head"),
        )
        .join(cf, "term")
        .select("term", "df", "cf", "postings_head")
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# temperature_mix_weights
# ---------------------------------------------------------------------------

# α = 0.5 (square-root temperature sampling, the multilingual-mix
# standard): sqrt() is IEEE-correctly-rounded in BOTH engines (unlike
# ln/exp/pow), so the weights are bit-identical without integer tricks.
MIX_ALPHA_NOTE = "alpha=0.5 via sqrt (IEEE-exact in both engines)"


@register(
    "temperature_mix_weights",
    oracle="""
        WITH tok AS (
            SELECT source,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ),
        w AS (
            SELECT source, n_tokens,
                   sqrt(CAST(n_tokens AS DOUBLE)) AS weight_sqrt,
                   CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,9))
                       AS wd
            FROM tok
        ),
        tot AS (
            SELECT CAST(SUM(wd) AS DOUBLE) AS sum_w,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_n
            FROM w
        )
        SELECT w.source, w.n_tokens, w.weight_sqrt,
               w.weight_sqrt / tot.sum_w AS share,
               (w.weight_sqrt / tot.sum_w)
                   / (CAST(w.n_tokens AS DOUBLE) / CAST(tot.sum_n AS DOUBLE))
                   AS boost
        FROM w CROSS JOIN tot
        ORDER BY source
    """,
    survey_ref="LLM data management: temperature-sampled mix weights "
    "(w_i ∝ n_i^0.5) — the standard rebalancing between corpus-size-"
    "proportional and uniform sampling for multilingual/multi-source "
    "training mixes",
    description="per-source token inventory → sqrt-temperature weight.  "
    "sqrt is IEEE-correctly-rounded in both engines (unlike ln/exp/pow), "
    "so no integer surrogate is needed; the weight SUM crosses an "
    "aggregation and is therefore decimal-cast first (order-insensitive "
    "under partial aggregation).  boost = share/natural_share > 1 marks "
    "up-sampled (small) sources — the point of temperature sampling, "
    "visible in the output",
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    tok = d.groupBy("source").agg(F.sum(n_tokens).cast("long").alias("n_tokens"))
    w = tok.select(
        "source",
        "n_tokens",
        F.sqrt(F.col("n_tokens").cast("double")).alias("weight_sqrt"),
        F.sqrt(F.col("n_tokens").cast("double"))
        .cast("decimal(28,9)")
        .alias("wd"),
    )
    tot = w.agg(
        F.sum("wd").cast("double").alias("sum_w"),
        F.sum("n_tokens").cast("long").alias("sum_n"),
    )
    share = F.col("weight_sqrt") / F.col("sum_w")
    natural = F.col("n_tokens").cast("double") / F.col("sum_n").cast("double")
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            "weight_sqrt",
            share.alias("share"),
            (share / natural).alias("boost"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pagerank_dup_graph
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_DAMP = "CAST(0.85 AS DOUBLE)"
PR_TELE = "CAST(0.15 AS DOUBLE)"


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank, DuckDB side.  Per-edge
    contributions are ROUNDed to 12 decimals and DECIMAL-summed so the
    per-node sum is order-insensitive (floating sums would depend on
    reduce order and could never hash-match a distributed engine)."""
    lsh = _lsh_candidates_cte().strip()
    assert lsh.startswith("WITH ")
    ctes = [
        lsh[len("WITH "):],
        f"""edges AS (
            SELECT c.doc_a, c.doc_b FROM cand c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
            WHERE {_JACC_SQL} >= {_JACCARD_TAU}
        )""",
        """sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM edges
        )""",
        """nodes AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym GROUP BY src
        )""",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM nodes)",
        """pr0 AS (
            SELECT node, degree, CAST(1 AS DOUBLE) / n.nd AS pr
            FROM nodes CROSS JOIN nn n
        )""",
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"""c{i} AS (
                SELECT s.dst AS node,
                       CAST(SUM(CAST(ROUND(p.pr / p.degree, 12)
                                     AS DECIMAL(28,12))) AS DOUBLE) AS s
                FROM pr{i - 1} p JOIN sym s ON s.src = p.node
                GROUP BY s.dst
            )""",
        )
        ctes.append(
            f"""pr{i} AS (
                SELECT nodes.node, nodes.degree,
                       {PR_TELE} / n.nd
                       + {PR_DAMP} * COALESCE(c{i}.s, CAST(0 AS DOUBLE)) AS pr
                FROM nodes CROSS JOIN nn n
                LEFT JOIN c{i} ON c{i}.node = nodes.node
            )""",
        )
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT node AS doc_id, degree, pr AS pagerank
        FROM pr{PR_ITERS}
        ORDER BY doc_id
    """


@register(
    "pagerank_dup_graph",
    oracle=_pagerank_oracle(),
    survey_ref="LLM ops: PageRank over the verified near-dup graph — the "
    "iterative-graph-algorithm shape beyond connected components "
    "(centrality picks the canonical representative of a dup cluster by "
    "connectivity, not id order)",
    description=f"{PR_ITERS} fixed power iterations over the symmetric "
    "LSH-verified pair graph: each iteration is one equi-join shuffle "
    "(contributions) + one grouped sum.  Per-edge contributions are "
    "rounded→DECIMAL before summing, making the per-node sum order-"
    "insensitive — the property that lets a distributed engine and a "
    "single-threaded one agree bit-for-bit, and that makes cluster runs "
    "reproducible under partial aggregation.  At 100 TB the edge list is "
    "partitioned by src and the rank table broadcast-or-co-partitioned; "
    "iteration count is fixed (power iteration, no convergence test)",
)
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    edges = (
        _verified_pairs(d)
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_a", "doc_b")
    )
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # the edge set feeds the degree table AND every iteration's join
    sym = sym.localCheckpoint(eager=True)
    nodes = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )
    nn = nodes.agg(F.count("*").cast("double").alias("nd"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", "degree", (F.lit(1.0) / F.col("nd")).alias("pr")
    )
    for _ in range(PR_ITERS):
        contrib = (
            pr.join(sym, pr["node"] == sym["src"])
            .select(
                F.col("dst"),
                F.round(F.col("pr") / F.col("degree"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        pr = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                "degree",
                (
                    F.lit(0.15) / F.col("nd")
                    + F.lit(0.85)
                    * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("node").alias("doc_id"), "degree", F.col("pr").alias("pagerank")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# bm25_top_docs — round 5: BM25 retrieval over the inverted-index artifacts
# ---------------------------------------------------------------------------
# The retrieval twin of inverted_index_postings: Okapi BM25 (k1=1.2,
# b=0.75) scoring of every document containing a query term, top-10 per
# query.  Queries are deterministic — the BM25_PROBES md5-smallest docs
# contribute their first BM25_QTERMS distinct words (in text order).
#
# Float discipline: the standard idf uses ln(), which is NOT correctly
# rounded identically across engines; the rational idf variant
# (N-df+0.5)/(df+0.5) (the argument of BM25+'s log, monotone in df) keeps
# every operation an IEEE-exact +,-,*,/ mirrored in the same order on both
# sides.  Per-term scores are then ROUND(·,9)->DECIMAL-summed per (query,
# doc) so aggregation order cannot perturb the hash, one final cast to
# DOUBLE.  Ranking ties break on doc_id.
#
# 100 TB: query terms broadcast; only posting-list rows (docs containing a
# query term) are scored — work is O(Σ df(q_t)), never corpus-wide; the
# per-query top-10 is a bounded window over the scored set.

BM25_PROBES = 8
BM25_QTERMS = 4
BM25_TOPK = 10


def _bm25_oracle() -> str:
    return f"""
        WITH stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total
            FROM documents
        ),
        probes AS (
            SELECT doc_id FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            LIMIT {BM25_PROBES}
        ),
        qterms AS (
            SELECT probe, term FROM (
                SELECT p.doc_id AS probe, w.term,
                       row_number() OVER (
                           PARTITION BY p.doc_id ORDER BY w.first_pos
                       ) AS rk
                FROM probes p
                JOIN (
                    SELECT doc_id, term, MIN(pos) AS first_pos
                    FROM (SELECT doc_id,
                                 unnest(string_split(text, ' ')) AS term,
                                 generate_subscripts(string_split(text, ' '), 1) AS pos
                          FROM documents)
                    GROUP BY doc_id, term
                ) w ON w.doc_id = p.doc_id
            ) WHERE rk <= {BM25_QTERMS}
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        dl AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
            FROM documents
        ),
        scored AS (
            SELECT q.probe, t.doc_id,
                   ROUND(
                       ((CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                        / (CAST(d.df AS DOUBLE) + 0.5))
                       * ((CAST(t.tf AS DOUBLE) * 2.2)
                          / (CAST(t.tf AS DOUBLE)
                             + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                                  / (CAST(s.total AS DOUBLE) / CAST(s.n AS DOUBLE)))))),
                       9) AS ts
            FROM qterms q
            JOIN tf t ON t.term = q.term
            JOIN df d ON d.term = q.term
            JOIN dl l ON l.doc_id = t.doc_id
            CROSS JOIN stats s
        ),
        agg AS (
            SELECT probe, doc_id,
                   CAST(SUM(CAST(ts AS DECIMAL(28,9))) AS DOUBLE) AS bm25
            FROM scored GROUP BY probe, doc_id
        ),
        ranked AS (
            SELECT probe, doc_id, bm25,
                   row_number() OVER (
                       PARTITION BY probe ORDER BY bm25 DESC, doc_id
                   ) AS rank
            FROM agg
        )
        SELECT probe, CAST(rank AS INT) AS rank, doc_id, bm25
        FROM ranked WHERE rank <= {BM25_TOPK}
        ORDER BY probe, rank
    """


@register(
    "bm25_top_docs",
    bench=True,  # r5: retrieval-plane representative in the headline set
    oracle=_bm25_oracle(),
    survey_ref="LLM ops: BM25 retrieval — Okapi scoring over posting-list "
    "rows with per-query top-k, the lexical-retrieval baseline of every "
    "RAG corpus build (pairs with inverted_index_postings and the ANN "
    "family's dense retrieval)",
    description=f"{BM25_PROBES} deterministic probe queries (first "
    f"{BM25_QTERMS} distinct words of the md5-smallest docs); rational-idf "
    "BM25 (k1=1.2, b=0.75) over docs sharing a query term only; per-term "
    "scores decimal-quantized before the (query, doc) sum so aggregation "
    "order is hash-neutral; top-10 per query with doc_id tie-breaks",
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    stats = d.agg(
        F.count("*").alias("n"),
        F.sum(F.size(F.split("text", " "))).alias("total"),
    )
    h = F.md5(F.col("doc_id").cast("string"))
    # top-k heap (TakeOrderedAndProject), not a single-partition window
    probes = (
        d.select(F.col("doc_id").alias("probe"), h.alias("h"))
        .orderBy("h", "probe")
        .limit(BM25_PROBES)
        .select("probe")
    )
    # r9 restructure (guide §2.3 "aggregate before you shuffle" / §3.2
    # semi-join reduction).  The r8 plan materialized the FULL posting
    # table — a corpus-wide explode shuffled into a (doc_id, term)
    # aggregation, checkpointed, then re-aggregated corpus-wide for df
    # and dl — when everything downstream only ever touches the rows of
    # the ≤ BM25_PROBES × BM25_QTERMS = 32 query terms.  The query terms
    # are knowable FIRST from the 8 probe docs alone: broadcast-join the
    # probe list against the corpus, explode just those 8 docs, take each
    # one's first BM25_QTERMS distinct words.  The list is bounded by two
    # module constants, so collecting it is a 32-row driver transfer, and
    # it comes back as (a) a literal IN filter that drops non-query-term
    # tokens BEFORE the posting exchange and (b) a literal join frame for
    # the per-probe scoring.  The corpus-wide pass then aggregates only
    # matching (doc_id, term) rows — shuffle bytes go from O(all distinct
    # doc-term pairs) to O(Σ df(q_t)) — and carries dl = size(split(text))
    # map-side in the same pass (identical to the oracle's dl CTE and to
    # the old SUM(tf): both equal the doc's token count), so the separate
    # corpus-wide dl aggregation and its doc_id-keyed join disappear.
    wq = Window.partitionBy("probe").orderBy("first_pos")
    qterm_rows = (
        d.join(F.broadcast(probes), F.col("doc_id") == F.col("probe"))
        .select(
            "probe", F.posexplode(F.split("text", " ")).alias("pos", "term")
        )
        .groupBy("probe", "term")
        .agg(F.min("pos").alias("first_pos"))
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= BM25_QTERMS)
        .select("probe", "term")
        .collect()
    )  # ≤ 32 rows by construction (BM25_PROBES × BM25_QTERMS)
    qterms = spark.createDataFrame(
        qterm_rows, "probe long, term string"
    )
    terms = sorted({r["term"] for r in qterm_rows})
    # candidate postings only: filter BEFORE the exchange; one corpus
    # explode, aggregated rows bounded by Σ df(q_t).  Checkpointed so the
    # df census below and the scoring join pay the corpus pass once.
    cand = (
        d.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("dl"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.min("dl").cast("long").alias("dl"))
        .localCheckpoint(eager=True)
    )
    df_t = cand.groupBy("term").agg(F.count("*").alias("df"))
    # identical IEEE op order as the oracle: rational idf × saturating tf
    avgdl = F.col("total").cast("double") / F.col("n").cast("double")
    ts = F.round(
        (
            (F.col("n").cast("double") - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        * (
            (F.col("tf").cast("double") * F.lit(2.2))
            / (
                F.col("tf").cast("double")
                + F.lit(1.2)
                * (
                    F.lit(0.25)
                    + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)
                )
            )
        ),
        9,
    )
    scored = (
        cand.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select("probe", "doc_id", ts.alias("ts"))
    )
    agg = scored.groupBy("probe", "doc_id").agg(
        F.sum(F.col("ts").cast("decimal(28,9)")).cast("double").alias("bm25")
    )
    wr = Window.partitionBy("probe").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        agg.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= BM25_TOPK)
        .select("probe", "rank", "doc_id", "bm25")
        .orderBy("probe", "rank")
    )
