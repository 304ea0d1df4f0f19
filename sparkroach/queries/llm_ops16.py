"""Round-7 late wave 10 (continued): ``bpe_encode_apply`` — the ENCODE
half of the BPE tokenizer story (R8-window candidate).

The recorded gates train BPE distributedly (`bpe_pair_counts` counts
iteration-1 pairs; `bpe_second_merge` proves the loop iterates).  What
a pipeline ultimately runs, though, is *apply a learned merge TABLE to
the corpus* — this operator learns the first K merges by true iterative
BPE (pair stats recomputed over the CURRENT symbol sequences each step)
and then reports the encoding the merge table produces.

The subtle part is boundary-safe merge application on the spaced symbol
representation.  Iteration 2+ symbols are multi-character, and a naive
``replace(s, 'A B', 'AB')`` can match ACROSS a symbol boundary (the
pair ``th e`` matches inside ``... th ey ...``, corrupting ``ey``).
The standard SQL-expressible fix is delimiter doubling:

    pad:      s → ' ' ‖ replace(s, ' ', '  ') ‖ ' '
    merge:    replace(padded, ' A  B ', ' AB ')
    collapse: replace('  '→' '), trim

After doubling, every true symbol gap is TWO spaces, so the one-space
flanks of the match pattern cannot be stolen by an adjacent match and
consecutive occurrences merge correctly (left-to-right non-overlapping
``replace`` is identical in both engines).  The whole loop is string
expressions over the DISTINCT-WORD table (the corpus collapses to word
frequencies once) — each iteration is two grouped aggregations plus a
broadcast single-row merge, exactly the 100 TB shape; the per-iteration
argmax is one bounded driver row (SCALE.md §9 bookkeeping).

Reference parity: none — LLM-training-data surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

_BPE_MERGES = 3
_BPE_TOP_PIECES = 5


def _apply_merge_sql(s: str, a: str, b: str) -> str:
    """Boundary-safe merge of adjacent symbols ``a b`` in the spaced
    string expression ``s`` (engine-neutral SQL text)."""
    padded = f"' ' || replace({s}, ' ', '  ') || ' '"
    merged = (
        f"replace({padded}, ' ' || {a} || '  ' || {b} || ' ', "
        f"' ' || {a} || {b} || ' ')"
    )
    return f"trim(replace({merged}, '  ', ' '))"


def _bpe_apply_oracle() -> str:
    ctes = [
        (
            "wf AS (SELECT w, COUNT(*) AS f FROM (SELECT "
            "unnest(string_split(text, ' ')) AS w FROM documents) "
            "WHERE length(w) >= 2 GROUP BY w)"
        ),
        (
            "v0 AS (SELECT array_to_string([substring(w, i, 1) "
            "for i in range(1, length(w) + 1)], ' ') AS s, f FROM wf)"
        ),
    ]
    for t in range(1, _BPE_MERGES + 1):
        p = t - 1
        ctes.append(
            f"sy{t} AS (SELECT string_split(s, ' ') AS sy, s, f FROM v{p})"
        )
        ctes.append(
            f"pc{t} AS (SELECT a, b, SUM(f) AS n FROM ("
            f"SELECT unnest(sy[1:len(sy)-1]) AS a, "
            f"unnest(sy[2:len(sy)]) AS b, f FROM sy{t} WHERE len(sy) >= 2"
            f") GROUP BY a, b)"
        )
        ctes.append(
            f"m{t} AS (SELECT a, b FROM ("
            f"SELECT a, b, row_number() OVER "
            f"(ORDER BY n DESC, a || '+' || b) AS rn FROM pc{t}"
            f") WHERE rn = 1)"
        )
        ctes.append(
            f"v{t} AS (SELECT "
            + _apply_merge_sql("v.s", "m.a", "m.b")
            + f" AS s, v.f FROM v{p} v CROSS JOIN m{t} m)"
        )
    n = _BPE_MERGES
    ctes.append(
        f"pieces AS (SELECT unnest(string_split(s, ' ')) AS piece, f "
        f"FROM v{n})"
    )
    ctes.append(
        "pstat AS (SELECT piece, CAST(SUM(f) AS BIGINT) AS n FROM pieces "
        "GROUP BY piece)"
    )
    ctes.append(
        f"top AS (SELECT string_agg(piece || ':' || CAST(n AS VARCHAR), "
        f"' ' ORDER BY n DESC, piece) AS top_pieces FROM ("
        f"SELECT piece, n FROM pstat ORDER BY n DESC, piece "
        f"LIMIT {_BPE_TOP_PIECES}))"
    )
    ctes.append(
        "stat AS (SELECT CAST(SUM(f) AS BIGINT) AS n_words, "
        "CAST(SUM(f * length(replace(s, ' ', ''))) AS BIGINT) "
        "AS total_chars, "
        f"CAST(SUM(f * len(string_split(s, ' '))) AS BIGINT) "
        f"AS total_pieces FROM v{n})"
    )
    merges = " || ' ' || ".join(
        f"(SELECT a || '+' || b FROM m{t})" for t in range(1, n + 1)
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT {merges} AS merge_table, stat.n_words, "
        "stat.total_chars, stat.total_pieces, top.top_pieces "
        "FROM stat, top"
    )


@register(
    "bpe_encode_apply",
    oracle=_bpe_apply_oracle(),
    survey_ref="LLM ops: BPE tokenizer ENCODE — learn the first K merges "
    "by true iterative BPE and apply the merge table to the corpus "
    "(boundary-safe spaced-symbol rewriting, the greedy rule)",
    description=f"{_BPE_MERGES} true BPE iterations over the distinct-"
    "word table (pair stats recomputed over CURRENT symbols each step; "
    "argmax tie-broken by pair name), each merge applied with the "
    "delimiter-doubling rewrite — pad, replace ' A  B '→' AB ', "
    "collapse — so multi-char symbols can never be corrupted by a "
    "cross-boundary match and consecutive occurrences all merge "
    "(left-to-right replace is identical in both engines).  Output: "
    "the learned merge table, corpus piece/char totals under the "
    f"encoding, and the top {_BPE_TOP_PIECES} pieces.  Per iteration "
    "at 100 TB: two vocabulary-bounded grouped aggs + one broadcast "
    "merge row; the corpus collapses to word frequencies once",
)
def bpe_encode_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    v = wf.select(
        F.expr(
            "array_join(transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1)), ' ')"
        ).alias("s"),
        "f",
    ).localCheckpoint(eager=True)
    merges = []
    for _ in range(_BPE_MERGES):
        sy = v.select(F.split("s", " ").alias("sy"), "f").where(
            F.size("sy") >= 2
        )
        pc = (
            sy.select(
                F.expr("slice(sy, 1, size(sy) - 1)").alias("va"),
                F.expr("slice(sy, 2, size(sy) - 1)").alias("vb"),
                "f",
            )
            .select(
                F.explode(F.arrays_zip("va", "vb")).alias("p"), "f"
            )
            .select(
                F.col("p.va").alias("a"), F.col("p.vb").alias("b"), "f"
            )
            .groupBy("a", "b")
            .agg(F.sum("f").alias("n"))
        )
        # one bounded driver row per iteration (§9 bookkeeping): the
        # learned merge itself.  orderBy().limit(1) plans as a distributed
        # TakeOrderedAndProject — the row_number() it replaces was an
        # empty-partition-spec WindowExec funnelling the whole pair table
        # (unbounded at iteration 2+) through one task to rank it.
        top = (
            pc.orderBy(F.col("n").desc(), F.concat_ws("+", "a", "b"))
            .limit(1)
            .collect()[0]
        )
        a, b = top["a"], top["b"]
        merges.append((a, b))
        # Spark's parser applies backslash escape processing inside
        # string literals ('a\b' parses as 'a\x08'), so backslashes must
        # be doubled BEFORE quote-doubling or a learned symbol containing
        # one would be silently corrupted and diverge from the oracle,
        # which re-learns merges purely in SQL (r7 ADVICE).
        a_lit = "'" + a.replace("\\", "\\\\").replace("'", "''") + "'"
        b_lit = "'" + b.replace("\\", "\\\\").replace("'", "''") + "'"
        v = v.select(
            F.expr(_apply_merge_sql("s", a_lit, b_lit)).alias("s"), "f"
        ).localCheckpoint(eager=True)
    pieces = v.select(F.explode(F.split("s", " ")).alias("piece"), "f")
    pstat = pieces.groupBy("piece").agg(F.sum("f").cast("long").alias("n"))
    top = (
        pstat.orderBy(F.col("n").desc(), "piece")
        .limit(_BPE_TOP_PIECES)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("n")).alias("k1"),
                                F.col("piece").alias("k2"),
                                F.concat_ws(
                                    ":", "piece", F.col("n").cast("string")
                                ).alias("txt"),
                            )
                        )
                    ),
                    lambda s: s["txt"],
                ),
                " ",
            ).alias("top_pieces")
        )
    )
    stat = v.agg(
        F.sum("f").cast("long").alias("n_words"),
        F.sum(
            F.col("f") * F.length(F.regexp_replace("s", " ", ""))
        )
        .cast("long")
        .alias("total_chars"),
        F.sum(F.col("f") * F.size(F.split("s", " ")))
        .cast("long")
        .alias("total_pieces"),
    )
    mt = " ".join(f"{a}+{b}" for a, b in merges)
    return stat.crossJoin(F.broadcast(top)).select(
        F.lit(mt).alias("merge_table"),
        "n_words",
        "total_chars",
        "total_pieces",
        "top_pieces",
    )
