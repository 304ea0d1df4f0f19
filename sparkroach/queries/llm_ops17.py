"""Round-7 late wave 11 (continued): ``multimodal_goertzel_tone`` —
integer Goertzel tone detection over REAL-decoded WAV samples
(R8-window candidate): the multimodal plane's first actual SIGNAL
PROCESSING operator, not a codec roundtrip.

The Goertzel algorithm is the standard single-bin DFT probe (DTMF
detection, pilot-tone scanning): s_t = K·s_{t−1} − s_{t−2} + x_t with
K = 2·cos(2πf/fs), energy = s_N² + s_{N−1}² − K·s_N·s_{N−1}.  Here the
coefficient is FIXED-POINT (K_q = floor(K·2^10), an integer literal per
probe) and every step uses exact floor division spelled
``(a − pmod(a, 2^10)) div 2^10`` so both engines agree bit-for-bit —
the quantized recurrence is a well-defined integer filter in its own
right, and detection (resonant growth at the matching bin) survives
quantization.

Execution shape: the WAV bytes are decoded by the REAL ``wave``-module
parser inside one Arrow-batched pass (``decode_wav_samples`` — no
doc_id formulas on the Spark side); the 64-step recurrence then runs as
a single JVM ``aggregate()`` fold with a struct accumulator over the
sample array — one expression, no 64-deep plan, no Python in the filter
itself.  The oracle re-derives the samples from the corpus's closed
form (the multimodal_decode discipline: the encoder's parameters are
doc_id arithmetic) and runs the identical recurrence as a bounded
``WITH RECURSIVE`` lockstep over (doc_id, probe).

Probe bins (square-wave corpus, interleaved channels):
- K_q = −2048 (f = fs/2, K = 2cos π): resonant with the mono docs'
  per-frame alternation — double characteristic root, t²-ish growth;
- K_q = 0 (f = fs/4): resonant with the stereo docs' ++−− interleaved
  pattern (s_t = −s_{t−2} + x_t);
- K_q = 1448 (f = fs/8, floor(2cos(π/4)·2^10)): matches neither —
  the off-bin control.

Reference parity: none — multimodal surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

_GZ_N = 64  # samples per doc through the filter
_GZ_PROBES = [-2048, 0, 1448]  # floor(2cos(2*pi*f/fs) * 2^10) per bin
_GZ_Q = 1 << 10


# exact floor division by 2^10 for possibly-negative numerators: subtract
# the non-negative pmod first so truncation and floor cannot disagree
# (the llm_ops11 power-iteration idiom, per engine)


def _spark_fd(a: str) -> str:
    return f"((({a}) - pmod(({a}), {_GZ_Q})) div {_GZ_Q})"


def _duck_fd(a: str) -> str:
    return (
        f"((({a}) - ((({a}) % {_GZ_Q} + {_GZ_Q}) % {_GZ_Q})) // {_GZ_Q})"
    )


def _gz_oracle() -> str:
    probes = ", ".join(str(k) for k in _GZ_PROBES)
    # closed-form samples (the encoder's doc_id arithmetic): amplitude
    # 1000 + doc_id % 97; channels 1 + ((doc_id // 3) % 2); interleaved
    # sample t (1-based): sign alternates per FRAME = (t-1) // nch
    x_t = (
        "CAST((1000 + doc_id % 97) * "
        "(1 - 2 * (((t) // (1 + ((doc_id // 3) % 2))) % 2)) AS BIGINT)"
    )
    step = _duck_fd("k * s1")
    energy = _duck_fd("k * s1 * s2")
    return f"""
        WITH RECURSIVE wav AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 = 1
        ),
        rec AS (
            SELECT w.doc_id, p.k, 0 AS t,
                   CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2
            FROM wav w, (SELECT unnest([{probes}]) AS k) p
            UNION ALL
            SELECT doc_id, k, t + 1,
                   CAST({step} - s2 + {x_t} AS BIGINT) AS s1,
                   s1 AS s2
            FROM rec WHERE t < {_GZ_N}
        ),
        e AS (
            SELECT doc_id, k,
                   CAST(s1 * s1 + s2 * s2 - {energy} AS BIGINT) AS energy
            FROM rec WHERE t = {_GZ_N}
        )
        SELECT CAST(k AS BIGINT) AS k_coeff,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(energy) AS BIGINT) AS energy_sum,
               CAST(MAX(energy) AS BIGINT) AS energy_max
        FROM e GROUP BY k ORDER BY k_coeff
    """


@register(
    "multimodal_goertzel_tone",
    oracle=_gz_oracle(),
    survey_ref="multimodal: audio signal processing — integer Goertzel "
    "single-bin tone probes over real-decoded PCM (the DTMF/pilot-tone "
    "scan), fixed-point coefficients, resonance visible per bin",
    description=f"WAV docs decoded by the real wave-module parser "
    f"(first {_GZ_N} interleaved samples, Arrow-batched); the "
    f"{len(_GZ_PROBES)}-probe Goertzel recurrence runs as ONE JVM "
    "aggregate() fold with a struct accumulator per probe — no 64-deep "
    "plan, no Python in the filter.  K quantized to floor(2cosω·2^10) "
    "with exact floor division, so the integer filter is deterministic "
    "across engines; the fs/2 bin resonates with mono docs, fs/4 with "
    "stereo interleave, fs/8 is the off-bin control.  Output: per-probe "
    "doc count, energy sum and max — all integers.  Map-only + one "
    f"{len(_GZ_PROBES)}-group census at any scale",
)
def multimodal_goertzel_tone(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from sparkroach._shiplib import ensure_shipped

    ensure_shipped(spark)
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 1)

    def decode(batches):
        from sparkroach.functions.media import (
            decode_wav_samples,
            encode_wav,
        )

        for pdf in batches:
            ids = [int(v) for v in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    # REAL container bytes through the REAL parser
                    "xs": [
                        decode_wav_samples(encode_wav(i), _GZ_N)
                        for i in ids
                    ],
                }
            )

    # pay the Arrow decode once: three per-probe branches consume it
    sampled = d.select("doc_id").mapInPandas(
        decode, "doc_id long, xs array<long>"
    ).localCheckpoint(eager=True)
    outs = []
    for k in _GZ_PROBES:
        step = _spark_fd(f"{k} * acc.s1")
        fold = (
            f"aggregate(xs, named_struct('s1', CAST(0 AS BIGINT), "
            f"'s2', CAST(0 AS BIGINT)), (acc, x) -> "
            f"named_struct('s1', {step} - acc.s2 + x, 's2', acc.s1))"
        )
        energy = _spark_fd(f"{k} * st.s1 * st.s2")
        e = sampled.selectExpr(
            "doc_id", f"{fold} AS st"
        ).selectExpr(
            f"CAST({k} AS BIGINT) AS k_coeff",
            f"CAST(st.s1 * st.s1 + st.s2 * st.s2 - {energy} AS BIGINT) "
            "AS energy",
        )
        outs.append(
            e.groupBy("k_coeff").agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("energy").cast("long").alias("energy_sum"),
                F.max("energy").cast("long").alias("energy_max"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("k_coeff")
