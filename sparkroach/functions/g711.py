"""From-scratch G.711 µ-law audio companding codec (ITU-T G.711) —
encoder + decoder, pure integer arithmetic, stdlib-only.

µ-law maps a 16-bit linear PCM sample to one byte: sign bit, a 3-bit
exponent (the magnitude's bit-segment after adding the BIAS of 0x84),
and a 4-bit mantissa, all bit-inverted on the wire.  Decode expands the
segment back; the roundtrip quantizes the magnitude to the segment's
step (2^(e+3) linear units), which makes decode(encode(x)) a CLOSED
INTEGER FORM the SQL oracle can mirror exactly — the same
"real codec on the Spark side, arithmetic mirror on the oracle side"
construction as the WAV/Goertzel lane.

Reference parity: none — multimodal/audio plumbing per the build brief.
"""

from __future__ import annotations

_BIAS = 0x84  # 132
_CLIP = 32635


def mulaw_encode_sample(x: int) -> int:
    """Linear PCM16 sample (two's complement int, -32768..32767) → µ-law
    byte (0..255)."""
    if not -32768 <= x <= 32767:
        raise ValueError(f"g711: sample {x} out of PCM16 range")
    sign = 0x80 if x < 0 else 0x00
    mag = -x if x < 0 else x
    if mag > _CLIP:
        mag = _CLIP
    mag += _BIAS
    # exponent = index of the magnitude's segment: highest set bit 7..14
    exponent = 7
    mask = 0x4000
    while exponent > 0 and not (mag & mask):
        mask >>= 1
        exponent -= 1
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return ~(sign | (exponent << 4) | mantissa) & 0xFF


def mulaw_decode_sample(u: int) -> int:
    """µ-law byte → linear PCM16 sample."""
    if not 0 <= u <= 255:
        raise ValueError(f"g711: byte {u} out of range")
    u = ~u & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = ((mantissa << 3) + _BIAS) << exponent
    mag -= _BIAS
    return -mag if sign else mag


def mulaw_encode(samples: list[int]) -> bytes:
    return bytes(mulaw_encode_sample(s) for s in samples)


def mulaw_decode(payload: bytes) -> list[int]:
    return [mulaw_decode_sample(b) for b in payload]


# ---------------------------------------------------------------------------
# gate corpus: deterministic doc_id-arithmetic PCM
# ---------------------------------------------------------------------------

N_SAMPLES = 64


def doc_pcm_samples(doc_id: int) -> list[int]:
    """64 deterministic PCM16 samples spanning both signs and all
    µ-law segments (the modulus sweeps the full 16-bit range)."""
    return [
        ((doc_id * 97 + i * 1031) % 65536) - 32768 for i in range(N_SAMPLES)
    ]
