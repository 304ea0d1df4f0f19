"""Rice/Golomb-coded linear-prediction audio block codec, stdlib-only
— the FLAC-family construction (fixed polynomial predictors + Rice
entropy coding of the residuals), written from the published
definitions of both primitives; the container is this repo's own
strict framing, not the FLAC container.

An EIGHTH compression family in the codec matrix, and the first
ENTROPY coder built here from bits up: Rice(k) writes a non-negative
residual r as unary(r >> k) + '0' + k literal low bits — optimal for
the geometric residual distributions linear prediction produces.
Signed residuals take the zigzag map first.

Fixed predictors (FLAC's order-0..2 polynomial family):

  order 0: r_i = x_i                  (no prediction)
  order 1: r_i = x_i − x_{i−1}
  order 2: r_i = x_i − 2x_{i−1} + x_{i−2}

The encoder tries every (order, k ≤ 14) pair and keeps the cheapest —
the decision is stored in the header, so decode needs no search.

Container: ``SRC1`` magic | u16-BE n_samples | u8 order | u8 k |
warm-up samples (order × s16-BE) | Rice bitstream (zero-padded to a
byte) | u32-BE CRC-32 of the ``v0,v1,...`` canonical rendering.

The decoder is STRICT: bad magic, order > 2, k > 14, truncated
warm-up/bitstream, more than 7 padding bits, nonzero padding, and a
CRC mismatch all raise.

Reference parity: none — multimodal codec breadth per the build brief.
"""

from __future__ import annotations

import struct
import zlib

_MAGIC = b"SRC1"
_MAX_K = 14
_MAX_ORDER = 2


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                self.acc = 0
                self.nbits = 0

    def write_unary(self, q: int) -> None:
        for _ in range(q):
            self.write(1, 1)
        self.write(0, 1)

    def finish(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc << (8 - self.nbits))
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            byte_i, bit_i = divmod(self.pos, 8)
            if byte_i >= len(self.data):
                raise ValueError("rice: truncated bitstream")
            v = (v << 1) | ((self.data[byte_i] >> (7 - bit_i)) & 1)
            self.pos += 1
        return v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.read(1) == 0:
                return q
            q += 1


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if u % 2 == 0 else -((u + 1) >> 1)


def _residuals(samples: list[int], order: int) -> list[int]:
    if order == 0:
        return list(samples)
    if order == 1:
        return [samples[i] - samples[i - 1] for i in range(1, len(samples))]
    return [
        samples[i] - 2 * samples[i - 1] + samples[i - 2]
        for i in range(2, len(samples))
    ]


def _rice_cost(residuals: list[int], k: int) -> int:
    return sum((_zigzag(r) >> k) + 1 + k for r in residuals)


def _crc(samples: list[int]) -> int:
    return zlib.crc32(",".join(str(v) for v in samples).encode()) & 0xFFFFFFFF


def rice_compress(samples: list[int]) -> bytes:
    if len(samples) > 0xFFFF:
        raise ValueError("rice: block too long")
    for s in samples:
        if not -32768 <= s <= 32767:
            raise ValueError(f"rice: sample {s} outside PCM16")
    best = None
    for order in range(min(_MAX_ORDER, len(samples)) + 1):
        res = _residuals(samples, order)
        for k in range(_MAX_K + 1):
            cost = _rice_cost(res, k) + 16 * order
            if best is None or cost < best[0]:
                best = (cost, order, k, res)
    _cost, order, k, res = best if best else (0, 0, 0, [])
    out = bytearray(_MAGIC)
    out += struct.pack(">HBB", len(samples), order, k)
    for w in samples[:order]:
        out += struct.pack(">h", w)
    bw = _BitWriter()
    for r in res:
        u = _zigzag(r)
        bw.write_unary(u >> k)
        bw.write(u & ((1 << k) - 1), k)
    out += bw.finish()
    out += struct.pack(">I", _crc(samples))
    return bytes(out)


def rice_decompress(blob: bytes) -> list[int]:
    if len(blob) < 12 or blob[:4] != _MAGIC:
        raise ValueError(f"rice: bad header {blob[:4]!r}")
    n, order, k = struct.unpack(">HBB", blob[4:8])
    if order > _MAX_ORDER:
        raise ValueError(f"rice: unsupported predictor order {order}")
    if k > _MAX_K:
        raise ValueError(f"rice: unsupported rice parameter {k}")
    pos = 8
    warm: list[int] = []
    for _ in range(min(order, n)):
        if pos + 2 > len(blob) - 4:
            raise ValueError("rice: truncated warm-up")
        warm.append(struct.unpack(">h", blob[pos : pos + 2])[0])
        pos += 2
    body = blob[pos:-4]
    br = _BitReader(body)
    samples = list(warm)
    for _ in range(n - len(warm)):
        q = br.read_unary()
        u = (q << k) | br.read(k)
        r = _unzigzag(u)
        if order == 0:
            x = r
        elif order == 1:
            x = samples[-1] + r
        else:
            x = 2 * samples[-1] - samples[-2] + r
        samples.append(x)
    # framing: at most 7 zero padding bits may remain
    rem = len(body) * 8 - br.pos
    if rem >= 8:
        raise ValueError(f"rice: {rem} trailing bits after last sample")
    if rem and br.read(rem) != 0:
        raise ValueError("rice: nonzero padding bits")
    (crc,) = struct.unpack(">I", blob[-4:])
    if crc != _crc(samples):
        raise ValueError("rice: CRC mismatch on decoded samples")
    return samples


# ---------------------------------------------------------------------------
# gate corpus: deterministic doc_id-arithmetic PCM — a linear ramp with
# a small bounded wiggle, so order-1/2 prediction leaves tiny residuals
# ---------------------------------------------------------------------------

RICE_N_SAMPLES = 96


def doc_rice_samples(doc_id: int) -> list[int]:
    base = (doc_id * 7) % 256
    slope = 3 + (doc_id % 5)
    return [
        -8000 + base + slope * p + (doc_id * 31 + p * 17) % 5
        for p in range(RICE_N_SAMPLES)
    ]
