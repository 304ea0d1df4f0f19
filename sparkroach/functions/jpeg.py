"""Baseline JPEG (JFIF) codec — pure stdlib + numpy, no imaging libraries.

Closes the last honestly-stubbed multimodal container (VERDICT r4 missing
item 2): a sequential baseline JFIF encoder AND decoder built from the
public JPEG specification (ITU-T T.81): level shift, 8x8 forward/inverse
DCT, quantization (tables carried in DQT), zigzag, DC prediction, AC
run-length coding, canonical Huffman entropy coding with the spec's
standard tables, 0xFF byte stuffing, marker framing (SOI/APP0/DQT/SOF0/
DHT/SOS/EOI).  The decoder is a GENERAL baseline decoder (any 8-bit,
non-subsampled, single-scan baseline JPEG: it reads dimensions, component
count, quant + Huffman tables from the stream, and handles DRI restart
intervals / RSTn resync markers and 0xFF fill bytes; standalone markers
that are illegal in the header raise a clean error); the encoder is
general over arbitrary RGB rasters and can emit restart intervals
(``encode_jpeg(..., restart_interval=n)``).

Oracle exactness: a DCT codec is lossy in general, so the gate corpus is
chosen where the roundtrip is PROVABLY exact — images tiled from constant
8x8 gray blocks with DC quantization step 8:

  * a constant block's AC coefficients are mathematically 0 (float noise
    ~1e-13 quantizes to 0 at any step >= 1);
  * its DC coefficient is 8·(v-128); with q_DC = 8 the quantized value is
    exactly v-128 (integer), and the IDCT of a DC-only block is the
    constant F(0,0)/8 = v-128 → +128 → v, with float error ~1e-13 that
    nearest-int rounding absorbs;
  * gray pixels (R=G=B=v) give Cb=Cr=128 exactly after rounding, and the
    decoded chroma planes are exactly 128, so YCbCr→RGB returns Y
    untouched (the 1.402/1.772 terms multiply exact zero).

So width/height/component count/pixel-sum are exact integers a SQL oracle
mirrors from the doc_id formulas — while the Spark side runs the real
bitstream: per-tile DC DIFFERENCES exercise the DC Huffman categories and
the encoder/decoder never see the formulas.  Lossy behavior on general
images is covered by tests (tests/test_jpeg_codec.py) with a quantization
error bound, not by the gate.

No external JPEG implementation exists in this container to cross-check
against; the codec is validated by (a) the exact tile corpus, (b) general
random-image roundtrips within the quantization error bound, and (c)
structural marker checks.  MP4 stays stubbed — container parsing without
a video codec is not meaningful (COVERAGE.md).
"""

from __future__ import annotations

import math
import struct

# ---------------------------------------------------------------------------
# constants from the public JPEG spec (ITU-T T.81)
# ---------------------------------------------------------------------------

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K standard Huffman tables: (bits[1..16], huffval)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# quantization tables carried in this encoder's DQT (q_DC=8 → the tile
# corpus roundtrips exactly; see module docstring)
Q_LUMA = [8] + [16] * 63  # natural (row-major) order
Q_CHROMA = [8] + [16] * 63


_BASIS = None


def _dct_basis():
    global _BASIS
    if _BASIS is None:
        import numpy as np

        c = np.zeros((8, 8))
        for u in range(8):
            for x in range(8):
                c[u, x] = math.cos((2 * x + 1) * u * math.pi / 16)
        s = np.full(8, 0.5)
        s[0] = 0.5 / math.sqrt(2)  # (1/2)·C(u) with C(0)=1/√2
        _BASIS = (c, s)
    return _BASIS


def fdct2(block):
    """JPEG forward DCT of an 8x8 float block (level-shifted)."""
    import numpy as np

    c, s = _dct_basis()
    # F = S · C · f · C^T · S  (separable; S carries the 1/4·C(u)C(v))
    return (s[:, None] * s[None, :]) * (c @ block @ c.T)


def idct2(coef):
    """JPEG inverse DCT of an 8x8 coefficient block."""
    import numpy as np

    c, s = _dct_basis()
    return c.T @ ((s[:, None] * s[None, :]) * coef) @ c


# ---------------------------------------------------------------------------
# Huffman (canonical codes per T.81 Annex C)
# ---------------------------------------------------------------------------


def build_huffman_codes(bits, vals):
    """symbol -> (code, length) canonical assignment."""
    if sum(bits) > len(vals):
        raise ValueError("huffman table: fewer values than BITS counts")
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def build_huffman_decoder(bits, vals):
    """(code, length) -> symbol lookup for the bit-serial decoder."""
    return {cl: sym for sym, cl in build_huffman_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)

    def restart(self, m: int) -> None:
        """Byte-align (1-bit padding) and emit an RSTm marker (T.81 E.1.2).

        The marker bytes are appended RAW — marker 0xFF is never stuffed."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes((0xFF, 0xD0 + (m & 7)))


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy data exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1  # skip stuffed 0x00
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((code, length))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def sync_restart(self, m: int) -> None:
        """Discard bits to the byte boundary and consume the expected RSTm
        marker (T.81 E.2.4); fill 0xFF bytes before the marker are legal."""
        self.nbits = 0
        while (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and self.data[self.pos + 1] == 0xFF
        ):
            self.pos += 1  # fill byte
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (m & 7)
        ):
            raise ValueError(
                f"expected RST{m & 7} marker at entropy offset {self.pos}"
            )
        self.pos += 2


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _mag_bits(v: int, cat: int) -> int:
    return v if v >= 0 else v + (1 << cat) - 1


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(rgb):
    import numpy as np

    r = rgb[..., 0].astype("float64")
    g = rgb[..., 1].astype("float64")
    b = rgb[..., 2].astype("float64")
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return [
        np.clip(np.rint(p), 0, 255).astype("int64") for p in (y, cb, cr)
    ]


def _encode_block(bw, block, qtab, dc_codes, ac_codes, pred: int) -> int:
    import numpy as np

    coef = fdct2(block.astype("float64") - 128.0)
    q = np.asarray(qtab, dtype="float64").reshape(8, 8)
    quant = np.rint(coef / q).astype("int64").reshape(64)
    zz = [int(quant[ZIGZAG[i]]) for i in range(64)]
    diff = zz[0] - pred
    cat = _category(diff)
    code, length = dc_codes[cat]
    bw.write(code, length)
    if cat:
        bw.write(_mag_bits(diff, cat), cat)
    run = 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]  # ZRL
            bw.write(zc, zl)
            run -= 16
        cat = _category(zz[k])
        code, length = ac_codes[(run << 4) | cat]
        bw.write(code, length)
        bw.write(_mag_bits(zz[k], cat), cat)
        run = 0
    if run:
        ec, el = ac_codes[0x00]  # EOB
        bw.write(ec, el)
    return zz[0]


def encode_jpeg(
    rgb, restart_interval: int = 0, subsampling: str = "444"
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline JFIF.

    ``subsampling``: "444" (no chroma subsampling, dims multiples of 8 —
    byte-identical to the pre-4:2:0 encoder) or "420" (YCbCr 4:2:0, the
    baseline-JFIF default in the wild: Y at 2x2 sampling, Cb/Cr
    box-averaged 2x2 — dims must be multiples of 16 so every MCU is
    full; T.81 A.2.3 interleaved MCU order Y00 Y01 Y10 Y11 Cb Cr).

    ``restart_interval`` > 0 emits a DRI segment and an RSTm marker every
    that many MCUs (DC predictors reset, entropy stream byte-aligned) —
    the spec's resync mechanism, common in real baseline files."""
    import numpy as np

    rgb = np.asarray(rgb, dtype="uint8")
    h, w, _ = rgb.shape
    if subsampling == "444":
        samps = [(1, 1), (1, 1), (1, 1)]
    elif subsampling == "420":
        samps = [(2, 2), (1, 1), (1, 1)]
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    max_sh = max(s[0] for s in samps)
    max_sv = max(s[1] for s in samps)
    if h % (8 * max_sv) or w % (8 * max_sh):
        raise ValueError(
            f"dimensions must be multiples of {8 * max_sh}x{8 * max_sv} "
            f"for {subsampling}"
        )
    planes = _rgb_to_ycbcr(rgb)
    comp_planes = []
    for ci, (sh, sv) in enumerate(samps):
        p = planes[ci]
        if (sh, sv) != (max_sh, max_sv):
            fy, fx = max_sv // sv, max_sh // sh
            # box-average downsample, then round — a chroma-constant
            # region survives exactly (the gate-corpus property)
            p = p.reshape(h // fy, fy, w // fx, fx).mean(axis=(1, 3))
            p = np.clip(np.rint(p), 0, 255).astype("int64")
        comp_planes.append(p)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    # APP0/JFIF: id(5) version(2) units(1) Xdensity(2) Ydensity(2) thumb(2)
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    # DQT: two 8-bit tables, zigzag order per spec
    for tid, tab in ((0, Q_LUMA), (1, Q_CHROMA)):
        zz = bytes(tab[ZIGZAG[i]] for i in range(64))
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + zz
    # SOF0: baseline, 3 components, per-mode sampling factors
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for (cid, qid), (sh, sv) in zip(((1, 0), (2, 1), (3, 1)), samps):
        out += struct.pack(">BBB", cid, (sh << 4) | sv, qid)
    # DHT: the four standard tables
    for cls, tid, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), (cls << 4) | tid)
        out += bytes(bits) + bytes(vals)
    # DRI (optional): 2-byte MCU restart interval
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tids in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack(">BB", cid, tids)
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0

    dc_l = build_huffman_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = build_huffman_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = build_huffman_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = build_huffman_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    tables = [(dc_l, ac_l, Q_LUMA), (dc_c, ac_c, Q_CHROMA), (dc_c, ac_c, Q_CHROMA)]

    bw = _BitWriter()
    preds = [0, 0, 0]
    mcu = 0
    for by in range(h // (8 * max_sv)):
        for bx in range(w // (8 * max_sh)):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.restart((mcu // restart_interval - 1) % 8)
                preds = [0, 0, 0]
            mcu += 1
            # interleaved MCU: each component contributes sv x sh blocks
            # in raster order (T.81 A.2.3) — for 4:4:4 this is the old
            # Y, Cb, Cr order byte-for-byte
            for ci in range(3):
                sh, sv = samps[ci]
                dc_codes, ac_codes, qtab = tables[ci]
                for dy in range(sv):
                    for dx in range(sh):
                        py0 = (by * sv + dy) * 8
                        px0 = (bx * sh + dx) * 8
                        block = comp_planes[ci][
                            py0 : py0 + 8, px0 : px0 + 8
                        ]
                        preds[ci] = _encode_block(
                            bw, block, qtab, dc_codes, ac_codes, preds[ci]
                        )
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder (general sequential baseline, 8-bit, 1x1 sampling, single scan)
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> dict:
    """Decode a baseline JFIF; returns width/height/n_components/pixel_sum
    plus the raster (numpy uint8 (h, w, 3)) under key 'rgb'."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    h = w = 0
    scan_order: list[dict] = []
    data_start = None
    restart_interval = 0
    while pos < len(payload):
        if pos + 1 >= len(payload):
            raise ValueError("truncated marker at end of stream")
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos -= 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            # standalone markers carry NO length field; none is legal in
            # the header stream (RSTn live in entropy data, SOI only at
            # offset 0) — fail cleanly instead of misparsing a length
            raise ValueError(
                f"unexpected standalone marker 0x{marker:02x} in header"
            )
        if pos + 2 > len(payload):
            raise ValueError("truncated segment length field")
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        if seg_len < 2 or pos + seg_len > len(payload):
            raise ValueError("segment length exceeds payload")
        seg = payload[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(seg):
                if p + 65 > len(seg):
                    raise ValueError("truncated DQT table")
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = list(seg[p + 1 : p + 65])
                nat = [0] * 64
                for i in range(64):
                    nat[ZIGZAG[i]] = zz[i]
                qtabs[tq] = nat
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            if len(seg) < 6:
                raise ValueError("truncated SOF0 header")
            precision, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated SOF0 component list")
            if precision != 8:
                raise ValueError("only 8-bit baseline supported")
            for i in range(nc):
                cid, samp, qid = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                sh, sv = samp >> 4, samp & 0x0F
                if not (1 <= sh <= 2 and 1 <= sv <= 2):
                    raise ValueError(
                        f"sampling factor {sh}x{sv} unsupported (1-2 only)"
                    )
                comps.append({"id": cid, "q": qid, "sh": sh, "sv": sv})
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("non-baseline SOF unsupported")
        elif marker == 0xDD:  # DRI: MCU restart interval
            if len(seg) < 2:
                raise ValueError("truncated DRI segment")
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(seg):
                if p + 17 > len(seg):
                    raise ValueError("truncated DHT header")
                cls, tid = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                if p + 17 + n > len(seg):
                    raise ValueError("truncated DHT value list")
                vals = list(seg[p + 17 : p + 17 + n])
                huff[(cls, tid)] = build_huffman_decoder(bits, vals)
                p += 17 + n
        elif marker == 0xDA:  # SOS
            if not seg:
                raise ValueError("empty SOS segment")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns:
                raise ValueError("truncated SOS component list")
            for i in range(ns):
                cid, tids = struct.unpack_from(">BB", seg, 1 + 2 * i)
                comp = next(
                    (c for c in comps if c["id"] == cid), None
                )
                if comp is None:
                    raise ValueError(
                        f"SOS references unknown component {cid}"
                    )
                scan_order.append(
                    {**comp, "dc": tids >> 4, "ac": tids & 0x0F}
                )
            data_start = pos + seg_len
            break
        # APPn/COM/etc: skip
        pos += seg_len
    if data_start is None or not scan_order:
        raise ValueError("no scan found")
    end = payload.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("missing EOI")
    br = _BitReader(payload[data_start:end])

    # every table a scan component references must have been defined —
    # fail cleanly here instead of KeyError deep in the MCU loop
    for comp in scan_order:
        if (0, comp["dc"]) not in huff or (1, comp["ac"]) not in huff:
            raise ValueError(
                f"scan references undefined Huffman table "
                f"(dc={comp['dc']}, ac={comp['ac']})"
            )
        if comp["q"] not in qtabs:
            raise ValueError(
                f"scan references undefined quant table {comp['q']}"
            )

    max_sh = max(c["sh"] for c in scan_order)
    max_sv = max(c["sv"] for c in scan_order)
    if h % (8 * max_sv) or w % (8 * max_sh):
        raise ValueError(
            f"dims not multiples of the {8 * max_sh}x{8 * max_sv} MCU "
            "(partial MCUs unsupported)"
        )
    # each component decodes at its own resolution (4:2:0 chroma planes
    # are quarter-size), then upsamples by sample replication
    planes = [
        np.zeros(
            (h * c["sv"] // max_sv, w * c["sh"] // max_sh), dtype="float64"
        )
        for c in scan_order
    ]
    preds = [0] * len(scan_order)
    mcu = 0
    for by in range(h // (8 * max_sv)):
        for bx in range(w // (8 * max_sh)):
            if restart_interval and mcu and mcu % restart_interval == 0:
                br.sync_restart((mcu // restart_interval - 1) % 8)
                preds = [0] * len(scan_order)
            mcu += 1
            for ci, comp in enumerate(scan_order):
                dc_tab = huff[(0, comp["dc"])]
                ac_tab = huff[(1, comp["ac"])]
                q = qtabs[comp["q"]]
                for dy in range(comp["sv"]):
                    for dx in range(comp["sh"]):
                        zz = [0] * 64
                        cat = br.read_symbol(dc_tab)
                        diff = _extend(br.read_bits(cat), cat)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = br.read_symbol(ac_tab)
                            run, cat = rs >> 4, rs & 0x0F
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(br.read_bits(cat), cat)
                            k += 1
                        coef = np.zeros(64)
                        for i in range(64):
                            coef[ZIGZAG[i]] = zz[i] * q[ZIGZAG[i]]
                        block = idct2(coef.reshape(8, 8)) + 128.0
                        py0 = (by * comp["sv"] + dy) * 8
                        px0 = (bx * comp["sh"] + dx) * 8
                        planes[ci][py0 : py0 + 8, px0 : px0 + 8] = block

    # native-resolution plane sums BEFORE upsampling/color conversion
    # (integer-exact on the DC-exact gate corpora)
    plane_sums = [
        int(np.rint(np.clip(p, 0.0, 255.0)).astype("int64").sum())
        for p in planes
    ]
    full = []
    for ci, comp in enumerate(scan_order):
        p = planes[ci]
        if comp["sh"] != max_sh or comp["sv"] != max_sv:
            p = np.repeat(
                np.repeat(p, max_sv // comp["sv"], axis=0),
                max_sh // comp["sh"],
                axis=1,
            )
        full.append(p)
    y = full[0]
    if len(full) == 3:
        cb = full[1] - 128.0
        cr = full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
    else:
        r = g = b = y
    rgb = np.stack(
        [np.clip(np.rint(p), 0, 255).astype("uint8") for p in (r, g, b)],
        axis=-1,
    )
    return {
        "width": w,
        "height": h,
        "n_components": len(scan_order),
        "pixel_sum": int(rgb.astype("int64").sum()),
        "plane_sums": plane_sums,
        "rgb": rgb,
    }


# ---------------------------------------------------------------------------
# deterministic gate corpus: tile-constant gray images (exact roundtrip)
# ---------------------------------------------------------------------------


def jpeg_params(doc_id: int) -> dict:
    return {
        "width": 8 * (2 + doc_id % 3),
        "height": 8 * (2 + (doc_id // 3) % 3),
    }


def tile_value(doc_id: int, tx: int, ty: int) -> int:
    return (doc_id * 31 + ty * 16 + tx * 5) % 256


def encode_doc_jpeg(doc_id: int) -> bytes:
    import numpy as np

    p = jpeg_params(doc_id)
    w, h = p["width"], p["height"]
    img = np.zeros((h, w, 3), dtype="uint8")
    for ty in range(h // 8):
        for tx in range(w // 8):
            v = tile_value(doc_id, tx, ty)
            img[ty * 8 : ty * 8 + 8, tx * 8 : tx * 8 + 8, :] = v
    return encode_jpeg(img)


# ---------------------------------------------------------------------------
# deterministic COLOR gate corpus: palette-chroma 4:2:0 (exact roundtrip)
# ---------------------------------------------------------------------------
# The gray corpus pins luma; this one pins the full color chain — RGB →
# YCbCr → 2x2 chroma box-downsample → 4:2:0 MCUs → entropy → decode →
# replication upsample → YCbCr⁻¹ — and is still integer-exact:
#
#   * each 16x16 tile is (pr+t, pg+t, pb+t): a palette base plus a per-
#     tile gray offset t.  The luma row of the RGB→YCbCr matrix sums to
#     1 and the chroma rows to 0, so Y = y_base + t varies per tile while
#     Cb/Cr are CONSTANT across the whole image → the box downsample is
#     exact and every chroma block is DC-only;
#   * q_DC = 8 makes every constant block's DC roundtrip exact (the gray-
#     corpus argument), so the decoded planes equal the encoder's integer
#     planes;
#   * the decoded RGB of a tile is Y+dr, Y+dg, Y+db where dr/dg/db are
#     per-PALETTE integers — color_constants() derives them by replaying
#     both conversion chains in the same float64 op order and REFUSES
#     palette colors whose roundings sit near a .5 boundary (margin
#     1e-3, vs float-noise ~1e-13) or whose tile range could clip.
#
# So pixel_sum / y_sum / chroma_sum are closed-form doc_id arithmetic a
# SQL oracle mirrors — while the Spark side runs the real 4:2:0
# bitstream (interleaved Y00 Y01 Y10 Y11 Cb Cr MCUs; odd doc_ids add a
# DRI restart every MCU so RSTn resync is exercised in 4:2:0 too).

# distinct hues; margins and tile ranges validated by color_constants
COLOR_PALETTE = [
    (120, 80, 80), (80, 120, 80), (80, 80, 120), (130, 110, 60),
    (60, 110, 130), (110, 60, 120), (140, 90, 110), (70, 90, 140),
]

_COLOR_TILE_MAX = 63  # tile luma offsets range over 0..63

_COLOR_CONSTS_CACHE: dict[tuple[int, int, int], dict] = {}


def color_constants(pr: int, pg: int, pb: int) -> dict:
    """Integer constants of one palette color: the encoded (y0, cb, cr)
    and the decoded per-channel deltas (dr, dg, db), derived by replaying
    the codec's own float64 conversion chains in identical op order.
    Raises if any rounding margin is unsafe or any tile could clip."""
    key = (pr, pg, pb)
    if key in _COLOR_CONSTS_CACHE:
        return _COLOR_CONSTS_CACHE[key]
    import numpy as np

    f = np.float64
    r, g, b = f(pr), f(pg), f(pb)
    y = f(0.299) * r + f(0.587) * g + f(0.114) * b
    cb = f(128.0) - f(0.168736) * r - f(0.331264) * g + f(0.5) * b
    cr = f(128.0) + f(0.5) * r - f(0.418688) * g - f(0.081312) * b

    def margin(x) -> float:
        return abs(float(x) - math.floor(float(x)) - 0.5)

    y0, cb0, cr0 = (int(np.rint(v)) for v in (y, cb, cr))
    # decode-side deltas, probing with an integer Y (same op order as
    # decode_jpeg's r/g/b expressions)
    cbc, crc = f(cb0) - f(128.0), f(cr0) - f(128.0)
    probe = f(100.0)
    drf = (probe + f(1.402) * crc) - probe
    dgf = (probe - f(0.344136) * cbc - f(0.714136) * crc) - probe
    dbf = (probe + f(1.772) * cbc) - probe
    for v in (y, cb, cr, drf, dgf, dbf):
        if margin(v) < 1e-3:
            raise ValueError(
                f"palette {key}: rounding margin {margin(v):.2e} unsafe"
            )
    dr, dg, db = (int(np.rint(v)) for v in (drf, dgf, dbf))
    lo = y0 + min(dr, dg, db, 0)
    hi = y0 + _COLOR_TILE_MAX + max(dr, dg, db, 0)
    if lo < 0 or hi > 255:
        raise ValueError(f"palette {key}: tile range [{lo},{hi}] clips")
    out = {"y0": y0, "cb": cb0, "cr": cr0, "dr": dr, "dg": dg, "db": db}
    _COLOR_CONSTS_CACHE[key] = out
    return out


def color_jpeg_params(doc_id: int) -> dict:
    return {
        "width": 16 * (1 + doc_id % 3),
        "height": 16 * (1 + (doc_id // 3) % 3),
        "palette": doc_id % len(COLOR_PALETTE),
    }


def color_tile_luma(doc_id: int, tx: int, ty: int) -> int:
    return (doc_id * 31 + ty * 16 + tx * 5) % (_COLOR_TILE_MAX + 1)


def encode_doc_color_jpeg(doc_id: int) -> bytes:
    """The doc's deterministic 4:2:0 color JPEG: 16x16 palette+offset
    tiles; odd doc_ids carry a DRI restart interval of 1 MCU."""
    import numpy as np

    p = color_jpeg_params(doc_id)
    w, h = p["width"], p["height"]
    pr, pg, pb = COLOR_PALETTE[p["palette"]]
    img = np.zeros((h, w, 3), dtype="uint8")
    for ty in range(h // 16):
        for tx in range(w // 16):
            t = color_tile_luma(doc_id, tx, ty)
            img[ty * 16 : ty * 16 + 16, tx * 16 : tx * 16 + 16] = (
                pr + t, pg + t, pb + t,
            )
    return encode_jpeg(img, restart_interval=doc_id % 2, subsampling="420")
