"""From-scratch GIF87a codec — encoder + strict decoder, stdlib-only.

GIF's payload is variable-width LZW (3..12-bit codes, CLEAR/EOI
control codes, dictionary growth with the KwKwK corner case), a
genuinely different compression family from the DEFLATE (PNG) and
Huffman (JPEG) codecs already in the matrix.  Scope:

- GIF87a header + logical screen descriptor + global colour table;
- one image block (no interlace, no local colour table), LZW-packed
  index stream split into ≤255-byte sub-blocks;
- the encoder emits a periodic CLEAR code (every 64 emitted codes) so
  every gate image exercises mid-stream dictionary reset, and starts
  with the spec-mandated initial CLEAR;
- the decoder is independent of the encoder: bit-level unpacking,
  width growth at dictionary size 2^width (cap 12), CLEAR reset, EOI,
  and the KwKwK case (code == next dictionary slot);
- strict failure: bad signature, truncated blocks, out-of-range codes,
  missing trailer all raise ``ValueError``.

GIF is LOSSLESS over palette indices, so the gate's SQL oracle mirrors
the synthetic index arithmetic directly.

Reference parity: none — multimodal decode plumbing per the build
brief.
"""

from __future__ import annotations

import struct


# ---------------------------------------------------------------------------
# LZW (GIF variant)
# ---------------------------------------------------------------------------


class _BitPacker:
    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def put(self, code: int, width: int) -> None:
        self.cur |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.cur & 0xFF)
            self.cur >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur & 0xFF)
        return bytes(self.out)


def lzw_encode(indices: list[int], min_code_size: int, clear_every: int = 64) -> bytes:
    """GIF LZW: LSB-first variable-width codes; emits CLEAR initially and
    every ``clear_every`` output codes (forces dictionary resets)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pk = _BitPacker()

    def reset():
        return (
            {(i,): i for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = reset()
    pk.put(clear, width)
    emitted = 1
    prefix: tuple[int, ...] = ()
    for sym in indices:
        if not 0 <= sym < clear:
            raise ValueError(f"gif: index {sym} out of palette range")
        cand = prefix + (sym,)
        if cand in table:
            prefix = cand
            continue
        pk.put(table[prefix], width)
        emitted += 1
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        prefix = (sym,)
        if emitted % clear_every == 0 or next_code >= 4095:
            pk.put(table[prefix], width)
            emitted += 1
            pk.put(clear, width)
            emitted += 1
            table, next_code, width = reset()
            prefix = ()
    if prefix:
        pk.put(table[prefix], width)
    pk.put(eoi, width)
    return pk.flush()


def lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """Independent GIF LZW decoder: width growth, CLEAR, EOI, KwKwK."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    cur = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("gif: LZW stream ended before EOI")
            cur |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = cur & ((1 << width) - 1)
        cur >>= width
        nbits -= width
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table) or code >= clear:
                raise ValueError(f"gif: invalid first code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            raise ValueError(f"gif: LZW code {code} beyond dictionary")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------

_SIG = b"GIF87a"


def encode_gif(
    indices: list[int], width: int, height: int, palette: list[tuple[int, int, int]]
) -> bytes:
    n = len(palette)
    if n & (n - 1) or not 2 <= n <= 256:
        raise ValueError("gif: palette size must be a power of two in 2..256")
    if len(indices) != width * height:
        raise ValueError("gif: index count != width*height")
    depth = max(2, n.bit_length() - 1)  # GIF min code size is >= 2
    out = bytearray(_SIG)
    packed = 0x80 | ((depth - 1) << 4) | (depth - 1)  # GCT present, size
    out += struct.pack("<HHBBB", width, height, packed, 0, 0)
    for r, g, b in palette:
        out += bytes((r, g, b))
    out += bytes((1 << depth) * 3 - n * 3)  # pad table to 2^depth entries
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    out.append(depth)
    z = lzw_encode(indices, depth)
    for i in range(0, len(z), 255):
        blk = z[i : i + 255]
        out.append(len(blk))
        out += blk
    out += b"\x00\x3b"
    return bytes(out)


def decode_gif(data: bytes) -> dict:
    if len(data) < 13 or data[:6] != _SIG:
        raise ValueError("gif: bad signature (only GIF87a supported)")
    width, height, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    palette: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("gif: truncated colour table")
        palette = [
            (data[pos + 3 * i], data[pos + 3 * i + 1], data[pos + 3 * i + 2])
            for i in range(n)
        ]
        pos += 3 * n
    if pos >= len(data) or data[pos] != 0x2C:
        raise ValueError("gif: expected image descriptor")
    if pos + 10 > len(data):
        raise ValueError("gif: truncated image descriptor")
    left, top, iw, ih, ipacked = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
    if ipacked & 0x40:
        raise ValueError("gif: interlaced images not supported")
    if ipacked & 0x80:
        raise ValueError("gif: local colour tables not supported")
    pos += 10
    if pos >= len(data):
        raise ValueError("gif: truncated before LZW min code size")
    min_code_size = data[pos]
    pos += 1
    z = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("gif: truncated sub-block chain")
        blen = data[pos]
        pos += 1
        if blen == 0:
            break
        if pos + blen > len(data):
            raise ValueError("gif: truncated sub-block")
        z += data[pos : pos + blen]
        pos += blen
    if pos >= len(data) or data[pos] != 0x3B:
        raise ValueError("gif: missing trailer")
    indices = lzw_decode(bytes(z), min_code_size)
    if len(indices) != iw * ih:
        raise ValueError(
            f"gif: decoded {len(indices)} indices != {iw}x{ih}"
        )
    rgb_sum = sum(sum(palette[i]) for i in indices) if palette else 0
    return {
        "width": iw,
        "height": ih,
        "n_colors": len(palette),
        "index_sum": sum(indices),
        "rgb_sum": rgb_sum,
    }


# ---------------------------------------------------------------------------
# gate corpus — deterministic palette images (lossless ⇒ arithmetic oracle)
# ---------------------------------------------------------------------------

GIF_COLORS = 8  # palette entries (power of two; min code size 3)


def gif_palette() -> list[tuple[int, int, int]]:
    return [
        (i * 36 % 256, (i * 36 + 85) % 256, (i * 36 + 170) % 256)
        for i in range(GIF_COLORS)
    ]


def doc_gif_dims(doc_id: int) -> tuple[int, int]:
    return 8 + (doc_id % 5) * 3, 6 + ((doc_id // 5) % 4) * 5


def encode_doc_gif(doc_id: int) -> bytes:
    w, h = doc_gif_dims(doc_id)
    idx = [
        (doc_id * 31 + y * 16 + x * 5) % GIF_COLORS
        for y in range(h)
        for x in range(w)
    ]
    return encode_gif(idx, w, h, gif_palette())
