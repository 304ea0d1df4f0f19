"""From-scratch QOI ("Quite OK Image") codec — encoder + decoder for
3-channel RGB, stdlib-only, written from the public one-page spec
(qoiformat.org/qoi-specification.pdf).

QOI is a FOURTH compression family in the codec matrix, distinct from
DEFLATE (PNG), Huffman (JPEG) and dictionary LZW (GIF): a byte stream of
five chunk kinds over a running state —

  QOI_OP_RUN    11xxxxxx           run of 1..62 repeats of the previous
                                   pixel (bias -1; 63/64 collide with the
                                   8-bit tags and are illegal)
  QOI_OP_INDEX  00xxxxxx           reference into a 64-slot cache of
                                   previously seen pixels, slot
                                   (3r+5g+7b+11a) % 64
  QOI_OP_DIFF   01drdgdb           per-channel delta -2..1 vs the
                                   previous pixel (bias 2, wraparound)
  QOI_OP_LUMA   10gggggg grrrrbbbb green delta -32..31 (bias 32) plus
                                   red/blue deltas RELATIVE TO the green
                                   delta, -8..7 (bias 8), wraparound
  QOI_OP_RGB    11111110 r g b     literal pixel

with a 14-byte header (magic "qoif", u32-BE dims, channels, colorspace)
and the 8-byte end marker 00×7 01.  The previous pixel starts at
(0,0,0,255) and the cache starts zeroed; every seen pixel is inserted
into its cache slot (idempotent for run/index repeats, so encoder and
decoder state can never diverge).

The decoder is STRICT: bad magic, channels != 3, truncated chunks, a run
overshooting the pixel count, a missing/misplaced end marker, and
trailing bytes after it all raise.

Reference parity: none — multimodal codec breadth per the build brief.
"""

from __future__ import annotations

import struct

_MAGIC = b"qoif"
_END = b"\x00\x00\x00\x00\x00\x00\x00\x01"


def _hash(r: int, g: int, b: int) -> int:
    # alpha is constant 255 for the RGB lane: 11·255 contributes (mod 64)
    return (r * 3 + g * 5 + b * 7 + 255 * 11) % 64


def qoi_encode(width: int, height: int, pixels: list[tuple[int, int, int]]) -> bytes:
    """RGB pixels (row-major) → QOI bytes."""
    if width <= 0 or height <= 0:
        raise ValueError("qoi: non-positive dimensions")
    if len(pixels) != width * height:
        raise ValueError(
            f"qoi: {len(pixels)} pixels for {width}x{height} image"
        )
    out = bytearray()
    out += _MAGIC
    out += struct.pack(">II", width, height)
    out += bytes((3, 0))  # channels=3, colorspace=0 (sRGB)
    cache = [(0, 0, 0)] * 64
    prev = (0, 0, 0)
    run = 0
    for px in pixels:
        if any(not 0 <= c <= 255 for c in px):
            raise ValueError(f"qoi: channel out of range in {px}")
        if px == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            cache[_hash(*px)] = px  # idempotent (px == prev, already set)
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        slot = _hash(*px)
        if cache[slot] == px:
            out.append(slot)  # QOI_OP_INDEX (tag 00)
        else:
            cache[slot] = px
            # signed wraparound deltas vs the previous pixel
            dr = ((px[0] - prev[0] + 128) % 256) - 128
            dg = ((px[1] - prev[1] + 128) % 256) - 128
            db = ((px[2] - prev[2] + 128) % 256) - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            else:
                dr_dg = ((dr - dg + 128) % 256) - 128
                db_dg = ((db - dg + 128) % 256) - 128
                if -32 <= dg <= 31 and -8 <= dr_dg <= 7 and -8 <= db_dg <= 7:
                    out.append(0x80 | (dg + 32))
                    out.append(((dr_dg + 8) << 4) | (db_dg + 8))
                else:
                    out += bytes((0xFE, px[0], px[1], px[2]))
        prev = px
    if run:
        out.append(0xC0 | (run - 1))
    out += _END
    return bytes(out)


def qoi_decode(blob: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """QOI bytes → (width, height, RGB pixels).  Strict: every framing
    violation raises ValueError."""
    if len(blob) < 14 + len(_END):
        raise ValueError("qoi: truncated header")
    if blob[:4] != _MAGIC:
        raise ValueError(f"qoi: bad magic {blob[:4]!r}")
    width, height = struct.unpack(">II", blob[4:12])
    channels, colorspace = blob[12], blob[13]
    if channels != 3:
        raise ValueError(f"qoi: unsupported channels={channels} (RGB lane)")
    if colorspace not in (0, 1):
        raise ValueError(f"qoi: bad colorspace {colorspace}")
    if width <= 0 or height <= 0:
        raise ValueError("qoi: non-positive dimensions")
    n_px = width * height
    pixels: list[tuple[int, int, int]] = []
    cache = [(0, 0, 0)] * 64
    prev = (0, 0, 0)
    pos = 14
    end = len(blob) - len(_END)
    if blob[end:] != _END:
        raise ValueError("qoi: missing end marker")
    while len(pixels) < n_px:
        if pos >= end:
            raise ValueError(
                f"qoi: stream exhausted at {len(pixels)}/{n_px} pixels"
            )
        b0 = blob[pos]
        pos += 1
        if b0 == 0xFE:  # QOI_OP_RGB
            if pos + 3 > end:
                raise ValueError("qoi: truncated RGB chunk")
            px = (blob[pos], blob[pos + 1], blob[pos + 2])
            pos += 3
        elif b0 == 0xFF:
            raise ValueError("qoi: RGBA chunk in an RGB stream")
        elif b0 >> 6 == 0b00:  # QOI_OP_INDEX
            px = cache[b0 & 0x3F]
        elif b0 >> 6 == 0b01:  # QOI_OP_DIFF
            px = (
                (prev[0] + ((b0 >> 4) & 3) - 2) % 256,
                (prev[1] + ((b0 >> 2) & 3) - 2) % 256,
                (prev[2] + (b0 & 3) - 2) % 256,
            )
        elif b0 >> 6 == 0b10:  # QOI_OP_LUMA
            if pos >= end:
                raise ValueError("qoi: truncated LUMA chunk")
            dg = (b0 & 0x3F) - 32
            b1 = blob[pos]
            pos += 1
            px = (
                (prev[0] + dg + ((b1 >> 4) & 0x0F) - 8) % 256,
                (prev[1] + dg) % 256,
                (prev[2] + dg + (b1 & 0x0F) - 8) % 256,
            )
        else:  # 11xxxxxx, not FE/FF: QOI_OP_RUN
            run = (b0 & 0x3F) + 1
            if len(pixels) + run > n_px:
                raise ValueError(
                    f"qoi: run of {run} overshoots {n_px} pixels"
                )
            pixels.extend([prev] * run)
            cache[_hash(*prev)] = prev
            continue
        cache[_hash(*px)] = px
        pixels.append(px)
        prev = px
    if pos != end:
        raise ValueError(f"qoi: {end - pos} trailing bytes before end marker")
    return width, height, pixels


def qoi_op_histogram(blob: bytes) -> dict[str, int]:
    """Chunk-kind counts of an encoded stream (test/diagnostic aid) —
    walks the same framing as the decoder without materializing pixels."""
    width, height = struct.unpack(">II", blob[4:12])
    n_px = width * height
    hist = {"RGB": 0, "INDEX": 0, "DIFF": 0, "LUMA": 0, "RUN": 0}
    pos, seen = 14, 0
    end = len(blob) - len(_END)
    while seen < n_px:
        b0 = blob[pos]
        pos += 1
        if b0 == 0xFE:
            hist["RGB"] += 1
            pos += 3
            seen += 1
        elif b0 >> 6 == 0b00:
            hist["INDEX"] += 1
            seen += 1
        elif b0 >> 6 == 0b01:
            hist["DIFF"] += 1
            seen += 1
        elif b0 >> 6 == 0b10:
            hist["LUMA"] += 1
            pos += 1
            seen += 1
        else:
            hist["RUN"] += 1
            seen += (b0 & 0x3F) + 1
    return hist


# ---------------------------------------------------------------------------
# gate corpus: deterministic doc_id-arithmetic pixels (closed form the
# SQL oracle mirrors) — 8-pixel groups cycling through four patterns so
# every image exercises RUN (constant group), DIFF (+1 steps), LUMA
# (+12/+9/+4 steps) and RGB + INDEX (odd positions jump, even positions
# revisit the group base that is by then sitting in the 64-slot cache)
# ---------------------------------------------------------------------------


def doc_image_dims(doc_id: int) -> tuple[int, int]:
    return 8 + (doc_id % 5) * 4, 6 + ((doc_id // 5) % 4) * 3


def doc_pixel(doc_id: int, p: int) -> tuple[int, int, int]:
    q, m = divmod(p, 8)
    t = q % 4
    a = (doc_id * 7 + q * 13) % 256
    b = (doc_id * 11 + q * 29) % 256
    c = (doc_id * 3 + q * 53) % 256
    if t == 0:
        return a, b, c
    if t == 1:
        return (a + m) % 256, (b + m) % 256, (c + m) % 256
    if t == 2:
        return (a + 12 * m) % 256, (b + 9 * m) % 256, (c + 4 * m) % 256
    if m % 2 == 0:  # revisit the group base → QOI_OP_INDEX after m=0
        return a, b, c
    return (a + 97 * m) % 256, (b + 57 * m) % 256, (c + 201 * m) % 256


def doc_pixels(doc_id: int) -> tuple[int, int, list[tuple[int, int, int]]]:
    w, h = doc_image_dims(doc_id)
    return w, h, [doc_pixel(doc_id, p) for p in range(w * h)]
