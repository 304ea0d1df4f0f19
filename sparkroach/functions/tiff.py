"""From-scratch baseline TIFF 6.0 codec — little-endian container with
a real IFD walk, strip-per-row layout, and PackBits (RLE) compression,
stdlib-only, written from the public TIFF 6.0 specification.

PackBits is a SEVENTH compression family in the codec matrix: pure
run-length tokens (control byte n: 0..127 → copy n+1 literals;
129..255 i.e. −1..−127 → repeat the next byte 1−n times; 128 → noop),
with no dictionary, window, or entropy stage — the floor of the
compression hierarchy, and still what TIFF/fax pipelines ship.

The container is REAL: byte-order mark "II", magic 42, an IFD of
(tag, type, count, value/offset) entries with out-of-line value
arrays for the per-row strip offset/count tables — the indirection
that makes TIFF parsing an actual exercise.  The decoder walks the
IFD strictly: wrong byte order/magic, missing or unsupported tags
(only grayscale 8-bit PackBits strip-per-row is accepted), strip
tables of the wrong length, a PackBits stream that over- or
under-fills its row, and truncated reads all raise.

Reference parity: none — multimodal codec breadth per the build brief.
"""

from __future__ import annotations

import struct

_TAG_WIDTH = 256
_TAG_LENGTH = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SAMPLES = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279

_TYPE_SHORT = 3
_TYPE_LONG = 4

_PACKBITS = 32773


def packbits_encode(row: bytes) -> bytes:
    """Greedy PackBits: runs of ≥2 become repeat tokens, the rest
    literal tokens of ≤128 bytes."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        j = i
        while j + 1 < n and row[j + 1] == row[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 2:
            out.append(257 - run)  # two's complement of 1-run
            out.append(row[i])
            i = j + 1
        else:
            # literal stretch: until the next ≥2 run or 128 bytes
            k = i
            while (
                k < n
                and k - i < 128
                and not (k + 1 < n and row[k + 1] == row[k])
            ):
                k += 1
            lit = row[i:k]
            out.append(len(lit) - 1)
            out += lit
            i = k
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        c = data[i]
        i += 1
        if c == 128:
            continue  # noop
        if c < 128:
            if i + c + 1 > n:
                raise ValueError("packbits: truncated literal run")
            out += data[i : i + c + 1]
            i += c + 1
        else:
            if i >= n:
                raise ValueError("packbits: truncated repeat token")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        if len(out) > expected:
            raise ValueError(
                f"packbits: row overflows {expected} bytes"
            )
    if len(out) != expected:
        raise ValueError(
            f"packbits: row decodes to {len(out)} of {expected} bytes"
        )
    return bytes(out)


def tiff_encode(width: int, height: int, gray: bytes) -> bytes:
    """8-bit grayscale rows (row-major) → baseline TIFF with PackBits
    strips, one strip per row."""
    if len(gray) != width * height:
        raise ValueError(
            f"tiff: {len(gray)} pixels for {width}x{height} image"
        )
    strips = [
        packbits_encode(gray[y * width : (y + 1) * width])
        for y in range(height)
    ]
    # layout: header(8) | strip data | strip tables | IFD
    pos = 8
    offsets = []
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    off_table_pos = pos
    pos += 4 * height
    cnt_table_pos = pos
    pos += 4 * height
    ifd_pos = pos
    out = bytearray()
    out += b"II" + struct.pack("<HI", 42, ifd_pos)
    for s in strips:
        out += s
    for o in offsets:
        out += struct.pack("<I", o)
    for s in strips:
        out += struct.pack("<I", len(s))

    def entry(tag, typ, count, value):
        return struct.pack("<HHII", tag, typ, count, value)

    entries = [
        entry(_TAG_WIDTH, _TYPE_LONG, 1, width),
        entry(_TAG_LENGTH, _TYPE_LONG, 1, height),
        entry(_TAG_BITS, _TYPE_SHORT, 1, 8),
        entry(_TAG_COMPRESSION, _TYPE_SHORT, 1, _PACKBITS),
        entry(_TAG_PHOTOMETRIC, _TYPE_SHORT, 1, 1),  # BlackIsZero
        entry(
            _TAG_STRIP_OFFSETS,
            _TYPE_LONG,
            height,
            off_table_pos if height > 1 else offsets[0],
        ),
        entry(_TAG_SAMPLES, _TYPE_SHORT, 1, 1),
        entry(_TAG_ROWS_PER_STRIP, _TYPE_LONG, 1, 1),
        entry(
            _TAG_STRIP_COUNTS,
            _TYPE_LONG,
            height,
            cnt_table_pos if height > 1 else len(strips[0]),
        ),
    ]
    out += struct.pack("<H", len(entries))
    for e in sorted(entries):  # spec: entries sorted by tag
        out += e
    out += struct.pack("<I", 0)  # next-IFD pointer: none
    return bytes(out)


def tiff_decode(blob: bytes) -> tuple[int, int, bytes]:
    """Strict baseline-TIFF decode → (width, height, grayscale bytes)."""
    if len(blob) < 8:
        raise ValueError("tiff: truncated header")
    if blob[:2] != b"II":
        raise ValueError(f"tiff: unsupported byte order {blob[:2]!r}")
    magic, ifd_pos = struct.unpack("<HI", blob[2:8])
    if magic != 42:
        raise ValueError(f"tiff: bad magic {magic}")
    if ifd_pos + 2 > len(blob):
        raise ValueError("tiff: IFD offset out of range")
    (n_entries,) = struct.unpack("<H", blob[ifd_pos : ifd_pos + 2])
    tags = {}
    for i in range(n_entries):
        base = ifd_pos + 2 + 12 * i
        if base + 12 > len(blob):
            raise ValueError("tiff: truncated IFD entry")
        tag, typ, count, value = struct.unpack("<HHII", blob[base : base + 12])
        tags[tag] = (typ, count, value)
    next_pos = ifd_pos + 2 + 12 * n_entries
    if next_pos + 4 > len(blob):
        raise ValueError("tiff: truncated next-IFD pointer")
    (next_ifd,) = struct.unpack("<I", blob[next_pos : next_pos + 4])
    if next_ifd != 0:
        raise ValueError("tiff: multi-IFD files unsupported")

    def scalar(tag):
        if tag not in tags:
            raise ValueError(f"tiff: missing required tag {tag}")
        _typ, count, value = tags[tag]
        if count != 1:
            raise ValueError(f"tiff: tag {tag} expected scalar")
        return value

    def long_array(tag, n):
        typ, count, value = tags[tag]
        if typ != _TYPE_LONG or count != n:
            raise ValueError(f"tiff: tag {tag} expected LONG[{n}]")
        if n == 1:
            return [value]
        if value + 4 * n > len(blob):
            raise ValueError(f"tiff: tag {tag} table out of range")
        return list(struct.unpack(f"<{n}I", blob[value : value + 4 * n]))

    width = scalar(_TAG_WIDTH)
    height = scalar(_TAG_LENGTH)
    if scalar(_TAG_BITS) != 8 or scalar(_TAG_SAMPLES) != 1:
        raise ValueError("tiff: only 8-bit grayscale supported")
    if scalar(_TAG_COMPRESSION) != _PACKBITS:
        raise ValueError("tiff: only PackBits compression supported")
    if scalar(_TAG_ROWS_PER_STRIP) != 1:
        raise ValueError("tiff: only strip-per-row layout supported")
    offsets = long_array(_TAG_STRIP_OFFSETS, height)
    counts = long_array(_TAG_STRIP_COUNTS, height)
    gray = bytearray()
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(blob):
            raise ValueError("tiff: strip out of range")
        gray += packbits_decode(blob[off : off + cnt], width)
    return width, height, bytes(gray)


# ---------------------------------------------------------------------------
# gate corpus: deterministic doc_id-arithmetic grayscale (closed form)
# 8-pixel groups alternating constant (RLE runs) and ramp (literals)
# ---------------------------------------------------------------------------


def doc_tiff_dims(doc_id: int) -> tuple[int, int]:
    return 16 + (doc_id % 4) * 8, 12 + ((doc_id // 4) % 3) * 6


def doc_gray(doc_id: int, p: int) -> int:
    q, m = divmod(p, 8)
    base = (doc_id * 13 + q * 41) % 256
    if q % 4 == 1:
        return (base + m * 23) % 256  # ramp group → literal tokens
    return base  # constant groups → PackBits repeat tokens


def doc_tiff_pixels(doc_id: int) -> tuple[int, int, bytes]:
    w, h = doc_tiff_dims(doc_id)
    return w, h, bytes(doc_gray(doc_id, p) for p in range(w * h))
