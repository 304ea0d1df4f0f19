"""From-scratch block-sorting codec — Burrows–Wheeler transform +
move-to-front + zero-run RLE, stdlib-only (the bzip2 family's core
pipeline, written from the published BWT construction).

A SIXTH compression family in the codec matrix, next to DEFLATE (PNG),
Huffman (JPEG), LZW (GIF), QOI's pixel ops and LZ4's raw LZ77: no
dictionary and no entropy table — a reversible PERMUTATION (sort all
cyclic rotations, keep the last column + the primary index) that
gathers same-context bytes, a move-to-front pass that turns locality
into small symbols, and a run-length pass over the resulting zero runs.

Container: ``SBWT`` magic | u32-BE plain length | u32-BE primary index
| u32-BE CRC-32 of the plain bytes | RLE payload.  The RLE stream is
self-delimiting: 0x00 marks a zero run followed by a varint(run−1)
(7-bit little-endian groups, high bit = continue); any other byte is a
literal MTF symbol.  A zero MTF symbol only ever appears inside a run
marker, so no escape is needed.

The decoder is STRICT: bad magic, truncated header/varint/payload,
primary index out of range, surplus payload, a decoded length that
disagrees with the header, and a CRC mismatch all raise.

Rotation sorting is Manber–Myers rank doubling over the CYCLIC string
(O(n log n) sorts of integer pairs) — naive rotation comparison is
O(n²) precisely on the repetitive inputs block-sorting is for.

Reference parity: none — format-lane breadth per the build brief.
"""

from __future__ import annotations

import struct
import zlib

_MAGIC = b"SBWT"


def _rotation_order(data: bytes) -> list[int]:
    """Indices of cyclic rotations in sorted order (ties — identical
    rotations — in any consistent order; the L column is unaffected)."""
    n = len(data)
    rank = list(data)
    order = list(range(n))
    k = 1
    while True:
        key = lambda i: (rank[i], rank[(i + k) % n])  # noqa: E731
        order.sort(key=key)
        new_rank = [0] * n
        prev = order[0]
        for pos in range(1, n):
            cur = order[pos]
            new_rank[cur] = new_rank[prev] + (
                1 if key(cur) != key(prev) else 0
            )
            prev = cur
        rank = new_rank
        if rank[order[-1]] == n - 1:  # all rotations distinguished
            break
        k *= 2
        if k >= n:
            # only identical rotations remain tied; order is final
            break
    return order


def bwt_forward(data: bytes) -> tuple[int, bytes]:
    """(primary_index, last_column) of the sorted cyclic-rotation
    matrix; primary_index is the row holding the original string."""
    n = len(data)
    if n == 0:
        return 0, b""
    order = _rotation_order(data)
    last = bytes(data[(i - 1) % n] for i in order)
    return order.index(0), last


def bwt_inverse(primary: int, last: bytes) -> bytes:
    """Invert via the standard LF mapping (counting sort of the last
    column gives the first column; repeatedly follow links)."""
    n = len(last)
    if n == 0:
        return b""
    if not 0 <= primary < n:
        raise ValueError(f"bwt: primary index {primary} out of range")
    counts = [0] * 256
    for b in last:
        counts[b] += 1
    starts = [0] * 256
    acc = 0
    for s in range(256):
        starts[s] = acc
        acc += counts[s]
    seen = [0] * 256
    lf = [0] * n
    for i, b in enumerate(last):
        lf[i] = starts[b] + seen[b]
        seen[b] += 1
    out = bytearray(n)
    row = primary
    for pos in range(n - 1, -1, -1):
        out[pos] = last[row]
        row = lf[row]
    return bytes(out)


def mtf_encode(data: bytes) -> bytes:
    table = list(range(256))
    out = bytearray()
    for b in data:
        i = table.index(b)
        out.append(i)
        if i:
            del table[i]
            table.insert(0, b)
    return bytes(out)


def mtf_decode(data: bytes) -> bytes:
    table = list(range(256))
    out = bytearray()
    for i in data:
        b = table[i]
        out.append(b)
        if i:
            del table[i]
            table.insert(0, b)
    return bytes(out)


def _rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0:
            j = i
            while j < n and data[j] == 0:
                j += 1
            run = j - i - 1  # varint stores run-1 (run >= 1)
            out.append(0)
            while True:
                grp = run & 0x7F
                run >>= 7
                out.append(grp | (0x80 if run else 0))
                if not run:
                    break
            i = j
        else:
            out.append(b)
            i += 1
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        i += 1
        if b == 0:
            run = 0
            shift = 0
            while True:
                if i >= n:
                    raise ValueError("sbwt: truncated run varint")
                grp = data[i]
                i += 1
                run |= (grp & 0x7F) << shift
                shift += 7
                if not grp & 0x80:
                    break
            out += b"\x00" * (run + 1)
        else:
            out.append(b)
    return bytes(out)


def sbwt_compress(data: bytes) -> bytes:
    primary, last = bwt_forward(data)
    payload = _rle_encode(mtf_encode(last))
    return (
        _MAGIC
        + struct.pack(">III", len(data), primary, zlib.crc32(data) & 0xFFFFFFFF)
        + payload
    )


def sbwt_decompress(blob: bytes) -> bytes:
    if len(blob) < 16:
        raise ValueError("sbwt: truncated header")
    if blob[:4] != _MAGIC:
        raise ValueError(f"sbwt: bad magic {blob[:4]!r}")
    plain_len, primary, crc = struct.unpack(">III", blob[4:16])
    last = mtf_decode(_rle_decode(blob[16:]))
    if len(last) != plain_len:
        raise ValueError(
            f"sbwt: payload decodes to {len(last)} bytes, header says "
            f"{plain_len}"
        )
    if plain_len == 0:
        if primary != 0:
            raise ValueError("sbwt: nonzero primary index for empty block")
        return b""
    data = bwt_inverse(primary, last)
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError("sbwt: CRC mismatch after inverse transform")
    return data
