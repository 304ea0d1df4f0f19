"""From-scratch LZ4 *block format* codec — greedy hash-table compressor
plus a strict decompressor, stdlib-only, written from the public format
description (lz4_Block_format.md).

LZ4 is a FIFTH compression family in the codec matrix, distinct from
DEFLATE (PNG), Huffman (JPEG), LZW (GIF) and QOI's pixel ops: raw LZ77
sequences with byte-aligned tokens and no entropy stage —

  sequence := token | literal-length ext* | literals
            | offset(u16-LE) | match-length ext*

  token     high nibble = literal count (15 → +255-extension bytes),
            low nibble  = match length − 4 (MINMATCH; 15 → extensions)
  offset    1..65535 back into the decoded output; may be SMALLER than
            the match length (overlap copy — byte-by-byte semantics)

End-of-block rules from the spec, all enforced here: the block ends
with a literals-only sequence (match nibble 0, no offset), the last 5
bytes are always literals (matches never extend into them), and the
last match starts at least 12 bytes before the end — blocks shorter
than 13 bytes are therefore incompressible-by-construction and emit a
single literal run.

The decompressor is STRICT: a zero offset, an offset reaching before
the start of output, a truncated token/extension/literal/offset, a
final sequence that still carries a match, and a decoded length that
disagrees with the declared plain length all raise.

Reference parity: none — format-lane breadth per the build brief.
"""

from __future__ import annotations

_MINMATCH = 4
_MFLIMIT = 12  # last match must start ≥ this many bytes before the end
_LASTLITERALS = 5  # matches must not cover the final 5 bytes


def _emit_length(out: bytearray, n: int) -> None:
    """15-extension encoding shared by literal and match lengths."""
    while n >= 255:
        out.append(255)
        n -= 255
    out.append(n)


def lz4_compress(data: bytes) -> bytes:
    """Greedy LZ4 block compression (64-bit-safe pure python): a dict of
    4-byte windows → last position; matches extended forward, emitted as
    spec sequences.  Deterministic for a given input."""
    n = len(data)
    out = bytearray()
    if n == 0:
        out.append(0)  # single empty-literal final sequence
        return bytes(out)
    anchor = 0
    i = 0
    tbl: dict[bytes, int] = {}
    match_start_limit = n - _MFLIMIT  # matches may not START at/after this
    match_end_limit = n - _LASTLITERALS
    while i < match_start_limit and i + _MINMATCH <= match_end_limit:
        key = data[i : i + _MINMATCH]
        cand = tbl.get(key)
        tbl[key] = i
        if cand is None or i - cand > 65535:
            i += 1
            continue
        # extend the match forward, stopping clear of the last 5 bytes
        mlen = _MINMATCH
        while i + mlen < match_end_limit and data[cand + mlen] == data[i + mlen]:
            mlen += 1
        lit = data[anchor:i]
        token_lit = min(len(lit), 15)
        token_match = min(mlen - _MINMATCH, 15)
        out.append((token_lit << 4) | token_match)
        if token_lit == 15:
            _emit_length(out, len(lit) - 15)
        out += lit
        off = i - cand
        out += bytes((off & 0xFF, off >> 8))
        if token_match == 15:
            _emit_length(out, mlen - _MINMATCH - 15)
        i += mlen
        anchor = i
    # final literals-only sequence (covers the ≥5-byte tail by construction)
    lit = data[anchor:]
    token_lit = min(len(lit), 15)
    out.append(token_lit << 4)
    if token_lit == 15:
        _emit_length(out, len(lit) - 15)
    out += lit
    return bytes(out)


def lz4_decompress(blob: bytes, plain_len: int) -> bytes:
    """Strict LZ4 block decompression to exactly ``plain_len`` bytes."""
    out = bytearray()
    pos = 0
    end = len(blob)
    while True:
        if pos >= end:
            raise ValueError("lz4: truncated block (no final sequence)")
        token = blob[pos]
        pos += 1
        llen = token >> 4
        if llen == 15:
            while True:
                if pos >= end:
                    raise ValueError("lz4: truncated literal-length extension")
                b = blob[pos]
                pos += 1
                llen += b
                if b != 255:
                    break
        if pos + llen > end:
            raise ValueError("lz4: literal run overruns the block")
        out += blob[pos : pos + llen]
        pos += llen
        if pos == end:  # last sequence: literals only
            if token & 0x0F:
                raise ValueError("lz4: final sequence carries a match length")
            break
        if pos + 2 > end:
            raise ValueError("lz4: truncated match offset")
        offset = blob[pos] | (blob[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise ValueError("lz4: zero match offset")
        if offset > len(out):
            raise ValueError(
                f"lz4: offset {offset} reaches before the output start"
            )
        mlen = (token & 0x0F) + _MINMATCH
        if token & 0x0F == 15:
            while True:
                if pos >= end:
                    raise ValueError("lz4: truncated match-length extension")
                b = blob[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        # overlap-safe byte-by-byte copy (offset < mlen is the RLE idiom)
        src = len(out) - offset
        for k in range(mlen):
            out.append(out[src + k])
    if len(out) != plain_len:
        raise ValueError(
            f"lz4: decoded {len(out)} bytes, declared {plain_len}"
        )
    return bytes(out)
