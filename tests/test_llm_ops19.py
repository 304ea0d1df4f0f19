"""Pure-Python codec pins: G.711 µ-law conformance, the GIF/LZW codec
and the ZIP shard codec."""

from __future__ import annotations

import pytest

from sparkroach.functions.g711 import (
    _BIAS,
    _CLIP,
    doc_pcm_samples,
    mulaw_decode,
    mulaw_decode_sample,
    mulaw_encode,
    mulaw_encode_sample,
)


def _closed_roundtrip(s: int) -> int:
    """The oracle's closed integer form, independently in Python."""
    sign = s < 0
    mag = min(abs(s), _CLIP) + _BIAS
    e = 0
    while mag >= (1 << (e + 8)):
        e += 1
    m = (mag >> (e + 3)) & 15
    dec = ((m * 8 + _BIAS) << e) - _BIAS
    return -dec if sign else dec


def test_mulaw_roundtrip_matches_closed_form_exhaustively():
    # every 16-bit sample value, stride 7 (covers all segments + edges)
    for s in list(range(-32768, 32768, 7)) + [-32768, -1, 0, 1, 32767]:
        assert mulaw_decode_sample(mulaw_encode_sample(s)) == _closed_roundtrip(s)


def test_mulaw_known_codepoints():
    # canonical anchors: 0 encodes to 0xFF (all-inverted zero), and the
    # two sign variants of the same magnitude differ only in bit 7
    assert mulaw_encode_sample(0) == 0xFF
    plus, minus = mulaw_encode_sample(1000), mulaw_encode_sample(-1000)
    assert (plus ^ minus) == 0x80
    assert mulaw_decode_sample(plus) == -mulaw_decode_sample(minus)


def test_mulaw_quantization_error_bounded_by_segment_step():
    worst = 0
    for s in range(-32768, 32768, 11):
        err = abs(mulaw_decode_sample(mulaw_encode_sample(s)) - s)
        worst = max(worst, err)
    # the top segment's half-step is 2^(7+3)/2 = 512; clipping adds the
    # 32767-32635 margin → the true worst case for µ-law
    assert worst <= 512 + (32767 - _CLIP)


def test_mulaw_strict_ranges():
    with pytest.raises(ValueError):
        mulaw_encode_sample(40000)
    with pytest.raises(ValueError):
        mulaw_decode_sample(256)


def test_doc_pcm_covers_both_signs_and_all_segments():
    seen_segments = set()
    for doc in range(10):
        for s in doc_pcm_samples(doc):
            mag = min(abs(s), _CLIP) + _BIAS
            e = 0
            while mag >= (1 << (e + 8)):
                e += 1
            seen_segments.add(e)
    assert seen_segments == set(range(8))


# ---------------------------------------------------------------------------
# GIF / LZW pins
# ---------------------------------------------------------------------------


def test_lzw_kwkwk_and_adversarial_roundtrips():
    import random

    from sparkroach.functions.gif import lzw_decode, lzw_encode

    # the canonical KwKwK trigger: a run of one symbol makes the encoder
    # emit a code equal to the decoder's next dictionary slot
    run = [0] * 8
    assert lzw_decode(lzw_encode(run, 3, clear_every=10**9), 3) == run
    rnd = random.Random(7)
    for _ in range(30):
        seq = [rnd.randrange(8) for _ in range(rnd.randrange(1, 400))]
        assert lzw_decode(lzw_encode(seq, 3, clear_every=10**9), 3) == seq
        # and WITH periodic mid-stream CLEAR resets (the gate's setting)
        assert lzw_decode(lzw_encode(seq, 3, clear_every=16), 3) == seq


def test_gif_roundtrip_matches_pixel_arithmetic():
    from sparkroach.functions.gif import (
        GIF_COLORS,
        decode_gif,
        doc_gif_dims,
        encode_doc_gif,
        gif_palette,
    )

    pal = gif_palette()
    for doc in range(20):
        d = decode_gif(encode_doc_gif(doc))
        w, h = doc_gif_dims(doc)
        idx = [
            (doc * 31 + y * 16 + x * 5) % GIF_COLORS
            for y in range(h)
            for x in range(w)
        ]
        assert (d["width"], d["height"], d["n_colors"]) == (w, h, GIF_COLORS)
        assert d["index_sum"] == sum(idx)
        assert d["rgb_sum"] == sum(sum(pal[i]) for i in idx)


def test_gif_strict_failures():
    from sparkroach.functions.gif import decode_gif, encode_doc_gif

    data = encode_doc_gif(3)
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"GIF89a" + data[6:])  # 89a deliberately unsupported
    with pytest.raises(ValueError, match="trailer"):
        decode_gif(data[:-1])
    with pytest.raises(ValueError):
        decode_gif(data[: len(data) // 2])


# ---------------------------------------------------------------------------
# NSW beam search pins
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# ZIP shard codec pins
# ---------------------------------------------------------------------------


def test_zip_shard_roundtrip_and_determinism():
    from sparkroach.functions.zipshard import build_zip_shard, parse_zip_shard

    samples = [(7, "en", "s0", "hello world"), (12, "de", "s1", "x" * 500)]
    a, b = build_zip_shard(samples), build_zip_shard(samples)
    assert a == b  # fixed member timestamps → byte-deterministic shards
    out = parse_zip_shard(a)
    assert [(s["doc_id"], s["lang"], s["source"], s["text"]) for s in out] == [
        (7, "en", "s0", "hello world"),
        (12, "de", "s1", "x" * 500),
    ]
    assert all(s["n_members"] == 2 for s in out)


def test_zip_shard_strict_failures():
    import io
    import zipfile

    from sparkroach.functions.zipshard import build_zip_shard, parse_zip_shard

    blob = build_zip_shard([(3, "en", "s0", "payload text")])
    with pytest.raises(ValueError, match="not a zip"):
        parse_zip_shard(b"PK\x00\x00garbage")
    # flip a payload byte INSIDE the deflated .txt member: the stored
    # CRC-32 no longer matches and the strict read must raise
    idx = blob.index(b"payload") if b"payload" in blob else 40
    bad = bytearray(blob)
    bad[idx] ^= 0xFF
    with pytest.raises(ValueError):
        parse_zip_shard(bytes(bad))
    # half-present sample
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("5.txt", b"only text, no json")
    with pytest.raises(ValueError, match="missing members"):
        parse_zip_shard(buf.getvalue())
    # unknown extension
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("5.bin", b"nope")
    with pytest.raises(ValueError, match="unknown member extension"):
        parse_zip_shard(buf.getvalue())
