"""From-scratch baseline JPEG codec (functions/jpeg.py) pins.

No external JPEG implementation exists in this container, so validation is
(a) exact roundtrip on the tile-constant gate corpus (provably lossless,
see the module docstring's DC-divisibility argument), (b) general-image
roundtrips bounded by quantization error, (c) bitstream structure, and
(d) decoder honesty on unsupported variants.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sparkroach.functions.jpeg import (
    Q_LUMA,
    ZIGZAG,
    decode_jpeg,
    encode_doc_jpeg,
    encode_jpeg,
    jpeg_params,
    tile_value,
)


@pytest.mark.parametrize("doc_id", [0, 1, 2, 5, 17, 123, 4096, 99999])
def test_tile_corpus_roundtrip_is_exact(doc_id):
    d = decode_jpeg(encode_doc_jpeg(doc_id))
    p = jpeg_params(doc_id)
    assert (d["width"], d["height"], d["n_components"]) == (
        p["width"], p["height"], 3,
    )
    for ty in range(p["height"] // 8):
        for tx in range(p["width"] // 8):
            v = tile_value(doc_id, tx, ty)
            block = d["rgb"][ty * 8 : ty * 8 + 8, tx * 8 : tx * 8 + 8, :]
            assert (block == v).all(), (doc_id, tx, ty)


def test_general_image_roundtrip_within_quant_bound():
    """Pure noise is JPEG's worst case; the error must still be bounded by
    the quantization steps (q_AC=16 → block error well under 64/channel)."""
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(img))
    err = np.abs(d["rgb"].astype(int) - img.astype(int))
    assert d["width"] == 32 and d["height"] == 24
    assert err.mean() < 12 and err.max() < 64


def test_smooth_image_roundtrip_is_tight():
    x = np.linspace(0, 255, 32)
    y = np.linspace(0, 255, 24)
    img = np.stack(
        [
            np.add.outer(y, x) / 2,
            np.tile(x, (24, 1)),
            np.tile(y[:, None], (1, 32)),
        ],
        axis=-1,
    ).astype(np.uint8)
    d = decode_jpeg(encode_jpeg(img))
    err = np.abs(d["rgb"].astype(int) - img.astype(int))
    assert err.mean() < 4 and err.max() < 16


def test_bitstream_structure():
    b = encode_doc_jpeg(7)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    assert b[2:4] == b"\xff\xe0" and b[6:11] == b"JFIF\x00"
    # DQT carries the luma table in zigzag order
    i = b.find(b"\xff\xdb")
    zz = b[i + 5 : i + 69]
    assert list(zz) == [Q_LUMA[ZIGZAG[k]] for k in range(64)]
    # entropy data contains no bare 0xFF (stuffing) between SOS and EOI
    sos = b.find(b"\xff\xda")
    scan_start = sos + 2 + struct.unpack_from(">H", b, sos + 2)[0]
    body = b[scan_start : len(b) - 2]
    k = 0
    while k < len(body):
        if body[k] == 0xFF:
            assert body[k + 1] == 0x00, f"bare 0xFF at {k}"
            k += 2
        else:
            k += 1


def test_restart_interval_roundtrip():
    """DRI/RSTn (r5 ADVICE): an interval-2 encode inserts real restart
    markers (byte-aligned, DC predictors reset) and the decoder resyncs —
    the decoded raster must equal the non-restart decode exactly, and on
    a random image the quantization bound must hold unchanged."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    plain = encode_jpeg(img)
    with_rst = encode_jpeg(img, restart_interval=2)
    # DRI segment present with the declared interval
    i = with_rst.find(b"\xff\xdd")
    assert i > 0 and struct.unpack_from(">HH", with_rst, i + 2) == (4, 2)
    # RST markers cycle 0xD0..0xD7: 12 MCUs / interval 2 -> 5 restarts
    assert with_rst.count(b"\xff\xd0") >= 1
    d_plain = decode_jpeg(plain)
    d_rst = decode_jpeg(with_rst)
    assert (d_rst["rgb"] == d_plain["rgb"]).all()
    err = np.abs(d_rst["rgb"].astype(int) - img.astype(int))
    assert err.mean() < 12 and err.max() < 64
    # the exact tile corpus stays exact under restarts
    doc = decode_jpeg(
        encode_jpeg(decode_jpeg(encode_doc_jpeg(5))["rgb"], restart_interval=1)
    )
    assert (doc["rgb"] == decode_jpeg(encode_doc_jpeg(5))["rgb"]).all()


def test_decoder_header_marker_honesty():
    """Fill bytes before a marker parse cleanly; standalone markers in the
    header raise a clean error instead of misparsing a length field."""
    b = encode_doc_jpeg(3)
    # inject a fill 0xFF before the DQT marker — must still decode
    i = b.find(b"\xff\xdb")
    filled = b[:i] + b"\xff" + b[i:]
    assert decode_jpeg(filled)["pixel_sum"] == decode_jpeg(b)["pixel_sum"]
    # inject a standalone RST0 in the header — clean refusal
    broken = b[:i] + b"\xff\xd0" + b[i:]
    with pytest.raises(ValueError, match="standalone marker"):
        decode_jpeg(broken)
    # header cut mid-marker — clean refusal, not IndexError
    with pytest.raises(ValueError, match="truncated marker"):
        decode_jpeg(b[:i] + b"\xff")


def test_decoder_rejects_unsupported_variants():
    b = bytearray(encode_doc_jpeg(3))
    i = bytes(b).find(b"\xff\xc0")
    b[i + 1] = 0xC2  # pretend progressive
    with pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg(bytes(b))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x00")


# ---------------------------------------------------------------------------
# YCbCr 4:2:0 (r7) — chroma subsampling encode + general-sampling decode
# ---------------------------------------------------------------------------


def test_444_bitstream_unchanged_by_subsampling_param():
    """subsampling='444' must be byte-identical to the pre-4:2:0 encoder
    (the default path the gray/MJPEG gates pin)."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    assert encode_jpeg(img) == encode_jpeg(img, subsampling="444")


@pytest.mark.parametrize("doc_id", [0, 1, 5, 8, 17, 23])
def test_color_tile_corpus_roundtrip_is_exact(doc_id):
    from sparkroach.functions.jpeg import (
        COLOR_PALETTE,
        color_constants,
        color_jpeg_params,
        color_tile_luma,
        encode_doc_color_jpeg,
    )

    p = color_jpeg_params(doc_id)
    c = color_constants(*COLOR_PALETTE[p["palette"]])
    d = decode_jpeg(encode_doc_color_jpeg(doc_id))
    assert (d["width"], d["height"], d["n_components"]) == (
        p["width"], p["height"], 3,
    )
    # every 16x16 tile decodes to exactly (Y+dr, Y+dg, Y+db)
    for ty in range(p["height"] // 16):
        for tx in range(p["width"] // 16):
            y = c["y0"] + color_tile_luma(doc_id, tx, ty)
            want = (y + c["dr"], y + c["dg"], y + c["db"])
            tile = d["rgb"][
                ty * 16 : ty * 16 + 16, tx * 16 : tx * 16 + 16, :
            ]
            assert (tile == want).all(), (doc_id, tx, ty, want)
    # the native-res chroma plane sums are the constants exactly
    n_chroma_px = (p["width"] // 2) * (p["height"] // 2)
    assert d["plane_sums"][1] == c["cb"] * n_chroma_px
    assert d["plane_sums"][2] == c["cr"] * n_chroma_px


def test_420_bitstream_declares_subsampling():
    from sparkroach.functions.jpeg import encode_doc_color_jpeg

    b = encode_doc_color_jpeg(4)
    i = b.find(b"\xff\xc0")
    # SOF0 component 1 (Y) declares 2x2, components 2/3 declare 1x1
    # FF C0 len(2) prec(1) h(2) w(2) nc(1) then (cid, samp, qid) triples
    assert b[i + 11] == 0x22 and b[i + 14] == 0x11 and b[i + 17] == 0x11


def test_420_general_image_roundtrip_within_bound():
    """4:2:0 on noise: luma bound unchanged; chroma error additionally
    carries the 2x2 averaging loss — still bounded."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(img, subsampling="420"))
    assert (d["width"], d["height"]) == (48, 32)
    err = np.abs(d["rgb"].astype(int) - img.astype(int))
    # noise chroma is LITERALLY averaged away by the 2x2 box — the
    # worst case by construction; bounded, not tight
    assert err.mean() < 48 and d["rgb"].shape == img.shape
    # smooth image: subsampling loss stays tight
    x = np.linspace(0, 255, 48)
    y = np.linspace(0, 255, 32)
    smooth = np.stack(
        [
            np.add.outer(y, x) / 2,
            np.tile(x, (32, 1)),
            np.tile(y[:, None], (1, 48)),
        ],
        axis=-1,
    ).astype(np.uint8)
    d2 = decode_jpeg(encode_jpeg(smooth, subsampling="420"))
    err2 = np.abs(d2["rgb"].astype(int) - smooth.astype(int))
    assert err2.mean() < 6 and err2.max() < 32


def test_420_restart_resync_is_exact_on_color_corpus():
    from sparkroach.functions.jpeg import encode_doc_color_jpeg

    # doc 5 is odd -> encoded WITH DRI=1 (restart every 6-block MCU);
    # re-encoding its decode without restarts must agree exactly
    d_rst = decode_jpeg(encode_doc_color_jpeg(5))
    plain = encode_jpeg(d_rst["rgb"], subsampling="420")
    assert (decode_jpeg(plain)["rgb"] == d_rst["rgb"]).all()


def test_420_dimension_requirements():
    img = np.zeros((24, 24, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_jpeg(img, subsampling="420")
    with pytest.raises(ValueError, match="unsupported subsampling"):
        encode_jpeg(np.zeros((16, 16, 3), dtype=np.uint8), subsampling="422")


def test_color_palette_margins_validated():
    """color_constants refuses unsafe palettes: near-.5 roundings and
    tile-range clipping both raise; every shipped color validates."""
    from sparkroach.functions.jpeg import COLOR_PALETTE, color_constants

    for c in COLOR_PALETTE:  # every shipped color validates
        color_constants(*c)
    with pytest.raises(ValueError, match="margin"):
        color_constants(60, 60, 63)  # cb lands exactly on a .5 boundary
    with pytest.raises(ValueError, match="clips"):
        color_constants(250, 250, 250)  # y0 + 63 tile offset exceeds 255
