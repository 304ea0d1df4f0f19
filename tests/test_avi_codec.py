"""MJPEG-in-AVI container (functions/avi.py) pins.

Validation mirrors the JPEG codec's: (a) exact per-frame roundtrip on
the tile corpus (including odd frames carrying DRI/RSTn restarts),
(b) container structure against the public RIFF/AVI layout, (c) parser
honesty on malformed input.
"""

from __future__ import annotations

import struct

import pytest

from sparkroach.functions.avi import (
    encode_avi_mjpeg,
    encode_doc_mjpeg,
    frame_tile_value,
    mjpeg_params,
    parse_avi_mjpeg,
)
from sparkroach.functions.jpeg import decode_jpeg


@pytest.mark.parametrize("doc_id", [0, 1, 2, 3, 7, 17, 123, 4096])
def test_container_roundtrip_is_exact(doc_id):
    v = parse_avi_mjpeg(encode_doc_mjpeg(doc_id))
    p = mjpeg_params(doc_id)
    assert (v["width"], v["height"], v["n_frames"]) == (
        p["width"], p["height"], p["n_frames"],
    )
    assert v["handler"] == "MJPG" and v["fps"] == 10
    assert len(v["frames"]) == p["n_frames"]
    for f, fb in enumerate(v["frames"]):
        d = decode_jpeg(fb)
        want = 3 * 64 * sum(
            frame_tile_value(doc_id, f, tx, ty)
            for tx in range(p["width"] // 8)
            for ty in range(p["height"] // 8)
        )
        assert d["pixel_sum"] == want, (doc_id, f)
        assert (d["width"], d["height"]) == (p["width"], p["height"])


def test_odd_frames_carry_restart_markers():
    """Frame 1 is encoded with restart_interval=1: its JPEG must contain
    a DRI segment and at least one RSTn marker (the parse above already
    proves the decoder resyncs through them)."""
    v = parse_avi_mjpeg(encode_doc_mjpeg(5))
    assert b"\xff\xdd" not in v["frames"][0]
    assert b"\xff\xdd" in v["frames"][1]
    assert any(bytes([0xFF, 0xD0 + m]) in v["frames"][1] for m in range(8))


def test_riff_structure():
    b = encode_doc_mjpeg(9)
    assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
    (riff_len,) = struct.unpack_from("<I", b, 4)
    assert 8 + riff_len == len(b)
    # hdrl list first, then movi, then idx1
    assert b[12:16] == b"LIST" and b[20:24] == b"hdrl"
    assert b.find(b"movi") < b.find(b"idx1")
    # idx1 has one 16-byte entry per frame, offsets relative to 'movi'
    nf = mjpeg_params(9)["n_frames"]
    i = b.find(b"idx1")
    (idx_len,) = struct.unpack_from("<I", b, i + 4)
    assert idx_len == 16 * nf
    movi = b.find(b"movi")
    for k in range(nf):
        ckid, flags, off, ln = struct.unpack_from("<4sIII", b, i + 8 + 16 * k)
        assert ckid == b"00dc" and flags == 0x10
        assert b[movi + off : movi + off + 4] == b"00dc"
        (chunk_len,) = struct.unpack_from("<I", b, movi + off + 4)
        assert chunk_len == ln


def test_parser_honesty():
    with pytest.raises(ValueError, match="RIFF"):
        parse_avi_mjpeg(b"\x00" * 32)
    wav = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    with pytest.raises(ValueError, match="not an AVI"):
        parse_avi_mjpeg(wav)
    good = encode_doc_mjpeg(3)
    with pytest.raises(ValueError, match="truncated"):
        parse_avi_mjpeg(good[:-7])
    with pytest.raises(ValueError, match="at least one frame"):
        encode_avi_mjpeg([], 16, 16)
    # r6 ADVICE hardening: sub-preamble payloads raise ValueError (not
    # struct.error), and fixed-struct chunks lying about their size fail
    # instead of unpack_from reading past the declared body
    for n in range(12):
        with pytest.raises(ValueError, match="RIFF"):
            parse_avi_mjpeg(b"RIFF\x04\x00\x00\x00AVI "[:n])
    short_avih = (
        b"AVI "
        + b"avih" + struct.pack("<I", 8) + b"\x00" * 8
    )
    lying = b"RIFF" + struct.pack("<I", len(short_avih)) + short_avih
    with pytest.raises(ValueError, match="avih chunk declares 8"):
        parse_avi_mjpeg(lying)
    short_strh = b"AVI " + b"strh" + struct.pack("<I", 4) + b"vids"
    lying2 = b"RIFF" + struct.pack("<I", len(short_strh)) + short_strh
    with pytest.raises(ValueError, match="strh chunk declares 4"):
        parse_avi_mjpeg(lying2)


# ---------------------------------------------------------------------------
# COLOR MJPEG (r7): 4:2:0 frames inside the container
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("doc_id", [0, 5, 11])
def test_color_container_roundtrip_is_exact(doc_id):
    from sparkroach.functions.avi import (
        color_frame_tile_luma,
        color_mjpeg_params,
        encode_doc_color_mjpeg,
    )
    from sparkroach.functions.jpeg import (
        COLOR_PALETTE,
        color_constants,
        decode_jpeg,
    )

    p = color_mjpeg_params(doc_id)
    c = color_constants(*COLOR_PALETTE[p["palette"]])
    v = parse_avi_mjpeg(encode_doc_color_mjpeg(doc_id))
    assert (v["n_frames"], v["width"], v["height"], v["handler"]) == (
        p["n_frames"], p["width"], p["height"], "MJPG",
    )
    assert len(v["frames"]) == p["n_frames"]
    for fi, frame in enumerate(v["frames"]):
        d = decode_jpeg(frame)
        assert d["n_components"] == 3
        want_y = sum(
            256 * (c["y0"] + color_frame_tile_luma(doc_id, fi, tx, ty))
            for ty in range(p["height"] // 16)
            for tx in range(p["width"] // 16)
        )
        assert d["plane_sums"][0] == want_y, (doc_id, fi)
        n_ch = (p["width"] // 2) * (p["height"] // 2)
        assert d["plane_sums"][1] == c["cb"] * n_ch
        assert d["plane_sums"][2] == c["cr"] * n_ch
