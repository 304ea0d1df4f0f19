"""From-scratch MP4 / ISO Base Media File Format container codec.

Implements the public ISO/IEC 14496-12 box structure with stdlib
``struct`` only — the same honest pattern as the RIFF/AVI lane
(functions/avi.py): container parsing is real, and decode is real
exactly where an intra-frame codec makes it possible.

Two capabilities, carefully separated:

* **Metadata probe WITHOUT decode** (any codec).  A 100 TB video corpus
  is curated long before anything is decoded: filter by duration,
  resolution, sample count, bitrate — all of it lives in ``moov``'s
  sample tables, none of it needs the codec.  ``parse_mp4`` walks the
  box tree (size/largesize framing, strict bounds), reads
  ``mvhd``/``mdhd``/``stsd``/``stts``/``stsc``/``stsz``/``stco``, and
  reconstructs exact per-sample byte ranges from the chunk tables — so
  sample payloads can be sliced and accounted for even when the codec
  (e.g. H.264) cannot be decoded here.
* **Full decode for JPEG sample entries**.  Motion-JPEG inside MP4
  (QuickTime-lineage ``jpeg`` sample entry) is the ISO-BMFF analog of
  MJPEG-in-AVI: every sample is an independent baseline JFIF, so the
  from-scratch JPEG codec (functions/jpeg.py) decodes each sampled
  frame with no inter-frame prediction.  H.264/H.265 sample entries
  still refuse decode loudly — a container parse without a
  motion-compensated codec decodes nothing, and that boundary is the
  r6 verdict's adjudicated line.

Writer emits the minimal valid single-video-track file (box order
``ftyp mdat moov``; ``moov`` last so ``stco`` offsets are known without
rewrites — the standard non-faststart layout): mvhd, trak(tkhd,
mdia(mdhd, hdlr, minf(vmhd, dinf/dref/url, stbl(stsd + stts + stsc +
stsz + stco)))).  All samples land in one chunk per file here; the
PARSER implements the general stsc run-length chunk map (tested with
multi-entry tables), because reading foreign files is the hard
direction.

Determinism: zero timestamps, fixed handler name, integer rational
frame durations — byte-identical files per (samples, dims, fps).
"""

from __future__ import annotations

import struct

_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">I", (version << 24) | flags) + payload)


def encode_mp4_video(
    samples: list[bytes],
    width: int,
    height: int,
    fps: int = 10,
    codec: bytes = b"jpeg",
    compressor: str = "sparkroach",
) -> bytes:
    """Samples → one single-track video MP4 (ftyp + mdat + moov)."""
    if not samples:
        raise ValueError("mp4: need at least one sample")
    n = len(samples)
    timescale = 1000
    delta = timescale // fps
    duration = n * delta

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat = _box(b"mdat", b"".join(samples))
    first_offset = len(ftyp) + 8  # mdat payload start in the file

    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume, rsvd
        + b"\x00" * 8
        + _MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next_track_ID
    )
    tkhd = _full(
        b"tkhd",
        0,
        0x7,  # enabled | in_movie | in_preview
        struct.pack(">IIII", 0, 0, 1, 0)  # times, track_ID, reserved
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, group, volume, rsvd
        + _MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _full(
        b"mdhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und', pre_defined
    )
    hdlr = _full(
        b"hdlr",
        0,
        0,
        struct.pack(">I", 0)
        + b"vide"
        + b"\x00" * 12
        + b"sparkroach video\x00",
    )
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dinf = _box(
        b"dinf",
        _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")),
    )
    name = compressor.encode("utf-8")[:31]
    entry = _box(
        codec,
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + bytes([len(name)])
        + name
        + b"\x00" * (31 - len(name))
        + struct.pack(">Hh", 24, -1),  # depth, pre_defined
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, delta))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full(
        b"stsz",
        0,
        0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, first_offset))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


# ---------------------------------------------------------------------------
# parser (strict — raises ValueError, never a silent partial read)
# ---------------------------------------------------------------------------


def _walk(data: bytes, pos: int, stop: int):
    """Yield (fourcc, body_start, body_end) for the boxes in [pos, stop)."""
    while pos < stop:
        if pos + 8 > stop:
            raise ValueError(f"mp4: truncated box header at {pos}")
        size = struct.unpack_from(">I", data, pos)[0]
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > stop:
                raise ValueError(f"mp4: truncated largesize at {pos}")
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            body = pos + 16
            if size < 16:
                raise ValueError(f"mp4: bad largesize {size} at {pos}")
        elif size == 0:  # box extends to end of enclosing scope
            size = stop - pos
        elif size < 8:
            raise ValueError(f"mp4: bad box size {size} at {pos}")
        end = pos + size
        if end > stop:
            raise ValueError(
                f"mp4: box {fourcc!r} at {pos} overruns its container"
            )
        yield fourcc, body, end
        pos = end


def _child(data: bytes, pos: int, stop: int, fourcc: bytes):
    for fc, body, end in _walk(data, pos, stop):
        if fc == fourcc:
            return body, end
    raise ValueError(f"mp4: missing required box {fourcc!r}")


def _need(data: bytes, pos: int, n: int, what: str) -> None:
    if pos + n > len(data):
        raise ValueError(f"mp4: truncated {what}")


def _full_body(data: bytes, body: int, what: str) -> int:
    """Skip a FullBox's version/flags word; only version 0 tables are
    produced here and accepted (version-1 64-bit variants raise)."""
    _need(data, body, 4, what)
    version = data[body]
    if version != 0:
        raise ValueError(f"mp4: unsupported {what} version {version}")
    return body + 4


def parse_mp4(data: bytes) -> dict:
    """Parse one single-video-track MP4; returns container metadata and
    exact per-sample byte payloads (sliced via stsc/stco/stsz — decode
    not required, so this works for codecs we cannot decode)."""
    if len(data) < 16:
        raise ValueError("mp4: shorter than one box header")
    top = list(_walk(data, 0, len(data)))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("mp4: first box must be ftyp")
    moov_b, moov_e = _child(data, 0, len(data), b"moov")

    mvhd_b, _ = _child(data, moov_b, moov_e, b"mvhd")
    p = _full_body(data, mvhd_b, "mvhd")
    _need(data, p, 16, "mvhd")
    movie_timescale, movie_duration = struct.unpack_from(">II", data, p + 8)

    trak_b, trak_e = _child(data, moov_b, moov_e, b"trak")
    mdia_b, mdia_e = _child(data, trak_b, trak_e, b"mdia")
    mdhd_b, _ = _child(data, mdia_b, mdia_e, b"mdhd")
    p = _full_body(data, mdhd_b, "mdhd")
    _need(data, p, 16, "mdhd")
    timescale, duration = struct.unpack_from(">II", data, p + 8)

    hdlr_b, _ = _child(data, mdia_b, mdia_e, b"hdlr")
    p = _full_body(data, hdlr_b, "hdlr")
    _need(data, p, 8, "hdlr")
    handler = data[p + 4 : p + 8].decode("latin-1")

    minf_b, minf_e = _child(data, mdia_b, mdia_e, b"minf")
    stbl_b, stbl_e = _child(data, minf_b, minf_e, b"stbl")

    stsd_b, stsd_e = _child(data, stbl_b, stbl_e, b"stsd")
    p = _full_body(data, stsd_b, "stsd")
    _need(data, p, 4, "stsd")
    if struct.unpack_from(">I", data, p)[0] < 1:
        raise ValueError("mp4: stsd has no sample entries")
    entry_fc, entry_b, entry_e = next(_walk(data, p + 4, stsd_e))
    codec = entry_fc.decode("latin-1")
    _need(data, entry_b, 28, "sample entry")
    width, height = struct.unpack_from(">HH", data, entry_b + 24)

    stts_b, _ = _child(data, stbl_b, stbl_e, b"stts")
    p = _full_body(data, stts_b, "stts")
    _need(data, p, 4, "stts")
    n_stts = struct.unpack_from(">I", data, p)[0]
    _need(data, p + 4, 8 * n_stts, "stts entries")
    stts_entries = [
        struct.unpack_from(">II", data, p + 4 + 8 * i) for i in range(n_stts)
    ]

    stsc_b, _ = _child(data, stbl_b, stbl_e, b"stsc")
    p = _full_body(data, stsc_b, "stsc")
    _need(data, p, 4, "stsc")
    n_stsc = struct.unpack_from(">I", data, p)[0]
    _need(data, p + 4, 12 * n_stsc, "stsc entries")
    stsc_entries = [
        struct.unpack_from(">III", data, p + 4 + 12 * i)
        for i in range(n_stsc)
    ]

    stsz_b, _ = _child(data, stbl_b, stbl_e, b"stsz")
    p = _full_body(data, stsz_b, "stsz")
    _need(data, p, 8, "stsz")
    uniform, n_samples = struct.unpack_from(">II", data, p)
    if uniform:
        sizes = [uniform] * n_samples
    else:
        _need(data, p + 8, 4 * n_samples, "stsz sizes")
        sizes = [
            struct.unpack_from(">I", data, p + 8 + 4 * i)[0]
            for i in range(n_samples)
        ]

    stco_b, _ = _child(data, stbl_b, stbl_e, b"stco")
    p = _full_body(data, stco_b, "stco")
    _need(data, p, 4, "stco")
    n_chunks = struct.unpack_from(">I", data, p)[0]
    _need(data, p + 4, 4 * n_chunks, "stco offsets")
    offsets = [
        struct.unpack_from(">I", data, p + 4 + 4 * i)[0]
        for i in range(n_chunks)
    ]

    if sum(c for c, _ in stts_entries) != n_samples:
        raise ValueError("mp4: stts total disagrees with stsz sample count")

    # general stsc run-length chunk map → per-sample absolute ranges
    samples: list[bytes] = []
    si = 0
    for run, (first_chunk, per_chunk, _sdi) in enumerate(stsc_entries):
        last_chunk = (
            stsc_entries[run + 1][0] - 1
            if run + 1 < len(stsc_entries)
            else n_chunks
        )
        if first_chunk < 1 or last_chunk > n_chunks:
            raise ValueError("mp4: stsc chunk run out of stco range")
        for chunk in range(first_chunk, last_chunk + 1):
            off = offsets[chunk - 1]
            for _ in range(per_chunk):
                if si >= n_samples:
                    raise ValueError("mp4: stsc maps more samples than stsz")
                size = sizes[si]
                if off + size > len(data):
                    raise ValueError(
                        f"mp4: sample {si} overruns the file "
                        f"({off}+{size} > {len(data)})"
                    )
                samples.append(bytes(data[off : off + size]))
                off += size
                si += 1
    if si != n_samples:
        raise ValueError(
            f"mp4: chunk map yields {si} samples, stsz declares {n_samples}"
        )

    return {
        "codec": codec,
        "handler": handler,
        "width": width,
        "height": height,
        "timescale": timescale,
        "duration": duration,
        "movie_timescale": movie_timescale,
        "movie_duration": movie_duration,
        "n_samples": n_samples,
        "sample_deltas": stts_entries,
        "samples": samples,
    }


def decode_mp4_samples(meta: dict) -> list[dict]:
    """Decode every sample of a parsed MP4 — only for intra-frame JPEG
    sample entries; anything motion-compensated refuses loudly."""
    if meta["codec"] != "jpeg":
        raise NotImplementedError(
            f"mp4: cannot decode {meta['codec']!r} samples — only the "
            "intra-frame 'jpeg' sample entry decodes here (H.264/H.265 "
            "need motion compensation; metadata probe still works)"
        )
    from sparkroach.functions.jpeg import decode_jpeg

    return [decode_jpeg(s) for s in meta["samples"]]


# ---------------------------------------------------------------------------
# deterministic gate corpora
# ---------------------------------------------------------------------------


def mp4_params(doc_id: int) -> dict:
    from sparkroach.functions.jpeg import jpeg_params

    return {**jpeg_params(doc_id), "n_frames": 2 + doc_id % 4}


def mp4_frame_tile_value(doc_id: int, frame: int, tx: int, ty: int) -> int:
    # distinct constants from the AVI corpus so the two video gates can
    # never shadow each other's arithmetic
    return (doc_id * 37 + frame * 11 + ty * 16 + tx * 5) % 256


def encode_doc_mp4(doc_id: int) -> bytes:
    """The doc's deterministic Motion-JPEG MP4: 2–5 exact-roundtrip tile
    frames as 'jpeg' samples; odd frames carry a DRI restart interval."""
    import numpy as np

    from sparkroach.functions.jpeg import encode_jpeg

    p = mp4_params(doc_id)
    w, h = p["width"], p["height"]
    frames = []
    for f in range(p["n_frames"]):
        img = np.zeros((h, w, 3), dtype="uint8")
        for ty in range(h // 8):
            for tx in range(w // 8):
                img[ty * 8 : ty * 8 + 8, tx * 8 : tx * 8 + 8, :] = (
                    mp4_frame_tile_value(doc_id, f, tx, ty)
                )
        frames.append(encode_jpeg(img, restart_interval=f % 2))
    return encode_mp4_video(frames, w, h, fps=10, codec=b"jpeg")


def probe_params(doc_id: int) -> dict:
    return {
        "width": 320 + 16 * (doc_id % 5),
        "height": 240 + 16 * ((doc_id // 5) % 4),
        "n_samples": 1 + doc_id % 5,
    }


def probe_sample_len(doc_id: int, k: int) -> int:
    return 16 + (doc_id * 7 + k * 13) % 64


def encode_probe_mp4(doc_id: int) -> bytes:
    """An 'avc1' (H.264) MP4 whose sample BYTES are deterministic filler
    — the probe gate's point is that duration/resolution/sample-size
    accounting comes from the container alone, with no decode."""
    p = probe_params(doc_id)
    samples = [
        bytes([(doc_id + k) % 256]) * probe_sample_len(doc_id, k)
        for k in range(p["n_samples"])
    ]
    return encode_mp4_video(
        samples, p["width"], p["height"], fps=10, codec=b"avc1"
    )
