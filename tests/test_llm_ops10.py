"""Pure-Python codec pins: WebDataset tar shards (functions/wds.py) and
the image aHash (functions/ahash.py) over the real JPEG decode."""

from __future__ import annotations

import pytest

from sparkroach.functions.wds import build_tar_shard, parse_tar_shard


# ---------------------------------------------------------------------------
# WebDataset tar codec
# ---------------------------------------------------------------------------


def test_wds_roundtrip():
    samples = [(7, "en", "web", "hello world"), (42, "de", "books", "zwei")]
    blob = build_tar_shard(samples)
    out = parse_tar_shard(blob)
    assert [(s["doc_id"], s["lang"], s["source"], s["text"]) for s in out] == [
        (7, "en", "web", "hello world"),
        (42, "de", "books", "zwei"),
    ]
    assert all(s["n_members"] == 2 for s in out)


def test_wds_members_adjacent_and_sorted():
    import io
    import tarfile

    blob = build_tar_shard([(3, "en", "w", "x"), (1, "en", "w", "y")])
    names = [
        m.name
        for m in tarfile.open(fileobj=io.BytesIO(blob)).getmembers()
    ]
    assert names == sorted(names)
    # each sample's two members are adjacent (the sequential-read contract)
    stems = [n.rsplit(".", 1)[0] for n in names]
    assert stems == ["000000001", "000000001", "000000003", "000000003"]


def test_wds_strictness():
    import io
    import tarfile

    with pytest.raises(ValueError, match="not a tar"):
        parse_tar_shard(b"definitely not a tar archive")

    def tar_of(members):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for name, payload in members:
                info = tarfile.TarInfo(name=name)
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))
        return buf.getvalue()

    with pytest.raises(ValueError, match="missing members"):
        parse_tar_shard(tar_of([("000000001.txt", b"x")]))
    with pytest.raises(ValueError, match="unknown member extension"):
        parse_tar_shard(tar_of([("000000001.jpeg2", b"x")]))
    with pytest.raises(ValueError, match="duplicate member"):
        parse_tar_shard(
            tar_of([("000000001.txt", b"x"), ("000000001.txt", b"y")])
        )
    meta = b'{"doc_id":9,"lang":"en","source":"w"}'
    with pytest.raises(ValueError, match="disagrees"):
        parse_tar_shard(
            tar_of([("000000001.txt", b"x"), ("000000001.json", meta)])
        )


# ---------------------------------------------------------------------------
# aHash
# ---------------------------------------------------------------------------


def test_ahash_known_raster():
    import numpy as np

    from sparkroach.functions.ahash import ahash_bands

    # 16x16: top half dark (10), bottom half bright (200) → mean 105;
    # bottom 32 bits set → bands [0, 0, 0xFFFF, 0xFFFF]
    img = np.zeros((16, 16, 3), dtype="uint8")
    img[:8] = 10
    img[8:] = 200
    assert ahash_bands(img) == [0, 0, 0xFFFF, 0xFFFF]
    # equality sits on the >= side: constant image → every bit set
    img[:] = 77
    assert ahash_bands(img) == [0xFFFF] * 4


def test_ahash_bit_positions():
    import numpy as np

    from sparkroach.functions.ahash import ahash_bands

    # exactly one bright 2x2 box at grid (r=0, c=2) on a 16x16 dark image
    # → band0 bit 2 only
    img = np.zeros((16, 16, 3), dtype="uint8")
    img[0:2, 4:6] = 255
    bands = ahash_bands(img)
    assert bands == [1 << 2, 0, 0, 0]


def test_ahash_rejects_bad_dims():
    import numpy as np

    from sparkroach.functions.ahash import ahash_bands

    with pytest.raises(ValueError, match="8-divisible"):
        ahash_bands(np.zeros((12, 16, 3), dtype="uint8"))


def test_ahash_matches_decoded_corpus_closed_form():
    """The SQL oracle's overlap-area closed form must equal the REAL
    decode+hash chain — the equivalence the gate rests on (spot-checked
    here over every (w, h) class and the mod-256 tile wraparound)."""
    from sparkroach.functions.ahash import ahash_bands
    from sparkroach.functions.jpeg import (
        decode_jpeg,
        encode_doc_jpeg,
        jpeg_params,
        tile_value,
    )

    def closed_form(doc_id):
        p = jpeg_params(doc_id)
        w, h = p["width"], p["height"]
        bw, bh = w // 8, h // 8
        cells = [[0] * 8 for _ in range(8)]
        for r in range(8):
            for c in range(8):
                s = 0
                for ty in range(h // 8):
                    for tx in range(w // 8):
                        ow = max(
                            0,
                            min((c + 1) * bw, 8 * tx + 8) - max(c * bw, 8 * tx),
                        )
                        oh = max(
                            0,
                            min((r + 1) * bh, 8 * ty + 8) - max(r * bh, 8 * ty),
                        )
                        s += ow * oh * tile_value(doc_id, tx, ty)
                cells[r][c] = s
        total = sum(map(sum, cells))
        out = []
        for k in range(4):
            v = 0
            for rr in range(2):
                for c in range(8):
                    if 64 * cells[2 * k + rr][c] >= total:
                        v |= 1 << (rr * 8 + c)
            out.append(v)
        return out

    for doc_id in range(0, 300, 7):
        real = ahash_bands(decode_jpeg(encode_doc_jpeg(doc_id))["rgb"])
        assert real == closed_form(doc_id), doc_id
