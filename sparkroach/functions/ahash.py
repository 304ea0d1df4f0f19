"""Perceptual average-hash (aHash) over decoded rasters — all integer.

The classic image near-dup fingerprint (the pHash-family member with an
integer-exact definition): downsample the grayscale raster to an 8x8
grid by box-averaging, then set bit (r, c) iff that cell's mean is >=
the global mean.  Both comparisons are done by cross-multiplication on
integer pixel SUMS, so the hash is bit-exact on any platform:

    bit(r, c) = [ 64 * cellsum(r, c) >= total ]

(valid because the 64 boxes partition the image into equal-size cells —
width and height must be multiples of 8, which every JPEG in the gate
corpus is).

The 64 bits are returned as four 16-bit band integers (rows 2k..2k+1,
bit position ``(r % 2) * 8 + c``) — the LSH banding used by the pair
join: two images within Hamming distance d share at least one exact
band for d <= 3 by pigeonhole, and the gate's wider threshold trades
recall for the capped-bucket join the other dedup planes use.

Grayscale is the integer floor mean ``(r + g + b) // 3`` — chosen over
the luma weights so the whole chain stays in exact integer arithmetic
(on the tile-constant gray gate corpus the two definitions coincide).
"""

from __future__ import annotations


def ahash_bands_grid(rgb, grid: int = 8) -> list[int]:
    """uint8 raster (h, w, 3) → (grid²/16) 16-bit band ints.

    Dims must be divisible by ``grid`` (equal boxes keep the mean
    comparison a pure integer cross-multiplication).  grid=8 is the
    classic 64-bit aHash (4 bands); grid=16 the 256-bit variant (16
    bands) — the 'wider hash' dial measured in SCALE.md §16.
    """
    import numpy as np

    h, w = rgb.shape[0], rgb.shape[1]
    if h % grid or w % grid:
        raise ValueError(
            f"aHash needs {grid}-divisible dims, got {w}x{h}"
        )
    gray = rgb.astype(np.int64).sum(axis=2) // 3
    bh, bw = h // grid, w // grid
    cells = gray.reshape(grid, bh, grid, bw).sum(axis=(1, 3))
    total = int(cells.sum())
    n = grid * grid
    bits = (n * cells >= total).astype(np.int64)
    flat = bits.reshape(-1)
    bands: list[int] = []
    for k in range(n // 16):
        v = 0
        for j in range(16):
            v |= int(flat[16 * k + j]) << j
        bands.append(v)
    return bands


def ahash_bands(rgb) -> list[int]:
    """uint8 raster (h, w, 3) → four 16-bit band ints (h, w % 8 == 0).

    Kept as the grid=8 entry point with the GATE's exact bit layout
    (band k = grid rows 2k..2k+1, bit position (r % 2) * 8 + c — the
    layout the multimodal_image_ahash_pairs oracle mirrors).  For
    grid=8 that row-major layout coincides with ahash_bands_grid's.
    """
    return ahash_bands_grid(rgb, 8)


