"""Pure-Python pins: the Hilbert-curve codec
(``sparkroach/functions/hilbert.py``) and the reference estimators
(ACF grid algebra, Gini, AMS F2, k-core peeling, Theil–Sen) checked
against independent numpy or closed-form results."""

from __future__ import annotations

import numpy as np
import pytest


def _acf_ref(x: np.ndarray, k: int) -> float:
    """Textbook (statsmodels-convention) ACF estimator at lag k."""
    n = len(x)
    mu = x.mean()
    num = ((x[: n - k] - mu) * (x[k:] - mu)).sum()
    den = ((x - mu) ** 2).sum()
    return float(num / den)


def test_acf_grid_algebra_matches_textbook_estimator():
    # the exact-integer algebra n²C_k − nS(H_k+T_k) + (n−k)S² over a
    # zero-filled grid must equal the centered-product estimator
    rng = np.random.default_rng(3)
    x = np.zeros(500, dtype=np.int64)
    present = rng.choice(500, size=350, replace=False)
    x[present] = rng.integers(0, 100_000, size=350)
    n = len(x)
    s = int(x.sum())
    ss = int((x.astype(object) ** 2).sum())
    for k in range(1, 9):
        c = int((x[: n - k].astype(object) * x[k:].astype(object)).sum())
        h = int(x[: n - k].sum())
        t = int(x[k:].sum())
        num = n * n * c - n * s * (h + t) + (n - k) * s * s
        den = n * n * ss - n * s * s
        assert float(num) / float(den) == pytest.approx(
            _acf_ref(x.astype(float), k), abs=1e-12
        )


def _theil_sen_ref(ts, ys):
    slopes = []
    for i in range(len(ts)):
        for j in range(i + 1, len(ts)):
            slopes.append(
                ((ys[j] - ys[i]) / (ts[j] - ts[i]), ts[i], ts[j])
            )
    slopes.sort()
    n_pairs = len(slopes)
    s6 = round(slopes[(n_pairs + 1) // 2 - 1][0], 6)
    t0 = min(ts)
    devs = sorted(
        (y - round(s6 * (t - t0), 6), t) for t, y in zip(ts, ys)
    )
    i6 = round(devs[(len(ts) + 1) // 2 - 1][0], 6)
    return n_pairs, s6, i6


def _gini_ref(xs):
    xs = sorted(xs)
    n = len(xs)
    return (
        sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        / (n * sum(xs))
    )


def test_gini_identity_edges():
    assert _gini_ref([5, 5, 5, 5]) == 0.0  # uniform
    n = 10
    assert _gini_ref([0] * (n - 1) + [100]) == pytest.approx((n - 1) / n)


def test_hilbert_curve_reference_properties():
    from sparkroach.functions.hilbert import HILBERT_SIDE, d2xy, xy2d

    # bijection + the defining property: consecutive indices are
    # ALWAYS Manhattan-adjacent cells (checked on the full order-4
    # grid; order-8 spot-checked below)
    n = 16
    cells = sorted(
        (xy2d(x, y, side=n), x, y) for x in range(n) for y in range(n)
    )
    assert len({c[0] for c in cells}) == n * n
    for a, b in zip(cells, cells[1:]):
        assert abs(a[1] - b[1]) + abs(a[2] - b[2]) == 1
    for d in range(0, HILBERT_SIDE * HILBERT_SIDE, 97):
        assert xy2d(*d2xy(d)) == d


def test_hilbert_sql_stages_match_reference_exhaustively():
    import duckdb

    from sparkroach.functions.hilbert import (
        hilbert_ctes,
        morton,
        morton_sql,
        xy2d,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH g AS (SELECT a.a AS hx, a.a AS x0, b.b AS hy, b.b AS y0,
                          0 AS hd
                   FROM range(0, 256) a(a), range(0, 256) b(b)),
        {hilbert_ctes("g")}
        SELECT x0, y0, hd, {morton_sql("x0", "y0", div="//")} AS z
        FROM hfin
        """
    ).fetchall()
    assert len(rows) == 65536
    for x, y, hd, z in rows:
        assert hd == xy2d(x, y) and z == morton(x, y)


def _ams_squares(counts, salt, k=24):
    """Reference AMS estimator squares S_j² for one salt."""
    import hashlib

    sums = []
    for j in range(k):
        s = 0
        for u, cnt in counts.items():
            h = int(
                hashlib.md5(f"{salt}:{j}:{u}".encode()).hexdigest()[:8], 16
            )
            s += cnt if h % 2 == 0 else -cnt
        sums.append(s * s)
    return sums


def test_ams_estimator_unbiased_mean_and_concentrated_median():
    rng = np.random.default_rng(12)
    counts = {int(u): int(c) for u, c in enumerate(rng.integers(1, 60, 80))}
    f2 = sum(c * c for c in counts.values())
    means, medians = [], []
    for salt in range(60):
        sq = _ams_squares(counts, salt)
        means.append(np.mean(sq))  # E[S²] = F2 exactly → unbiased
        groups = sorted(
            sum(sq[g * 4 : (g + 1) * 4]) / 4 for g in range(6)
        )
        medians.append(groups[2])  # lower median of the 6 group means
    # unbiasedness: the grand mean of squares tracks F2 tightly
    assert abs(np.mean(means) - f2) / f2 < 0.15
    # concentration: the median-of-means realization is within a small
    # constant factor essentially always (it IS median-biased low —
    # that's the outlier-robustness trade the estimator makes)
    within = sum(1 for e in medians if 0.3 * f2 < e < 3 * f2)
    assert within >= 50


def _peel_ref(edges, k):
    """Reference k-core: peel until fixpoint, return surviving edges."""
    cur = set(edges)
    while True:
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        nxt = {(a, b) for a, b in cur if deg[a] >= k and deg[b] >= k}
        if nxt == cur:
            return cur
        cur = nxt


def test_kcore_reference_semantics():
    path = {(i, i + 1) for i in range(6)}  # path: 2-core is empty
    assert _peel_ref(path, 2) == set()
    clique = {(a, b) for a in range(4) for b in range(a + 1, 4)}
    assert _peel_ref(clique, 2) == clique  # cliques survive intact
    assert _peel_ref(clique, 3) == clique
    lollipop = {(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)}
    assert _peel_ref(lollipop, 2) == {(0, 1), (1, 2), (0, 2)}
    assert _peel_ref(lollipop, 3) == set()


def test_theil_sen_is_robust_to_outliers():
    # a clean slope-3 line with 20% wild outliers: the pairwise-slope
    # median stays on the line while the LSQ slope is dragged away
    ts = list(range(40))
    ys = [3.0 * t + 10 for t in ts]
    for t in (5, 13, 21, 29, 33, 37, 2, 11):
        ys[t] += 5000.0
    _, s6, _ = _theil_sen_ref(ts, ys)
    assert abs(s6 - 3.0) < 0.5
    lsq = np.polyfit(ts, ys, 1)[0]
    assert abs(lsq - 3.0) > 3  # least squares is off by construction
