"""HyperLogLog sketch semantics: mergeability, accuracy, determinism.

The oracle sweep pins Spark == DuckDB; these pin the properties that make
the sketch worth shipping — the merged sketch must equal the
directly-built one, and the estimate must actually estimate.
"""

from __future__ import annotations

from sparkroach.queries import QUERIES
from sparkroach.queries.sketches import HLL_M
from tests.conftest import SF_SMALL


def test_merged_all_row_equals_direct_global_sketch(spark):
    """Register-wise max over per-type sketches must reproduce the
    directly-built global sketch EXACTLY — the associativity property
    that lets partial sketches combine across partitions/days without
    re-reading data.  hll_distinct_sketch builds the global sketch
    directly from all events; hll_sketch_merge's 'ALL' row builds it by
    merging the per-type register tables.  Same hash, same registers ⇒
    every column must agree."""
    direct = QUERIES["hll_distinct_sketch"].fn(spark, SF_SMALL).collect()[0]
    merged = {
        r.event_type: r
        for r in QUERIES["hll_sketch_merge"].fn(spark, SF_SMALL).collect()
    }["ALL"]
    for col in (
        "m",
        "used_buckets",
        "empty_buckets",
        "reg_sum",
        "reg_max",
        "s_int",
        "hll_estimate",
        "exact_distinct",
    ):
        assert getattr(direct, col) == getattr(merged, col), col


def test_estimate_accuracy_in_the_raw_regime(spark):
    """events at sf0.001 has 1000 distinct event_ids ≈ 4m — inside the
    raw estimator's regime (n ≳ 2.5m), where the standard error is
    1.04/√m ≈ 6.5%.  Allow 3σ."""
    row = QUERIES["hll_distinct_sketch"].fn(spark, SF_SMALL).collect()[0]
    assert row.m == HLL_M
    rel_err = abs(row.hll_estimate - row.exact_distinct) / row.exact_distinct
    assert rel_err < 3 * 1.04 / HLL_M**0.5, (row.hll_estimate, row.exact_distinct)


def test_registers_are_bounded_and_consistent(spark):
    rows = QUERIES["hll_sketch_merge"].fn(spark, SF_SMALL).collect()
    types = {r.event_type for r in rows}
    assert "ALL" in types and len(types) == 6
    for r in rows:
        assert 0 < r.used_buckets <= HLL_M
        assert r.used_buckets + r.empty_buckets == HLL_M
        # every register holds a rank in [1, 25]
        assert 1 <= r.reg_max <= 25
        assert r.used_buckets <= r.reg_sum <= 25 * r.used_buckets
        # ALL dominates every shard register-wise, so also in used buckets
        assert r.exact_distinct > 0


def test_cms_never_underestimates(spark):
    """Count-Min's core guarantee: est >= exact for every key (counters
    only ever ADD colliding mass).  With 916 distinct bigrams in 3x256
    counters, collisions are certain — the overestimate column must be
    non-vacuous."""
    rows = QUERIES["cms_heavy_hitters"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cms_est >= r.exact_cf
        assert r.overestimate == r.cms_est - r.exact_cf
    assert any(r.overestimate > 0 for r in rows)


def test_bloom_has_no_false_negatives(spark):
    """Every true semi-join row must pass the Bloom filter (the filter
    only ever over-approximates): n_pass - false_positives == n_true.
    The FP side must be non-vacuous at sf0.001 (m=4096 bits over ~300
    keys -> ~0.8% fp measured), or the op demonstrates nothing."""
    r = QUERIES["bloom_semijoin_prune"].fn(spark, SF_SMALL).collect()[0]
    assert r.n_pass_bloom - r.false_positives == r.n_true_match
    assert r.false_positives > 0
    assert 0.0 < r.fp_rate < 0.05
    assert r.fp_rate == r.false_positives / (r.n_lineitem - r.n_true_match)


def test_hist_sketch_rows_cover_all_sources_plus_merged(spark):
    rows = QUERIES["hist_quantile_sketch"].fn(spark, SF_SMALL).collect()
    sources = {r.source for r in rows}
    assert "ALL" in sources and len(sources) == 21  # 20 sources + merged
