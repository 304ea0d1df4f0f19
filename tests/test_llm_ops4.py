"""Tests for llm_ops4 (SemDeDup, BPE pairs, triangles, TF-IDF), the
and the histogram quantile sketch.

Value correctness is the DuckDB oracle's job (tests/test_oracle_gate.py
sweeps every registered query); these pin the properties the oracle
can't see — plan shapes, structural invariants, the mergeability
and the mergeability contract.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import functions as F

from sparkroach.queries import QUERIES
from sparkroach.queries.llm_ops import (
    _JACCARD_TAU,
    _ivf_kmeans_parts,
    _verified_pairs,
)
from sparkroach.queries.llm_ops4 import SEMDEDUP_TAU, TFIDF_TOP, BPE_TOP
from sparkroach.queries.sketches import HIST_BIN_W
from sparkroach.tables import load
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_SMALL)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_new_ops_have_no_quadratic_joins(spark):
    # No CartesianProduct anywhere.  BNLJ is tolerated ONLY where its
    # broadcast side is bounded by construction: tfidf's corpus-count is
    # a 1-row aggregate crossJoin (the ann_cosine_topk shape) and the
    # hist sketch's 'ALL' chain joins constant-key tables bounded by the
    # bin count — Catalyst folds the literal key and degenerates those
    # equi-joins to BNLJ over <=64-row sides.
    for name in ("bpe_pair_counts", "triangle_count_dup_graph"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    for name in ("tfidf_top_terms", "hist_quantile_sketch"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_semdedup_blocks_by_cluster_not_cross_product(spark):
    # the centroid-assignment crossJoin is broadcast by design (the ANN
    # family's shape); what must never appear is a non-broadcast
    # CartesianProduct — pair generation goes through the capped
    # cluster-keyed equi-join
    plan = _plan(spark, "semdedup_clusters")
    assert "CartesianProduct" not in plan


def test_triangle_counts_match_bruteforce(spark):
    d = load(spark, SF_SMALL, "documents")
    edges = [
        (r.doc_a, r.doc_b)
        for r in (
            _verified_pairs(d)
            .where(F.col("jaccard") >= _JACCARD_TAU)
            .select("doc_a", "doc_b")
            .collect()
        )
    ]
    eset = set(edges)
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected: dict[int, int] = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if (
            ((a, b) in eset)
            and ((a, c) in eset)
            and ((b, c) in eset)
        ):
            for n in (a, b, c):
                expected[n] = expected.get(n, 0) + 1
    got = {
        r.doc_id: r.n_triangles
        for r in QUERIES["triangle_count_dup_graph"].fn(spark, SF_SMALL).collect()
    }
    assert got == expected
    assert expected, "fixture has no triangles — test is vacuous"


def test_semdedup_dups_share_cluster_with_keeper(spark):
    a2, _ = _ivf_kmeans_parts(spark, SF_SMALL)
    cluster = {r.vec_id: r.cluster for r in a2.collect()}
    rows = QUERIES["semdedup_clusters"].fn(spark, SF_SMALL).collect()
    assert rows, "no semantic dups at sf0.001 — test is vacuous"
    for r in rows:
        assert r.keep_id < r.dup_id
        assert cluster[r.dup_id] == r.cluster
        # the keeper is a same-cluster lower id (cluster blocking: every
        # candidate pair was generated within one cluster)
        assert cluster[r.keep_id] == r.cluster
        assert r.max_cosine >= SEMDEDUP_TAU


def test_bpe_ranks_dense_and_counts_monotone(spark):
    rows = QUERIES["bpe_pair_counts"].fn(spark, SF_SMALL).collect()
    assert [r.rank for r in rows] == list(range(1, BPE_TOP + 1))
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r.pair) == 2 for r in rows)


def test_tfidf_per_doc_contract(spark):
    rows = QUERIES["tfidf_top_terms"].fn(spark, SF_SMALL).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    n_docs = load(spark, SF_SMALL, "documents").count()
    assert len(by_doc) == n_docs  # every document gets ranked terms
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in doc_rows] == list(
            range(1, len(doc_rows) + 1)
        )
        assert len(doc_rows) <= TFIDF_TOP
        scores = [r.tfidf for r in doc_rows]
        assert scores == sorted(scores, reverse=True)


def _token_counts(sf_dir: str) -> pd.DataFrame:
    df = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    df["tok"] = df["text"].str.split(" ").str.len()
    return df


def test_hist_quantile_merge_property(spark):
    """The 'ALL' row must equal the per-source sketches merged by
    ADDITION — the property that makes the sketch a sketch."""
    df = _token_counts(SF_SMALL)
    df["bin"] = (df["tok"] // HIST_BIN_W).clip(upper=63)
    merged = (
        df.groupby(["source", "bin"]).size().groupby("bin").sum().sort_index()
    )
    n = int(merged.sum())
    cum = merged.cumsum()
    p50 = int(cum.index[(cum * 2 >= n)][0]) * HIST_BIN_W
    p90 = int(cum.index[(cum * 10 >= 9 * n)][0]) * HIST_BIN_W
    rows = {
        r.source: r
        for r in QUERIES["hist_quantile_sketch"].fn(spark, SF_SMALL).collect()
    }
    allr = rows["ALL"]
    assert allr.n_docs == n
    assert allr.p50_bucket_lo == p50
    assert allr.p90_bucket_lo == p90
    assert sum(r.n_docs for s, r in rows.items() if s != "ALL") == n


def test_hist_quantile_error_bound(spark):
    """The structural accuracy claim: the true rank-ceil(n/2) order
    statistic lies inside the reported p50 bucket, for every source."""
    df = _token_counts(SF_SMALL)
    rows = QUERIES["hist_quantile_sketch"].fn(spark, SF_SMALL).collect()
    for r in rows:
        toks = (
            df["tok"] if r.source == "ALL"
            else df.loc[df["source"] == r.source, "tok"]
        ).sort_values().to_numpy()
        true_p50 = int(toks[(len(toks) + 1) // 2 - 1])
        assert r.p50_bucket_lo <= true_p50 < r.p50_bucket_lo + HIST_BIN_W


def test_knn_graph_rank_contract(spark):
    rows = QUERIES["knn_graph_ivf"].fn(spark, SF_SMALL).collect()
    by_vec: dict[int, list] = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, []).append(r)
    assert by_vec, "empty kNN graph"
    for vec_rows in by_vec.values():
        vec_rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in vec_rows] == list(range(1, len(vec_rows) + 1))
        assert len(vec_rows) <= 4
        cos = [r.cosine for r in vec_rows]
        assert cos == sorted(cos, reverse=True)
        assert all(r.nbr_id != r.vec_id for r in vec_rows)


def test_dbscan_roles_satisfy_density_invariants(spark):
    from sparkroach.queries.llm_ops4 import (
        DBSCAN_EPS,
        DBSCAN_MINPTS,
        _knn_scored_pairs,
    )

    pairs = _knn_scored_pairs(spark, SF_SMALL).collect()
    adj: dict[int, set[int]] = {}
    for p in pairs:
        if p.cosine >= DBSCAN_EPS:
            adj.setdefault(p.a_id, set()).add(p.b_id)
            adj.setdefault(p.b_id, set()).add(p.a_id)
    rows = QUERIES["dbscan_embedding_clusters"].fn(spark, SF_SMALL).collect()
    roles = {r.vec_id: r for r in rows}
    n_roles = {"core": 0, "border": 0, "noise": 0}
    core_ids = {v for v, r in roles.items() if r.role == "core"}
    for v, r in roles.items():
        n_roles[r.role] += 1
        nbrs = adj.get(v, set())
        if r.role == "core":
            assert len(nbrs) >= DBSCAN_MINPTS
            assert r.cluster_id is not None and r.cluster_id <= v
        elif r.role == "border":
            assert len(nbrs) < DBSCAN_MINPTS
            core_nbrs = nbrs & core_ids
            assert core_nbrs
            # attached to the MINIMUM core-neighbor cluster (determinism)
            assert r.cluster_id == min(
                roles[c].cluster_id for c in core_nbrs
            )
        else:
            assert not (nbrs & core_ids)
            assert r.cluster_id is None
    assert all(n_roles.values()), f"a role is vacuous: {n_roles}"
    # cluster label of every core = min vec_id reachable through
    # core-core edges (BFS ground truth)
    def component_min(start: int) -> int:
        seen = {start}
        stack = [start]
        while stack:
            v = stack.pop()
            for n in adj.get(v, set()) & core_ids:
                if n not in seen:
                    seen.add(n)
                    stack.append(n)
        return min(seen)

    for v in core_ids:
        assert roles[v].cluster_id == component_min(v)


def test_temperature_sampler_downsamples_big_langs_reproducibly(spark):
    rows = {
        r.lang: r
        for r in QUERIES["temperature_sample_by_lang"].fn(spark, SF_SMALL).collect()
    }
    smallest = min(rows.values(), key=lambda r: r.n_tokens)
    biggest = max(rows.values(), key=lambda r: r.n_tokens)
    assert smallest.rate == 1.0  # the smallest lang is never downsampled
    assert biggest.rate < 1.0
    assert biggest.n_kept < biggest.n_docs  # downsampling actually bites
    for r in rows.values():
        assert 0 < r.n_kept <= r.n_docs
    # hash selection ⇒ bit-identical on rerun (reproducible sample)
    again = {
        r.lang: r
        for r in QUERIES["temperature_sample_by_lang"].fn(spark, SF_SMALL).collect()
    }
    assert {k: v.asDict() for k, v in rows.items()} == {
        k: v.asDict() for k, v in again.items()
    }
