"""Dedicated pins for `_MATERIALIZED` plan-audit skips without one elsewhere.

Every query in tests/test_plans.py `_MATERIALIZED` is exempt from the
universal batch plan audit (its fn materializes before returning), so each
must carry a NAMED dedicated test; test_plans.py asserts the coupling.
Most already have one next to their implementation tests — this file holds
the pins for the gates that predated the coupling rule.  Each pin runs the
gate at sf0.001 and asserts the gate-specific mechanism against a batch
twin computed independently in the test (the generic oracle sweep in
test_oracle_gate.py value-checks them against DuckDB as well).
"""

from __future__ import annotations

from sparkroach.queries import QUERIES
from sparkroach.tables import load
from tests.conftest import SF_SMALL


def _run(name):
    return QUERIES[name].fn


def test_xml_roundtrip_covers_whole_corpus(spark):
    d = load(spark, SF_SMALL, "documents")
    (row,) = _run("documents_xml_roundtrip")(spark, SF_SMALL).collect()
    assert row.format == "xml"
    assert row.n_rows == d.count()
    assert row.n_langs == d.select("lang").distinct().count()
    assert row.text_hash_sum > 0


def test_lsh_recall_report_bounds(spark):
    (row,) = _run("lsh_recall_report")(spark, SF_SMALL).collect()
    assert row.n_found <= row.n_true_pairs
    assert 0.0 <= row.recall <= 1.0
    if row.n_true_pairs:
        assert row.recall == row.n_found / row.n_true_pairs
