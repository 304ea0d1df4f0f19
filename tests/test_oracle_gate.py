"""Mirror of the driver's t2 correctness gate: every registered query must
hash-match its DuckDB oracle on the same parquet inputs (sf0.001 here for
speed; the driver runs sf0.01 — run `python -m sparkroach.oracle
/root/testdata/sf0.01` for the full-scale sweep)."""

from __future__ import annotations

import pytest

from sparkroach import oracle
from sparkroach.queries import QUERIES
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def duck():
    return oracle._duck_connection(SF_SMALL)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    if q.oracle is None:
        n = q.fn(spark, SF_SMALL).count()
        assert n >= 0
        return
    res = oracle.compare(name, q.fn(spark, SF_SMALL), q.oracle, SF_SMALL, duck)
    assert res.ok, res.detail


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_driver_window_budget():
    """Every gated query must land inside the driver's recorded window
    (round-1 lesson: entries past position 50 got no CORRECTNESS row and
    counted as unverified), with oracle-bearing entries ordered first."""
    import __spark_entry__ as e
    from sparkroach.queries.registry import DRIVER_WINDOW

    qs = list(e.queries())
    assert len(qs) <= DRIVER_WINDOW, (
        f"{len(qs)} gated queries exceed the driver's {DRIVER_WINDOW}-entry "
        "window — drop names from rotation.ACTIVE_WINDOW"
    )
    oracles = e.oracle_sql()
    seen_rows_only = False
    for name in qs:
        if name not in oracles:
            seen_rows_only = True
        else:
            assert not seen_rows_only, (
                f"oracle-bearing {name} is ordered after a rows-only entry"
            )


def test_documents_corpus_is_pure_ascii():
    """r4 (ADVICE r3): the multimodal_features oracle equates DuckDB
    codepoints with payload bytes (unicode(text[i]) vs uint8 sum) and
    octet_length(encode(text)) with length(text).  Both only hold for pure
    ASCII — assert it corpus-wide at every SF so testdata drift fails
    loudly here, not as an inscrutable gate hash mismatch."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        n = duckdb.sql(
            f"""
            SELECT count(*) FROM read_parquet('{path}')
            WHERE octet_length(encode(text)) <> length(text)
               OR regexp_matches(text, '[^\\x00-\\x7F]')
            """
        ).fetchone()[0]
        assert n == 0, f"non-ASCII text in {path}: {n} rows"
