"""The rotation ledger must account for EVERY registered query.

Each query is either (a) driver-recorded GREEN in some CORRECTNESS_r*.json
(all three match flags true — a red row does NOT count; that was the r5
ledger hole, VERDICT r5 item 2), (b) pinned in the active window
(ACTIVE_WINDOW), or (c) permanently DELEGATED to the local
oracle sweep with a named driver-proven twin.  Rows-only queries
(ROWS_ONLY) count as recorded when a row with spark_rows >= 0 exists —
their value check lives in dedicated tests instead of the oracle.  A new
query that declares none of these fails here — the backlog can't silently
grow past the driver window again (r4 verdict item 1/2).
"""

from __future__ import annotations

import glob
import json
import os

from sparkroach.queries import QUERIES
from sparkroach.queries.registry import DRIVER_WINDOW
from sparkroach.queries.rotation import (
    ACTIVE_WINDOW,
    DELEGATED,
    ROWS_ONLY,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _recorded_green(files: list[str] | None = None) -> set[str]:
    """Names with at least one GREEN driver recording.

    Green = rows_match AND schema_match AND hash_match all true.  The
    rows-only exemption applies ONLY to names in ROWS_ONLY (no oracle by
    design): any recording with spark_rows >= 0 counts for those.
    """
    if files is None:
        files = glob.glob(os.path.join(REPO, "CORRECTNESS_r0*.json"))
    names: set[str] = set()
    for f in files:
        for name, rec in json.load(open(f)).items():
            if name in ROWS_ONLY:
                if (rec.get("spark_rows") or -1) >= 0:
                    names.add(name)
            elif (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
            ):
                names.add(name)
    return names


def test_every_query_has_a_declared_disposition():
    recorded = _recorded_green()
    undeclared = sorted(
        name
        for name in QUERIES
        if name not in recorded
        and name not in ACTIVE_WINDOW
        and name not in DELEGATED
    )
    assert not undeclared, (
        f"queries with no rotation disposition: {undeclared} — add each to "
        "the active window (novel execution path or red re-record, needs a "
        "green driver recording) or DELEGATED (SQL-shape variant, name its "
        "driver-proven twin)"
    )


def test_red_recordings_do_not_count_as_recorded(tmp_path):
    # Pin the MECHANISM (the r5 ledger lesson), not live history: a row
    # with any match flag false must not satisfy the recorded disposition;
    # an all-green row must.  (The r6 verdict: the previous version of this
    # test asserted against live CORRECTNESS files and went red the moment
    # the driver delivered the green re-record it was built to produce.)
    fixture = tmp_path / "CORRECTNESS_r0X.json"
    fixture.write_text(
        json.dumps(
            {
                "red_row": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": False,
                    "spark_rows": 5,
                    "oracle_rows": 5,
                },
                "green_row": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "spark_rows": 5,
                    "oracle_rows": 5,
                },
                "errored_row": {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "spark_rows": -1,
                    "oracle_rows": -1,
                    "err": "boom",
                },
            }
        )
    )
    names = _recorded_green([str(fixture)])
    assert "red_row" not in names
    assert "errored_row" not in names
    assert "green_row" in names


def test_r5_red_rerecord_landed_green_in_r6():
    # History regression pin with explicit file scoping (no expiry): the
    # inverted_index_postings row is red in the r1–r5 files and green from
    # the r6 file on — both halves must keep holding as rounds accumulate.
    r1_to_r5 = [
        os.path.join(REPO, f"CORRECTNESS_r0{n}.json") for n in range(1, 6)
    ]
    r1_to_r5 = [f for f in r1_to_r5 if os.path.exists(f)]
    assert "inverted_index_postings" not in _recorded_green(r1_to_r5)
    assert "inverted_index_postings" in _recorded_green()


def test_dispositions_are_disjoint_and_names_exist():
    assert not (ACTIVE_WINDOW & set(DELEGATED))
    for s in (ACTIVE_WINDOW, set(DELEGATED)):
        missing = s - set(QUERIES)
        assert not missing, f"rotation names not registered: {sorted(missing)}"


def test_active_window_fits_the_driver_window():
    assert len(ACTIVE_WINDOW) <= DRIVER_WINDOW, (
        f"{len(ACTIVE_WINDOW)} pinned queries exceed the "
        f"{DRIVER_WINDOW}-slot window — delegate SQL-shape variants"
    )


def test_active_window_is_exactly_the_gated_set():
    gated = {n for n, q in QUERIES.items() if q.gated}
    assert gated == set(ACTIVE_WINDOW)


def test_delegation_twins_are_driver_proven_or_scheduled():
    recorded = _recorded_green()
    for name, (twin, why) in DELEGATED.items():
        assert twin in QUERIES, f"{name}: twin {twin} not registered"
        assert twin in recorded or twin in ACTIVE_WINDOW, (
            f"{name}: twin {twin} is neither driver-recorded green nor "
            "pinned in the active window — a delegation must point at "
            "hard signal"
        )
        assert why.strip(), name


def test_every_operator_module_is_gated_or_benched():
    # an operator module nobody grades or times is deleted, not kept:
    # each module under queries/ and streaming/ must register at least
    # one gated or bench=True entry (the registry plumbing and the
    # window module register nothing by design)
    exempt = {"__init__", "registry", "rotation"}
    modules = {
        f"sparkroach.{pkg}.{os.path.basename(p)[:-3]}"
        for pkg in ("queries", "streaming")
        for p in glob.glob(os.path.join(REPO, "sparkroach", pkg, "*.py"))
        if os.path.basename(p)[:-3] not in exempt
    }
    earning = {q.fn.__module__ for q in QUERIES.values() if q.gated or q.bench}
    assert modules - earning == set()
