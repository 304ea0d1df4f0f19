"""Crash matrix: stop one ingest batch at every commit point, replay it,
and require the exact no-crash outcome.

A batch commits up to ten manifests: three fact appends, six state merges
(submitted concurrently, so they commit in no fixed order) and the
metastate swap that advances the round gate.  Each commit has two points a
crash can hit (``ChainStore.fault_hook``): before anything is published,
and after the snapshot manifest is written but before the live manifest
swap.  For every k-th commit and both points the batch is run with a crash
injected there, then replayed on a fresh ``ChainDB`` over the same
directory (a restart), and the table contents, ``next_round`` and every
table's ``snapshot_versions`` must equal the run without a crash.

The crash batch touches all nine tables plus metastate; it writes a delta
in some state planes and folds the delta into the bases in others, so both
commit shapes of a merge-on-read plane sit in the matrix.  The reference's
exactly-once envelope is the serializable transaction around AddBlock
(cockroach.go:122-210) with the facts-ahead invariant (:189-199).
"""

from __future__ import annotations

import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
from functools import reduce

import pytest
from pyspark.sql import functions as F

from sparkroach.chain.ingest import ChainDB
from sparkroach.chain.schemas import TABLE_SCHEMAS
from sparkroach.chain.store import Manifest
from tests import chain_fixtures as fx

N_BUCKETS = 4
#: manifests one crash batch commits: 3 fact appends, 6 state merges and
#: the metastate swap
N_COMMITS = 10
STATE_PLANES = ("account", "account_asset", "asset", "app", "account_app", "app_box")

GENESIS = [{"addr": bytes([0x40 + i]) * 32, "microalgos": 10**6 + i} for i in range(10)]
PARAMS = {"total": Decimal(1000), "decimals": 0, "unit_name": b"C", "manager": fx.ADDR_A}


def _prefix() -> list[dict]:
    """One batch after genesis: it gives every small state plane a base
    (a plane's first merge folds) and leaves a 3-row delta over the
    10-account genesis base, so the crash batch folds the account plane
    (3 >= 10 / FOLD_RATIO) and only writes deltas in the others."""
    return [
        fx.make_block(0),
        fx.make_block(
            1,
            payset=[fx.pay_txn("P1")],
            accts=[fx.acct_delta(fx.ADDR_A, 10**9), fx.acct_delta(fx.ADDR_B, 500)],
            asset_resources=[
                fx.asset_resource(5, fx.ADDR_A, params=PARAMS,
                                  holding={"amount": Decimal(1000), "frozen": False}),
            ],
            app_resources=[
                fx.app_resource(9, fx.ADDR_A, params={"approv": b"\x01"},
                                local_state={"schema": {"num_uint": 1}}),
            ],
            kv_mods=[(fx.box_key(9, b"k1"), b"v1"), (fx.box_key(9, b"k2"), b"v2")],
        ),
        fx.make_block(
            2,
            payset=[fx.pay_txn("P2", rcv=fx.ADDR_C)],
            accts=[fx.acct_delta(fx.ADDR_A, 10**9 - 7), fx.acct_delta(fx.ADDR_C, 7)],
            asset_resources=[
                fx.asset_resource(6, fx.ADDR_B, params=PARAMS),
                fx.asset_resource(5, fx.ADDR_B,
                                  holding={"amount": Decimal(3), "frozen": True}),
            ],
            app_resources=[
                fx.app_resource(10, fx.ADDR_B, params={"approv": b"\x03"}),
                fx.app_resource(9, fx.ADDR_B, local_state={"schema": {"num_uint": 2}}),
            ],
            kv_mods=[(fx.box_key(9, b"k3"), b"v3")],
        ),
    ]


def _crash_batch() -> list[dict]:
    return [
        fx.make_block(
            3,
            payset=[fx.pay_txn("C3", amt=11), fx.axfer_txn("C3X", 5, 1)],
            accts=[fx.acct_delta(fx.ADDR_A, 10**9 - 18), fx.acct_delta(fx.ADDR_D, 11)],
            asset_resources=[
                fx.asset_resource(5, fx.ADDR_A, params=PARAMS,
                                  holding={"amount": Decimal(999), "frozen": False}),
                fx.asset_resource(6, fx.ADDR_B, params_deleted=True),
            ],
            app_resources=[
                fx.app_resource(9, fx.ADDR_A, params={"approv": b"\x02"}),
                fx.app_resource(9, fx.ADDR_B, state_deleted=True),
            ],
            kv_mods=[(fx.box_key(9, b"k1"), b"v1b"), (fx.box_key(9, b"k2"), None)],
        ),
        fx.make_block(
            4,
            payset=[fx.pay_txn("C4", snd=fx.ADDR_B, rcv=fx.ADDR_D, amt=5)],
            accts=[fx.acct_delta(fx.ADDR_B, 495), fx.acct_delta(fx.ADDR_D, 16)],
            asset_resources=[
                fx.asset_resource(5, fx.ADDR_D,
                                  holding={"amount": Decimal(1), "frozen": False}),
            ],
            app_resources=[
                fx.app_resource(11, fx.ADDR_D, params={"approv": b"\x04"},
                                local_state={"schema": {"num_uint": 3}}),
            ],
            kv_mods=[(fx.box_key(11, b"k4"), b"v4"), (fx.box_key(9, b"k3"), None)],
        ),
    ]


def _outcome(db: ChainDB) -> dict:
    """Every table's rows (as JSON, in one Spark job), the round gate and
    the retained snapshot versions."""
    tables = [
        db.store.read(t).select(
            F.lit(t).alias("t"), F.to_json(F.struct("*")).alias("row")
        )
        for t in TABLE_SCHEMAS
    ]
    rows: dict[str, list[str]] = {t: [] for t in TABLE_SCHEMAS}
    for r in reduce(lambda a, b: a.unionByName(b), tables).collect():
        rows[r["t"]].append(r["row"])
    return {
        "rows": {t: sorted(v) for t, v in rows.items()},
        "next_round": db.next_round(),
        "snapshots": {t: db.store.snapshot_versions(t) for t in TABLE_SCHEMAS},
    }


class CrashAt:
    """Fault hook: raise at the k-th commit, at ``point``."""

    def __init__(self, k: int, point: str):
        self.k, self.point = k, point
        self.commits = 0
        self.table: str | None = None
        self._lock = threading.Lock()

    def __call__(self, table: str, point: str) -> None:
        with self._lock:
            if point == "commit":
                self.commits += 1
                if self.commits == self.k:
                    self.table = table
            if table == self.table and point == self.point:
                self.table = None
                raise RuntimeError(f"injected crash at {table}:{point}")


@pytest.fixture(scope="module", autouse=True)
def _small_shuffles(spark):
    """The matrix moves a few rows per table: two shuffle partitions keep
    its hundreds of tiny Spark jobs from scheduling mostly empty tasks."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture(scope="module")
def prefix_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("crash_prefix") / "prefix")
    db = ChainDB(spark, d, n_buckets=N_BUCKETS)
    db.load_genesis(GENESIS, genesis_hash=fx.GENESIS_HASH)
    db.add_blocks(fx.blocks_df(spark, _prefix()))
    return d


def _control(spark, prefix_dir: str, d: str) -> dict:
    """The crash batch without a crash: its outcome, its commit count and
    which planes it folded or only wrote a delta in."""
    shutil.copytree(prefix_dir, d)
    db = ChainDB(spark, d, n_buckets=N_BUCKETS)
    before = {t: Manifest.load(db.store._manifest_path(t)) for t in STATE_PLANES}
    counter = CrashAt(0, "never")
    db.store.fault_hook = counter
    applied = db.add_blocks(fx.blocks_df(spark, _crash_batch()))
    after = {t: Manifest.load(db.store._manifest_path(t)) for t in STATE_PLANES}
    return {
        "applied": applied,
        "commits": counter.commits,
        "folded": [t for t in STATE_PLANES
                   if before[t].delta is not None and after[t].delta is None],
        "delta_only": [t for t in STATE_PLANES
                       if after[t].delta is not None
                       and after[t].buckets == before[t].buckets],
        "outcome": _outcome(db),
    }


def _crash_and_replay(spark, prefix_dir: str, d: str, k: int, point: str) -> dict:
    shutil.copytree(prefix_dir, d)
    db = ChainDB(spark, d, n_buckets=N_BUCKETS)
    db.store.fault_hook = CrashAt(k, point)
    try:
        db.add_blocks(fx.blocks_df(spark, _crash_batch()))
        return {"error": "the batch committed without a crash"}
    except RuntimeError as e:
        if "injected crash" not in str(e):
            raise
    gate = db.next_round()
    restarted = ChainDB(spark, d, n_buckets=N_BUCKETS)  # a fresh process
    applied = restarted.add_blocks(fx.blocks_df(spark, _crash_batch()))
    return {"gate": gate, "applied": applied, "outcome": _outcome(restarted)}


CASES = [(k, point) for k in range(1, N_COMMITS + 1) for point in ("commit", "snapshot")]


@pytest.fixture(scope="module")
def runs(spark, prefix_dir, tmp_path_factory):
    """The control run and every case of the matrix, eight at a time on
    the shared session: the stores are independent, and the tiny Spark
    jobs of one batch cannot keep four cores busy, so running them side by
    side keeps the matrix inside the default tier's time budget.  Each
    test below checks one result."""
    root = tmp_path_factory.mktemp("crash_matrix")

    def run(case):
        try:
            if case == "control":
                return _control(spark, prefix_dir, str(root / "control"))
            k, point = case
            return _crash_and_replay(spark, prefix_dir, str(root / f"{k}-{point}"), k, point)
        except Exception as e:  # reported by that case's test
            return {"error": repr(e)}

    cases = ["control", *CASES]
    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(zip(cases, pool.map(run, cases)))


def test_crash_batch_commits_every_table_and_both_merge_shapes(runs):
    control = runs["control"]
    assert "error" not in control, control["error"]
    assert control["applied"] == 2 and control["commits"] == N_COMMITS
    assert control["outcome"]["next_round"] == 5
    # the batch folds some planes and only writes a delta in others
    assert control["folded"] and control["delta_only"], control
    assert all(control["outcome"]["rows"][t] for t in TABLE_SCHEMAS)


@pytest.mark.parametrize("k,point", CASES)
def test_replay_after_crash_equals_no_crash_run(runs, k, point):
    got = runs[(k, point)]
    assert "error" not in got, got["error"]
    assert got["gate"] == 3  # the round gate never moved
    assert got["applied"] == 2
    assert got["outcome"] == runs["control"]["outcome"]
