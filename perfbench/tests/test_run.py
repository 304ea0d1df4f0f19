"""Self-tests of the benchmark: the feed and its reference fold, the
generated query tables, the exit path when the engine is absent, and tiny
end-to-end runs of every workload that must emit every metric named in
BENCHMARK.json with its unit and fail no operation.

    python3 -m pytest perfbench/tests -q

The end-to-end runs start a Spark session each and take several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import analytic  # noqa: E402
import feed  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]

SEED = 1
HELD_OUT_SEED = 20261016  # never used while tuning the benchmark


def _run(cwd: str, workload: str, seed: int, trace: int, tiny: bool = True):
    cmd = BENCHMARK["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace),
    ] + (["--tiny"] if tiny else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_feed_is_a_function_of_the_seed():
    a, b, c = (feed.make_feed(feed.TINY, s) for s in (SEED, SEED, SEED + 1))
    render = lambda fd: [feed.render(x) for x in fd.blocks]  # noqa: E731
    assert render(a) == render(b)
    assert render(a) != render(c)
    assert a.batches[0][0] == 0
    assert [r for batch in a.batches for r in batch] == list(range(len(a.blocks)))


def test_reference_fold_of_the_feed():
    fd = feed.make_feed(feed.TINY, SEED)
    ref = feed.Reference(fd.genesis)
    for b in fd.blocks:
        ref.apply(b)
    counts = ref.table_counts()
    assert counts["block_header"] == len(fd.blocks)
    assert counts["txn"] > sum(len(b["payset"]) for b in fd.blocks)  # inner rows
    assert min(counts[t] for t in ("account_asset", "asset", "app", "account_app")) > 0
    assert ref.next_round == len(fd.blocks)
    for t, args in feed.read_plan(ref, SEED, 3 * len(feed.READ_TYPES)):
        getattr(ref, t)(*args)  # every planned read has an expected answer
    txid, (r, i) = next(iter(ref.by_txid.items()))
    assert (i, txid) in ref.block(r)


def test_query_tables_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    for name, seed in (("a", SEED), ("b", SEED), ("c", SEED + 1)):
        analytic.write_tables(str(tmp_path / name), analytic.WARM, seed)
    read = lambda d, t: pq.read_table(tmp_path / d / f"{t}.parquet")  # noqa: E731
    for t in ("lineitem", "documents", "embeddings"):
        assert read("a", t).equals(read("b", t))
        assert not read("a", t).equals(read("c", t))
    assert read("a", "lineitem").num_rows == analytic.WARM.lineitem


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCHMARK["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(str(tmp_path), WORKLOADS[0], SEED, 0, tiny=False)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


def _check(res, names: dict[str, str]):
    assert res.returncode == 0, res.stderr[-3000:]
    info = json.loads(res.stdout.strip().splitlines()[-2])["info"]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True, res.stdout
    assert out["attempted"] >= 1 and out["failed"] == 0
    assert info["failed_share"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace):
    key = "per_layer" if trace else "end_to_end"
    names = {m["name"]: m["unit"] for m in BENCHMARK[key]}
    out = _check(_run(ROOT, workload, SEED, trace), names)
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_on_held_out_seed(workload):
    names = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    _check(_run(ROOT, workload, HELD_OUT_SEED, 0), names)
