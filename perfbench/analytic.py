"""The ``analytic_queries`` workload: the registry's benched queries
(``bench=True``) over seeded tables.

The queries read a TPC-H-like star schema plus an event stream, a document
corpus and an embedding set (``sparkroach.tables.TABLES``).
:func:`write_tables` writes them as one parquet file each, with the column
types and value distributions of the repository's reference test data:
``FULL`` has a quarter of the row counts of its sf0.1 set, ``WARM`` those
of its sf0.001 set with 100 embeddings.  Every value comes from the seed.

1. Set-up: table generation, session start, and one warm-up pass of every
   query over the ``WARM`` tables, several queries at a time.  Meanwhile a
   background thread computes each query's DuckDB oracle answer.
2. Write phase: ``sparkroach.tables.prepare_layout`` over the ``FULL``
   tables, the one-time layout build every consumer of those tables pays.
3. Query phase: passes over the benched queries, one query at a time, each
   a ``collect()``, at least one pass and until ``--seconds`` have passed.

Every measured result is compared with the query's oracle answer over the
same tables, canonicalized as ``sparkroach.oracle`` does.  The oracle of
``dedup_embedding_cosine`` takes DuckDB about 40 CPU-seconds per thousand
vectors, so that query alone is checked on its warm-up result over the
``WARM`` tables instead.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from base import Workload, files, log, median


@dataclass(frozen=True)
class Scale:
    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    documents: int
    embeddings: int


FULL = Scale(3_750, 250, 5_000, 37_500, 150_000, 25_000, 1_250, 500)
WARM = Scale(150, 10, 200, 1_500, 6_000, 1_000, 500, 100)
WARM_CHECKED = ("dedup_embedding_cosine",)  # checked on the WARM tables

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("large", "small", "hot", "cold", "steel", "brass", "bolt", "ring", "nut", "gear")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
EMBED_DIM = 64
DAY_US = 86_400 * 10**6


def _ts(day0: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(s: Scale, rng: np.random.Generator) -> dict[str, pa.Table]:
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(s.customer), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customer), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customer),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, s.customer)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(s.supplier), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier),
        }),
    }
    words = np.array(PART_WORDS)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(s.part), i64),
        "p_name": np.char.add(np.char.add(words[rng.integers(0, 10, s.part)], " "),
                              words[rng.integers(0, 10, s.part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, s.part)],
        "p_size": pa.array(rng.integers(1, 51, s.part), i32),
        "p_retailprice": np.round(900 + (np.arange(s.part) % 1000) / 10, 2),
    })
    # order dates 1995-01-01 .. 2001-08-01, ship dates 1995-01-02 .. 2001-11-04
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders), i64),
        "o_custkey": pa.array(rng.integers(0, s.customer, s.orders), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
        "o_totalprice": _money(rng, 1000, 500_000, s.orders),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, s.orders)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, s.orders)],
    })
    n = s.lineitem
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, n), i64),
        "l_partkey": pa.array(rng.integers(0, s.part, n), i64),
        "l_suppkey": pa.array(rng.integers(0, s.supplier, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n)),
    })
    # 30 days of events in event_id order
    n = s.events
    offs = np.sort(rng.integers(0, 30 * DAY_US, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64) + offs,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    out["documents"] = _documents(s.documents, rng)
    vec = rng.standard_normal((s.embeddings, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(s.embeddings), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.embeddings), i32),
    })
    return out


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """10-100 words each; about 5% are an earlier document plus " dup"
    (near duplicates) and a few are exact copies of an earlier one."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(dest: str, scale: Scale, seed: int) -> None:
    """One ``<table>.parquet`` per table under ``dest``, one row group each."""
    os.makedirs(dest, exist_ok=True)
    for name, table in _tables(scale, np.random.default_rng(seed)).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


def _bench_queries() -> dict:
    from sparkroach.queries import QUERIES

    return {n: q for n, q in QUERIES.items() if q.bench}


def per_layer_units() -> dict[str, str]:
    return {f"analytic.{n}_s": "s" for n in _bench_queries()}


def _mismatch(cols: list[str], rows: list, answer: tuple[list[str], list]) -> str | None:
    """Why a Spark result differs from the oracle answer, or None."""
    from sparkroach.oracle import _canon

    o_cols, o_rows = answer
    if sorted(cols) != sorted(o_cols):
        return f"columns {sorted(cols)}, oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"{len(rows)} rows, oracle {len(o_rows)}"
    if _canon([tuple(r) for r in rows], cols) != _canon(o_rows, o_cols):
        return "values differ from the oracle"
    return None


class AnalyticRun(Workload):
    def __init__(self, args):
        super().__init__(args)
        self.queries = _bench_queries()
        self.times: dict[str, list[float]] = {n: [] for n in self.queries}
        self.results: dict[str, tuple[list[str], list]] = {}
        self.answers: dict[str, tuple[list[str], list]] = {}
        self.ops: list[dict] = []
        self.passes: list[float] = []

    def _oracle_answers(self) -> None:
        import duckdb

        from sparkroach.tables import TABLES

        for d, names in (
            (self.full, [n for n in self.queries if n not in WARM_CHECKED]),
            (self.warm, [n for n in self.queries if n in WARM_CHECKED]),
        ):
            con = duckdb.connect(config={"threads": 1})
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
            for n in names:
                rel = con.sql(self.queries[n].oracle)
                self.answers[n] = (list(rel.columns), rel.fetchall())
            con.close()

    def setup(self) -> None:
        a = self.args
        # the layout cache is keyed by the tables' directory name, so each
        # run gets names of its own and builds its layout afresh
        tag = f"perfbench-{os.getpid()}"
        self.full = os.path.join(self.dir, f"{tag}-full")
        self.warm = os.path.join(self.dir, f"{tag}-warm")
        write_tables(self.full, WARM if a.tiny else FULL, a.seed)
        write_tables(self.warm, WARM, a.seed + 1)
        self.oracle = threading.Thread(target=self._oracle_answers)
        self.oracle.start()
        log("tables written")

        self.start_session()
        cores = len(os.sched_getaffinity(0))

        def warm(name):
            df = self.queries[name].fn(self.spark, self.warm)
            return df.columns, df.collect()

        with ThreadPoolExecutor(cores) as pool:
            done = dict(zip(self.queries, pool.map(warm, self.queries)))
        for n in WARM_CHECKED:
            self.results[n] = done[n]
        log("warm-up pass done")
        self.sentinel()

    def _write_phase(self) -> None:
        from sparkroach.tables import _CACHE_ROOT, _LAYOUT, prepare_layout

        t = time.perf_counter()
        prepare_layout(self.spark, self.full)
        self.write_s = time.perf_counter() - t
        layout = os.path.join(_CACHE_ROOT, os.path.basename(self.full))
        raw = sum(os.path.getsize(os.path.join(self.full, f"{n}.parquet")) for n in _LAYOUT)
        self.write_amp = sum(files(layout).values()) / raw
        log(f"layout built in {self.write_s:.2f}s")

    def _query(self, name: str, first: bool) -> None:
        op = {"query": name, "ok": False}
        self.ops.append(op)
        self.attempted += 1
        if self.trace:
            self.begin_op(f"{name}#{len(self.times[name])}", "query")
        try:
            t = time.perf_counter()
            df = self.queries[name].fn(self.spark, self.full)
            rows = df.collect()
            op["latency_s"] = time.perf_counter() - t
        except Exception as e:  # a failed query is counted, not fatal
            self.fail(f"{name}: {e!r}")
            return
        finally:
            if self.trace:
                op["counts"] = self.end_op()
        op["ok"] = True
        self.times[name].append(op["latency_s"])
        if first and name not in WARM_CHECKED:
            self.results[name] = (df.columns, rows)

    def _query_phase(self) -> None:
        spent = 0.0
        while not self.passes or spent < self.args.seconds:
            t = time.perf_counter()
            for name in self.queries:
                self._query(name, first=not self.passes)
            self.passes.append(time.perf_counter() - t)
            spent += self.passes[-1]
        log(f"{len(self.passes)} passes in {spent:.2f}s")

    def measure(self) -> None:
        self.settle()
        self._write_phase()
        self.sentinel()
        self.settle()
        self._query_phase()
        self.sentinel()

    def check(self) -> None:
        self.oracle.join()
        for name in self.queries:
            if name not in self.results:
                continue  # the query failed and is counted already
            if name not in self.answers:
                self.fail(f"{name}: no oracle answer")
                continue
            why = _mismatch(*self.results[name], self.answers[name])
            if why is not None:
                self.fail(f"{name}: {why}")

    def end_to_end(self) -> dict[str, float]:
        per_query = {n: median(ts) for n, ts in self.times.items()}
        self.info.update({"passes": len(self.passes), "query_s": per_query})
        return {
            "write_s": self.write_s,
            "queries_total_s": sum(per_query.values()),
            "write_amp": self.write_amp,
        }

    def per_layer(self) -> dict[str, float]:
        v = {f"analytic.{n}_s": median(ts) for n, ts in self.times.items()}
        ok = [o for o in self.ops if o["ok"]]
        v.update(self.common_per_layer([o["counts"] for o in ok],
                                       sum(o["latency_s"] for o in ok)))
        return v

    def trace_ops(self) -> list[dict]:
        return self.ops

    def stop(self) -> None:
        oracle = getattr(self, "oracle", None)
        if oracle is not None:
            oracle.join()
        super().stop()
        from sparkroach.tables import _CACHE_ROOT

        for d in (getattr(self, "full", None), getattr(self, "warm", None)):
            if d is not None:
                shutil.rmtree(os.path.join(_CACHE_ROOT, os.path.basename(d)),
                              ignore_errors=True)
