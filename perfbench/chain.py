"""The ``ingest_mixed`` workload: streamed ingest into a chain store, then
Indexer reads of that store.

1. Set-up: session start, seeded feed generation (``feed.py``),
   ``ChainDB.load_genesis``, the streaming query
   ``ChainDB.stream_ingest(blocks_from_dir(...), available_now=False)``, one
   warm-up batch and one warm-up read of each type.
2. Write phase: the feed's fixed number of batches.  A batch is released by
   renaming its pre-rendered ``block_<N>.json`` files into the watched feed
   directory, highest round first, so the source's gap-aware offsets deliver
   it as exactly one micro-batch.  Its latency runs from release until
   ``ChainDB.next_round()`` passes its last round.
3. Query phase: whole cycles of the seven read types, each ``compile(db)``
   then ``collect()``, at least three cycles and until ``--seconds`` of read
   time have passed.

Every batch and every read is checked against the Spark-free reference fold
in ``feed.py``; after the run the tables' row counts, an account balance and
lineage checksum and ``next_round`` are checked too.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from datetime import datetime
from functools import reduce

import feed as feedmod
from base import Workload, files, log, median
from probe import self_times

BATCH_TIMEOUT_S = 90.0
MIN_READ_CYCLES = 3
STATE_TABLES = ("account", "account_asset", "asset", "app", "account_app", "app_box")
FACT_TABLES = ("block_header", "txn", "txn_participation")
QUERY_METRICS = {
    "compile_ms": "ms", "execute_ms": "ms", "jobs": "count",
    "files_scanned": "count", "rows": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "stream.trigger_ms": "ms",
        "stream.add_batch_ms": "ms",
        "stream.overhead_ms": "ms",
        "stream.wal_commit_ms": "ms",
        "stream.commit_offsets_ms": "ms",
        "stream.release_to_trigger_ms": "ms",
        "source.read_s": "s",
        "source.tasks": "count",
        "ingest.add_blocks_s": "s",
        "ingest.gate_s": "s",
        "ingest.fanout_s": "s",
        "ingest.jobs": "count",
        "ingest.stages": "count",
        "ingest.tasks": "count",
        "ingest.shuffle_bytes": "bytes",
        "transforms.plan_ms": "ms",
    }
    units.update({f"store.append_s.{t}": "s" for t in FACT_TABLES})
    units.update({f"store.merge_s.{t}": "s" for t in STATE_TABLES})
    units["store.metastate_ms"] = "ms"
    units.update({f"store.buckets_rewritten.{t}": "count" for t in STATE_TABLES})
    units.update({
        "store.bytes_written": "bytes",
        "store.files_written": "count",
        "store.write_amp": "ratio",
        "store.fact_files": "count",
    })
    for t in feedmod.READ_TYPES:
        units.update({f"query.{t}.{m}": u for m, u in QUERY_METRICS.items()})
    units.update({
        "self_ms.chain.ingest": "ms",
        "self_ms.chain.transforms": "ms",
        "self_ms.chain.store": "ms",
        "self_ms.chain.query": "ms",
    })
    return units


class ProgressLog:
    """Structured Streaming progress events, keyed by the end offset round."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self
        self.by_end: dict[int, object] = {}
        self._cv = threading.Condition()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if not p.sources or p.numInputRows <= 0:
                    return
                end = json.loads(p.sources[0].endOffset)["round"]
                with progress._cv:
                    progress.by_end[end] = p
                    progress._cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def wait(self, end: int, timeout: float):
        with self._cv:
            self._cv.wait_for(lambda: end in self.by_end, timeout)
            return self.by_end.get(end)


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least 10 values
    beyond it.  Below 40 values that percentile is under the 75th and no
    tail, so the maximum (percentile 100) stands in."""
    xs = sorted(xs)
    if len(xs) < 40:
        return 100.0, xs[-1]
    k = len(xs) - 11  # 10 values lie above index k
    return 100.0 * (k + 1) / len(xs), xs[k]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class ChainRun(Workload):
    def __init__(self, args):
        super().__init__(args)
        self.batches: list[dict] = []
        self.reads: list[dict] = []

    # -- setup ----------------------------------------------------------------

    def setup(self) -> None:
        from sparkroach.chain.ingest import ChainDB
        from sparkroach.sources import block_source

        a = self.args
        self.stage, self.feed_dir, self.probe_dir = (
            os.path.join(self.dir, d) for d in ("stage", "feed", "probe")
        )
        for d in (self.stage, self.feed_dir, self.probe_dir):
            os.makedirs(d)
        self.start_session()

        self.feed = feedmod.make_feed(feedmod.TINY if a.tiny else feedmod.MIXED, a.seed)
        self.lines = {}
        for k, batch in enumerate(self.feed.batches):
            for r in batch:
                line = feedmod.render(self.feed.blocks[r]) + "\n"
                self.lines[r] = line
                with open(os.path.join(self.stage, f"block_{r}.json"), "w") as f:
                    f.write(line)
                if self.trace and k == 1:
                    with open(os.path.join(self.probe_dir, f"block_{r}.json"), "w") as f:
                        f.write(line)

        self.store_dir = os.path.join(self.dir, "store")
        self.db = ChainDB(self.spark, self.store_dir)
        self.db.load_genesis(self.feed.genesis, feedmod.GENESIS_HASH, network="perfbench")
        self.ref = feedmod.Reference(self.feed.genesis)
        log(f"feed written, genesis loaded ({len(self.feed.genesis)} accounts)")

        self.progress = ProgressLog()
        self.spark.streams.addListener(self.progress.listener)
        self.query = self.db.stream_ingest(
            block_source.blocks_from_dir(self.spark, self.feed_dir, streaming=True),
            os.path.join(self.dir, "checkpoint"),
            available_now=False,
        )
        warm = self._batch(0, traced=False)
        if not warm["ok"]:
            raise RuntimeError(f"warm-up batch failed: {warm.get('error')}")
        log(f"warm-up batch in {warm['latency_s']:.2f}s")
        for t, args in feedmod.read_plan(self.ref, a.seed + 1, len(feedmod.READ_TYPES)):
            rec = self._read(t, args)
            if not rec["ok"]:
                raise RuntimeError(f"warm-up read failed: {rec['error']}")
        self.sentinel()

    # -- write phase: ingest --------------------------------------------------

    def _batch(self, k: int, traced: bool) -> dict:
        rounds = self.feed.batches[k]
        end = rounds[-1] + 1
        rec = {"batch": k, "blocks": len(rounds), "traced": traced, "ok": False}
        if traced:
            before_files = files(self.store_dir)
            before_buckets = self._buckets()
            self.begin_op(f"batch{k}", "batch")
        release_wall = time.time()
        t0 = time.perf_counter()
        for r in reversed(rounds):
            os.rename(os.path.join(self.stage, f"block_{r}.json"),
                      os.path.join(self.feed_dir, f"block_{r}.json"))
        # next_round() lives in the metastate table; re-read it only when
        # its manifest changes, so polling steals little of the driver
        # process's interpreter from the ingest callback running in it
        manifest = os.path.join(self.store_dir, "metastate", "manifest.json")
        seen, nxt, polls = None, None, 0
        while True:
            st = os.stat(manifest)
            if (st.st_ino, st.st_mtime_ns) != seen:
                seen = (st.st_ino, st.st_mtime_ns)
                nxt = self.db.next_round()
                if nxt is not None and nxt >= end:
                    break
            polls += 1
            if polls % 100 == 0 and (
                self.query.exception() is not None
                or time.perf_counter() - t0 > BATCH_TIMEOUT_S
            ):
                break
            time.sleep(0.01)
        rec["latency_s"] = time.perf_counter() - t0
        if traced:
            rec["counts"] = self.end_op()
        if nxt != end:
            rec["error"] = f"next_round {nxt}, expected {end}: {self.query.exception()}"
            return rec
        rec["progress"] = self.progress.wait(end, timeout=30.0)
        rec["release_wall"] = release_wall
        for r in rounds:
            self.ref.apply(self.feed.blocks[r])
        rec["ok"] = True
        if traced:
            rec.update(self._batch_trace(k, before_files, before_buckets))
        return rec

    def _buckets(self) -> dict[str, dict]:
        from sparkroach.chain.store import Manifest

        return {
            t: Manifest.load(os.path.join(self.store_dir, t, "manifest.json")).buckets
            for t in STATE_TABLES
        }

    def _batch_trace(self, k: int, before_files, before_buckets) -> dict:
        from sparkroach.sources import block_source

        spans = self.tracer.op_spans(f"batch{k}")
        out = {"spans": spans, "self": self_times(spans)}
        new = {p: s for p, s in files(self.store_dir).items() if p not in before_files}
        out["bytes_written"] = sum(new.values())
        out["files_written"] = len(new)
        json_bytes = sum(len(self.lines[r]) for r in self.feed.batches[k])
        out["write_amp"] = out["bytes_written"] / json_bytes
        now = self._buckets()
        out["buckets"] = {
            t: sum(1 for b in set(now[t]) | set(before_buckets[t])
                   if now[t].get(b) != before_buckets[t].get(b))
            for t in STATE_TABLES
        }
        if k != 1:
            return out
        # the source on its own: a standalone batch read of the first
        # measured batch's files
        self.counters.begin()
        t = time.perf_counter()
        block_source.blocks_from_dir(self.spark, self.probe_dir, streaming=False).count()
        out["source_read_s"] = time.perf_counter() - t
        out["source_tasks"] = self.counters.end()["tasks"]
        return out

    def _write_phase(self) -> None:
        before = files(self.store_dir)
        for k in range(1, len(self.feed.batches)):
            rec = self._batch(k, traced=self.trace)
            log(f"batch {k}: {rec.get('latency_s', 0):.2f}s ok={rec['ok']}")
            self.batches.append(rec)
            self.attempted += 1
            if not rec["ok"]:
                self.fail(rec["error"])
                # the store is behind the feed now: every later batch fails
                rest = len(self.feed.batches) - k - 1
                self.attempted += rest
                self.failed += rest
                break
        after = files(self.store_dir)
        json_bytes = sum(len(self.lines[r]) for b in self.feed.batches[1:] for r in b)
        self.write_amp = sum(s for p, s in after.items() if p not in before) / json_bytes
        self.store_bytes = sum(after.values())
        self.fact_files = self._fact_files()

    def _fact_files(self) -> int:
        from sparkroach.chain.store import Manifest

        return sum(
            len(Manifest.load(os.path.join(self.store_dir, t, "manifest.json")).files)
            for t in FACT_TABLES
        )

    # -- query phase: Indexer reads --------------------------------------------

    def _compile(self, t: str, args: tuple):
        from sparkroach.chain import query as Q

        if t == "block":
            q = Q.GetBlockOptions(round=args[0], transactions=True)
        elif t == "txn_by_address":
            q = Q.TransactionFilter(address=args[0])
        elif t == "txn_by_round_range":
            q = Q.TransactionFilter(min_round=args[0], max_round=args[1])
        elif t == "txn_by_txid":
            q = Q.TransactionFilter(txid=args[0])
        elif t == "account_point":
            q = Q.AccountQueryOptions(equal_to_address=args[0], include_asset_holdings=True)
        elif t == "asset_balances":
            q = Q.AssetBalanceQuery(asset_id=args[0])
        else:
            q = Q.ApplicationBoxQuery(application_id=args[0])
        return q.compile(self.db)

    @staticmethod
    def _answer(t: str, rows) -> list:
        if t == "block":
            return sorted(((r["intra"], r["txid"]) for r in rows),
                          key=lambda x: (x[0] is None, x[0] or 0))
        if t == "txn_by_address":
            return sorted((r["round"], r["intra"]) for r in rows)
        if t in ("txn_by_round_range", "txn_by_txid"):
            return [(r["round"], r["intra"]) for r in rows]
        if t == "account_point":
            return [
                (int(r["microalgos"]),
                 sorted((s["assetid"], int(s["amount"])) for s in (r["assets"] or [])))
                for r in rows
            ]
        if t == "asset_balances":
            return sorted((bytes(r["addr"]), int(r["amount"])) for r in rows)
        return sorted((bytes(r["name"]), bytes(r["value"])) for r in rows)

    def _read(self, t: str, args: tuple, traced: bool = False, i: int = 0) -> dict:
        rec = {"type": t, "traced": traced, "ok": False}
        if traced:
            self.begin_op(f"read{i}", "read")
        try:
            t0 = time.perf_counter()
            df = self._compile(t, args)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # a failed read is counted, not fatal
            rec["error"] = f"{t}{args}: {e!r}"
            return rec
        finally:
            if traced:
                rec["counts"] = self.end_op()
        rec.update(compile_s=t1 - t0, execute_s=t2 - t1, latency_s=t2 - t0)
        got, want = self._answer(t, rows), getattr(self.ref, t)(*args)
        rec["ok"] = got == want
        if not rec["ok"]:
            rec["error"] = f"{t}{args}: wrong answer {got[:3]}, expected {want[:3]}"
        if traced:
            rec["self"] = self_times(self.tracer.op_spans(f"read{i}"))
            rec["files_scanned"] = len(df.inputFiles())
            rec["rows"] = len(rows)
        return rec

    def _query_phase(self) -> None:
        cycle = len(feedmod.READ_TYPES)
        plan = feedmod.read_plan(self.ref, self.args.seed, 1000 * cycle)
        spent = 0.0
        for i, (t, args) in enumerate(plan):
            # whole cycles of the seven types, so every run reads the same mix
            if i % cycle == 0 and i >= MIN_READ_CYCLES * cycle and spent >= self.args.seconds:
                break
            rec = self._read(t, args, traced=self.trace, i=i)
            self.reads.append(rec)
            self.attempted += 1
            if not rec["ok"]:
                self.fail(rec["error"])
            spent += rec.get("latency_s", 0.0)
        self.read_cycles = len(self.reads) // cycle
        log(f"{len(self.reads)} reads in {spent:.2f}s")

    def measure(self) -> None:
        self.settle()
        self._write_phase()
        self.sentinel()
        self.settle()
        self._query_phase()
        self.sentinel()

    # -- final check ----------------------------------------------------------

    def check(self) -> None:
        """Final check of the whole store.  A mismatch here cannot be pinned
        on one batch, so it fails every batch that looked applied."""
        from pyspark.sql import functions as F

        before = len(self.problems)
        tables = [self.db.store.read(t).select(F.lit(t).alias("t"))
                  for t in FACT_TABLES + STATE_TABLES]
        rows = reduce(lambda a, b: a.unionByName(b), tables).groupBy("t").count().collect()
        counts = {t: 0 for t in FACT_TABLES + STATE_TABLES}
        counts.update({r["t"]: r["count"] for r in rows})
        want = self.ref.table_counts()
        if counts != want:
            self.problems.append(f"table rows {counts}, expected {want}")

        def text(c):
            return F.coalesce(F.col(c).cast("string"), F.lit("null"))

        line = F.concat_ws("|", F.hex("addr"), *map(text, (
            "microalgos", "deleted", "created_at", "closed_at")))
        got = self.db.store.read("account").select(
            F.sum(F.crc32(line)).alias("s")).collect()[0]["s"]
        if got != self.ref.account_checksum():
            self.problems.append("account balance/lineage checksum differs")
        if self.db.next_round() != self.ref.next_round:
            self.problems.append(
                f"next_round {self.db.next_round()}, expected {self.ref.next_round}"
            )
        if len(self.problems) > before:
            self.failed += sum(1 for b in self.batches if b["ok"])

    # -- metrics --------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        ok = [b for b in self.batches if b["ok"]]
        lat = [b["latency_s"] for b in ok]
        rl = [r["latency_s"] for r in self.reads if r["ok"]]
        pct, batch_tail = tail(lat) if lat else (100.0, 0.0)
        read_pct, read_tail = tail(rl) if rl else (100.0, 0.0)
        per_type = [
            median([r["latency_s"] for r in self.reads if r["ok"] and r["type"] == t])
            for t in feedmod.READ_TYPES
        ]
        # the ingest and Indexer figures the issue names, for the record
        self.info.update({
            "batch_p50_s": median(lat),
            "batch_tail_s": batch_tail,
            "batch_tail_pct": pct,
            "ingest_blocks_per_s": _ratio(sum(b["blocks"] for b in ok), sum(lat)),
            "store_bytes_per_block": self.store_bytes / self.ref.next_round,
            "reads_per_s": _ratio(len(rl), sum(rl)),
            "read_p50_ms": 1e3 * median(rl),
            "read_tail_ms": 1e3 * read_tail,
            "read_tail_pct": read_pct,
            "batches": len(self.batches),
            "blocks": self.ref.next_round,
            "reads": len(self.reads),
        })
        return {
            "write_s": sum(lat),
            "queries_total_s": math.fsum(per_type),
            "write_amp": self.write_amp,
        }

    def per_layer(self) -> dict[str, float]:
        v: dict[str, float] = {}
        tb = [b for b in self.batches if b["ok"] and b["traced"]]

        def med(f):
            return median([f(b) for b in tb])

        def prog(b, key):
            p = b.get("progress")
            return None if p is None else p.durationMs.get(key)

        def release_to_trigger(b):
            p = b.get("progress")
            if p is None:
                return None
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            return 1e3 * (ts - b["release_wall"])

        v["stream.trigger_ms"] = med(lambda b: prog(b, "triggerExecution"))
        v["stream.add_batch_ms"] = med(lambda b: prog(b, "addBatch"))
        v["stream.overhead_ms"] = med(
            lambda b: None if b.get("progress") is None
            else prog(b, "triggerExecution") - prog(b, "addBatch"))
        v["stream.wal_commit_ms"] = med(lambda b: prog(b, "walCommit"))
        v["stream.commit_offsets_ms"] = med(lambda b: prog(b, "commitOffsets"))
        v["stream.release_to_trigger_ms"] = med(release_to_trigger)
        v["source.read_s"] = med(lambda b: b.get("source_read_s"))
        v["source.tasks"] = med(lambda b: b.get("source_tasks"))

        def spans(b, pred):
            return [s for s in b["spans"] if pred(s)]

        def add_blocks(b):
            s = spans(b, lambda s: s["name"] == "ChainDB.add_blocks")
            return s[0] if s else None

        def writes(b):
            return spans(b, lambda s: s["name"].startswith(
                ("ChainStore.append_facts", "ChainStore.merge_state")))

        def gate(b):
            a, w = add_blocks(b), writes(b)
            return None if not (a and w) else min(s["start"] for s in w) - a["start"]

        def fanout(b):
            w = writes(b)
            return None if not w else max(s["end"] for s in w) - min(s["start"] for s in w)

        def dur(b, name):
            return sum(s["end"] - s["start"] for s in spans(b, lambda s: s["name"] == name))

        def plan_ms(b):
            ids = {s["id"] for s in b["spans"] if s["layer"] == "chain.transforms"}
            return 1e3 * sum(s["end"] - s["start"] for s in b["spans"]
                             if s["layer"] == "chain.transforms" and s["parent"] not in ids)

        def add_blocks_s(b):
            a = add_blocks(b)
            return a and a["end"] - a["start"]

        v["ingest.add_blocks_s"] = med(add_blocks_s)
        v["ingest.gate_s"] = med(gate)
        v["ingest.fanout_s"] = med(fanout)
        for c in ("jobs", "stages", "tasks", "shuffle_bytes"):
            v[f"ingest.{c}"] = med(lambda b, c=c: b["counts"][c])
        v["transforms.plan_ms"] = med(plan_ms)
        for t in FACT_TABLES:
            v[f"store.append_s.{t}"] = med(lambda b, t=t: dur(b, f"ChainStore.append_facts:{t}"))
        for t in STATE_TABLES:
            v[f"store.merge_s.{t}"] = med(lambda b, t=t: dur(b, f"ChainStore.merge_state:{t}"))
            v[f"store.buckets_rewritten.{t}"] = med(lambda b, t=t: b["buckets"][t])
        v["store.metastate_ms"] = med(lambda b: 1e3 * dur(b, "ChainStore.merge_metastate"))
        v["store.bytes_written"] = med(lambda b: b["bytes_written"])
        v["store.files_written"] = med(lambda b: b["files_written"])
        v["store.write_amp"] = med(lambda b: b["write_amp"])
        v["store.fact_files"] = self.fact_files

        tr = [r for r in self.reads if r["ok"] and r["traced"]]
        for t in feedmod.READ_TYPES:
            rs = [r for r in tr if r["type"] == t]
            v[f"query.{t}.compile_ms"] = 1e3 * median([r["compile_s"] for r in rs])
            v[f"query.{t}.execute_ms"] = 1e3 * median([r["execute_s"] for r in rs])
            v[f"query.{t}.jobs"] = median([r["counts"]["jobs"] for r in rs])
            v[f"query.{t}.files_scanned"] = median([r["files_scanned"] for r in rs])
            v[f"query.{t}.rows"] = median([r["rows"] for r in rs])

        for layer, ops in (("chain.ingest", tb), ("chain.transforms", tb),
                           ("chain.store", tb), ("chain.query", tr)):
            v[f"self_ms.{layer}"] = 1e3 * median([o["self"].get(layer) for o in ops])
        measured = sum(o["latency_s"] for o in tb + tr)
        v.update(self.common_per_layer([o["counts"] for o in tb + tr], measured))
        return v

    def trace_ops(self) -> list[dict]:
        return [
            {k: v for k, v in o.items() if k not in ("spans", "progress")}
            for o in self.batches + self.reads
        ]

    def stop(self) -> None:
        query = getattr(self, "query", None)
        if query is not None:
            query.stop()
        super().stop()
