"""Bucketed merge-on-read parquet store with MERGE semantics.

The reference maintains its nine tables with `INSERT ... ON CONFLICT`
prepared statements inside serializable transactions (writer.go:39-114,
util.go:43-68).  The Spark-native equivalent is a lakehouse MERGE; since
this environment has bare parquet only, this module implements the minimal
table format those semantics need:

- every table is a manifest (JSON) pointing at immutable parquet files;
- **state tables** are hash-bucketed by primary key into per-bucket BASE
  files plus ONE cumulative DELTA file (merge-on-read, the delta-plus-
  snapshot layout of Spark's own streaming state store).  A MERGE folds
  the update stream per key and writes only the delta: the old delta minus
  the keys this batch changed again, plus this batch's merged rows
  (deletes as tombstone rows) — O(changed rows), like the reference's
  row-level upserts, not O(table).  A read resolves base and delta in one
  scan: a base row is dropped when its key is in the delta's key set,
  which the driver reads from the small delta file.  Once the delta holds
  1/:data:`FOLD_RATIO` of the base rows, the next merge folds it into the
  bases of the buckets it touches (copy-on-write at bucket granularity;
  untouched buckets are carried by reference);
- **fact tables** (txn, txn_participation, block_header) are append-only;
  each appended file records its (min_round, max_round) so readers prune
  files by round range — the scan-side replacement for the reference's
  B-tree PK index;
- a commit writes the version's snapshot manifest, then swaps the live
  manifest atomically (os.replace).  Production would swap a transactional
  catalog (Delta/Iceberg) in behind the same API.

Idempotence contract (SURVEY A2/A19): the ingest layer gates on the round
high-water mark, so re-delivered micro-batches are skipped before they
reach the store; fact appends additionally dedup on PK within the batch and
drop rounds at or below the table's round watermark, and a state merge
tagged with a batch's last round is skipped when its manifest already
records that round.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkroach.chain.schemas import TABLE_KEYS, TABLE_SCHEMAS

DEFAULT_BUCKETS = 16  # local test default; cluster deployments use 1024+

#: A state merge folds the delta into the bases once the delta holds at
#: least 1/FOLD_RATIO of the table's base rows (see ChainStore.merge_state).
FOLD_RATIO = 8

#: Delta-file column: TRUE marks a deleted key (tombstone), FALSE a live
#: row.  Base files have no such column, so a scan reads it as NULL there.
TOMB = "__tomb"

STATE_TABLES = (
    "account",
    "account_asset",
    "asset",
    "app",
    "account_app",
    "app_box",
    "metastate",
)
FACT_TABLES = ("block_header", "txn", "txn_participation")


@dataclass
class Manifest:
    version: int = 0
    # state tables: bucket id (as str) → relative parquet dir of its base
    buckets: dict[str, str] = field(default_factory=dict)
    # fact tables: [{path, min_round, max_round, rows}]
    files: list[dict] = field(default_factory=list)
    # state tables: base rows per bucket id
    bucket_rows: dict[str, int] = field(default_factory=dict)
    # state tables: relative dir of the cumulative delta (None when empty)
    # and its row count, tombstones included
    delta: str | None = None
    delta_rows: int = 0
    # state tables: last round of the last batch merged (replay guard)
    round: int | None = None

    @classmethod
    def load(cls, path: str) -> "Manifest":
        if not os.path.exists(path):
            return cls()
        with open(path) as f:
            d = json.load(f)
        return cls(
            version=d["version"],
            buckets=d.get("buckets", {}),
            files=d.get("files", []),
            bucket_rows=d.get("bucket_rows", {}),
            delta=d.get("delta"),
            delta_rows=d.get("delta_rows", 0),
            round=d.get("round"),
        )

    def save(self, path: str) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": self.version,
                    "buckets": self.buckets,
                    "files": self.files,
                    "bucket_rows": self.bucket_rows,
                    "delta": self.delta,
                    "delta_rows": self.delta_rows,
                    "round": self.round,
                },
                f,
            )
        os.replace(tmp, path)


class ChainStore:
    """The nine maintained tables under one base directory."""

    #: Fault-injection seam for crash tests.  When set, it is called as
    #: ``fault_hook(table, point)`` at every commit: ``"commit"`` before
    #: anything of the new version is published, and ``"snapshot"`` after
    #: the snapshot manifest is written but before the live manifest
    #: swap.  Raising from it stops the commit exactly there.
    fault_hook = None

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        n_buckets: int = DEFAULT_BUCKETS,
    ) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.n_buckets = n_buckets
        # table → ((delta dir, mtime), {canonical key: bucket}); delta
        # files are immutable, so one entry per table is the live one
        self._delta_cache: dict[str, tuple] = {}
        os.makedirs(base_dir, exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.base_dir, table, "manifest.json")

    def _snapshot_path(self, table: str, version: int) -> str:
        return os.path.join(
            self.base_dir, table, f"manifest.v{version:06d}.json"
        )

    def _fault(self, table: str, point: str) -> None:
        if self.fault_hook is not None:
            self.fault_hook(table, point)

    def _commit(self, table: str, m: Manifest) -> None:
        """Retain the new version as an immutable snapshot, THEN publish it
        as the live manifest (atomic swap).  In this order a crash between
        the two writes leaves the previous version live and the new one
        merely retained, never a live version that time travel and
        :meth:`vacuum` cannot see; a replay rewrites the same version."""
        self._fault(table, "commit")
        m.save(self._snapshot_path(table, m.version))
        self._fault(table, "snapshot")
        m.save(self._manifest_path(table))

    def _manifest(self, table: str, version: int | None = None) -> Manifest:
        if version is None:
            return Manifest.load(self._manifest_path(table))
        snap = self._snapshot_path(table, version)
        if not os.path.exists(snap):
            raise ValueError(
                f"{table}: snapshot v{version} is not retained "
                f"(never committed, or reclaimed by vacuum); available: "
                f"{self.snapshot_versions(table)}"
            )
        return Manifest.load(snap)

    def snapshot_versions(self, table: str) -> list[int]:
        """Committed versions currently readable via time travel."""
        import glob as _glob

        out = []
        for p in _glob.glob(
            os.path.join(self.base_dir, table, "manifest.v*.json")
        ):
            name = os.path.basename(p)
            out.append(int(name[len("manifest.v"):-len(".json")]))
        return sorted(out)

    def vacuum(self, table: str, keep_snapshots: int = 2) -> tuple[int, int]:
        """Reclaim unreferenced storage: retain the newest
        ``keep_snapshots`` snapshot manifests (the live manifest is
        always among them — it IS the newest snapshot) and delete every
        version directory no retained manifest references (base buckets,
        delta files and fact files alike), plus the expired snapshot
        files.  The Delta-VACUUM analog for this store; time travel then
        reaches exactly the retained versions.

        Returns (version_dirs_deleted, snapshots_expired)."""
        import glob as _glob
        import shutil as _shutil

        assert keep_snapshots >= 1
        tdir = os.path.join(self.base_dir, table)
        versions = self.snapshot_versions(table)
        retained = set(versions[-keep_snapshots:])
        manifests = [self._manifest(table)] + [
            self._manifest(table, v) for v in retained
        ]
        referenced: set[str] = set()
        for m in manifests:
            rels = list(m.buckets.values()) + [e["path"] for e in m.files]
            if m.delta is not None:
                rels.append(m.delta)
            for rel in rels:
                # dir-granular GC: the version dir is the reclaim unit
                referenced.add(rel.split("/")[0])
        dirs_deleted = 0
        for d in _glob.glob(os.path.join(tdir, "v*")):
            if os.path.isdir(d) and os.path.basename(d) not in referenced:
                _shutil.rmtree(d)
                dirs_deleted += 1
        snaps_deleted = 0
        for v in versions:
            if v not in retained:
                os.remove(self._snapshot_path(table, v))
                snaps_deleted += 1
        return dirs_deleted, snaps_deleted

    def _new_version_dir(self, table: str, version: int) -> str:
        d = os.path.join(self.base_dir, table, f"v{version:06d}")
        os.makedirs(d, exist_ok=True)
        return d

    def _empty(self, table: str) -> DataFrame:
        return self.spark.createDataFrame([], TABLE_SCHEMAS[table])

    def _key_sql(self, table: str) -> str:
        """The canonical key string of a row as a SQL expression: key
        columns rendered as text (binary as uppercase hex) and joined with
        U+001F.  :meth:`_key_str` is its driver-side mirror."""
        parts = []
        for k in TABLE_KEYS[table]:
            if isinstance(TABLE_SCHEMAS[table][k].dataType, T.BinaryType):
                parts.append(f"hex(`{k}`)")
            else:
                parts.append(f"cast(`{k}` as string)")
        return f"concat_ws(char(31), {', '.join(parts)})"

    def _key_str(self, table: str, key: tuple) -> str:
        parts = []
        for k, v in zip(TABLE_KEYS[table], key):
            if isinstance(TABLE_SCHEMAS[table][k].dataType, T.BinaryType):
                parts.append(bytes(v).hex().upper())  # Spark hex() is uppercase
            else:
                parts.append(str(v))
        return "\x1f".join(parts)

    def _bucket_col(self, table: str) -> F.Column:
        """PK → bucket id, via a PORTABLE hash (md5 of the canonical key
        string) rather than Spark's Murmur3: the same function is
        computable driver-side (:meth:`bucket_of`), which is what lets a
        point read open ONE bucket instead of scanning the table — the
        store-side replacement for the reference's B-tree PK point reads
        (setup_cockroachdb.sql PKs)."""
        canon = F.expr(self._key_sql(table))
        h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
        return F.pmod(h, F.lit(self.n_buckets))

    def _bucket_of_str(self, canon: str) -> int:
        import hashlib

        h = int(hashlib.md5(canon.encode("utf-8")).hexdigest()[:8], 16)
        return h % self.n_buckets

    def bucket_of(self, table: str, key: tuple) -> int:
        """Driver-side mirror of :meth:`_bucket_col` for point reads."""
        return self._bucket_of_str(self._key_str(table, key))

    def _delta_keys(self, table: str, m: Manifest) -> dict[str, int]:
        """Canonical key → bucket of every row in ``m``'s delta,
        tombstones included, read on the driver with pyarrow.  The fold
        rule bounds it at 1/FOLD_RATIO of the base rows plus one batch."""
        import glob

        import pyarrow.parquet as pq

        if m.delta is None:
            return {}
        d = os.path.join(self.base_dir, table, m.delta)
        tag = (d, os.stat(d).st_mtime_ns)
        hit = self._delta_cache.get(table)
        if hit is not None and hit[0] == tag:
            return hit[1]
        keys = TABLE_KEYS[table]
        out: dict[str, int] = {}
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            t = pq.read_table(f, columns=keys)
            for key in zip(*(t.column(k).to_pylist() for k in keys)):
                canon = self._key_str(table, key)
                out[canon] = self._bucket_of_str(canon)
        self._delta_cache[table] = (tag, out)
        return out

    def _scan(
        self, table: str, m: Manifest, buckets: set[int] | None = None
    ) -> DataFrame:
        """ONE parquet scan over the base files of ``buckets`` (all when
        None) plus the delta.  Every row carries :data:`TOMB`: NULL on a
        base row, the tombstone flag on a delta row.  A base row whose key
        the delta holds is dropped by a driver-side key-set filter, so the
        result has one row per key and needs no join, window or extra
        Spark job to resolve."""
        schema = TABLE_SCHEMAS[table]
        rels = sorted(
            {
                rel
                for b, rel in m.buckets.items()
                if buckets is None or int(b) in buckets
            }
        )
        if m.delta is not None:
            rels.append(m.delta)
        if not rels:
            return self._empty(table).withColumn(
                TOMB, F.lit(None).cast("boolean")
            )
        paths = [os.path.join(self.base_dir, table, p) for p in rels]
        if m.delta is None:
            return self.spark.read.schema(schema).parquet(*paths).withColumn(
                TOMB, F.lit(None).cast("boolean")
            )
        df = self.spark.read.schema(
            T.StructType(schema.fields + [T.StructField(TOMB, T.BooleanType())])
        ).parquet(*paths)
        shadowed = [
            k
            for k, b in self._delta_keys(table, m).items()
            if buckets is None or b in buckets
        ]
        if shadowed:
            in_list = ", ".join(f"'{k}'" for k in sorted(shadowed))
            df = df.where(
                F.col(TOMB).isNotNull()
                | ~F.expr(f"{self._key_sql(table)} IN ({in_list})")
            )
        return df

    # -- reads ----------------------------------------------------------------

    def read(
        self,
        table: str,
        min_round: int | None = None,
        max_round: int | None = None,
        key: tuple | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Current snapshot — or, with ``version``, TIME TRAVEL to any
        retained committed version (data files are never rewritten in
        place and every commit retains its manifest until vacuum, so an
        old version is just an old file listing).  For fact tables a round
        range prunes files before Spark ever lists them (manifest min/max
        stats).  A state table resolves its bases and its delta in one
        scan (:meth:`_scan`) and drops tombstones; a full PK ``key``
        prunes the bases to the ONE bucket that can hold it (portable-hash
        bucketing), so a point read lists that bucket plus the delta, like
        the reference's B-tree PK lookup.  The key predicate itself is
        still applied by the caller; this only narrows the file listing."""
        m = self._manifest(table, version)
        schema = TABLE_SCHEMAS[table]
        if table in STATE_TABLES:
            buckets = None if key is None else {self.bucket_of(table, key)}
            df = self._scan(table, m, buckets)
            if m.delta is not None:
                df = df.where(~F.coalesce(F.col(TOMB), F.lit(False)))
            return df.select(*schema.fieldNames())
        paths = [
            e["path"]
            for e in m.files
            if (min_round is None or e["max_round"] >= min_round)
            and (max_round is None or e["min_round"] <= max_round)
        ]
        if not paths:
            return self._empty(table)
        abs_paths = [os.path.join(self.base_dir, table, p) for p in paths]
        df = self.spark.read.schema(schema).parquet(*abs_paths)
        if min_round is not None:
            df = df.where(F.col("round") >= min_round)
        if max_round is not None:
            df = df.where(F.col("round") <= max_round)
        return df

    # -- fact append ----------------------------------------------------------

    def append_facts(self, table: str, rows: DataFrame) -> int:
        """Append-only write, idempotent across redelivery.

        In-batch PK dedup (ON CONFLICT DO NOTHING within the batch) PLUS a
        per-table applied-round watermark: rows at or below the highest
        round already in the manifest are dropped before writing.  Fact
        rounds are strictly monotone (the ingest gate orders them), so the
        watermark makes a replayed batch a no-op even when the crash
        happened AFTER this table's append but BEFORE the metastate commit
        — the reference's "txn tables can only be ahead, never behind"
        invariant (cockroach.go:189-199, unique-violation tolerance).  The
        watermark is free: it is the max over the manifest's per-file
        max_round stats, no data read.

        File-level (min_round, max_round) stats are collected with
        ``observe()`` during the write job itself — one pass over the data,
        no re-scan of the output (at 100 TB a stats re-read would double
        the append's IO)."""
        assert table in FACT_TABLES, table
        from pyspark.sql import Observation

        m = self._manifest(table)
        watermark = _watermark(m)
        if watermark is not None:
            rows = rows.where(F.col("round") > watermark)

        keys = TABLE_KEYS[table]
        obs = Observation()
        rows = rows.dropDuplicates(keys).observe(
            obs,
            F.min("round").alias("lo"),
            F.max("round").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        version = m.version + 1
        vdir = self._new_version_dir(table, version)
        out = os.path.join(vdir, "data")
        rows.write.mode("overwrite").parquet(out)
        stats = obs.get
        if stats["n"] == 0:
            return 0
        m.files.append(
            {
                "path": os.path.relpath(out, os.path.join(self.base_dir, table)),
                "min_round": stats["lo"],
                "max_round": stats["hi"],
                "rows": stats["n"],
                "ts": time.time(),
            }
        )
        m.version = version
        self._commit(table, m)
        return stats["n"]

    def fact_watermark(self, table: str) -> int | None:
        """Highest round in a fact table (None when empty), from the
        manifest stats.  An append of rounds at or below it writes
        nothing, so a replay can skip it without a Spark job."""
        return _watermark(self._manifest(table))

    def compact_facts(
        self, table: str, target_rows: int = 1_000_000
    ) -> tuple[int, int]:
        """OPTIMIZE-style small-file compaction for a fact table.

        Per-micro-batch appends necessarily create one file set per batch;
        at mainnet cadence that is thousands of small files per day — the
        classic lakehouse ingest pathology.  This maintenance pass greedily
        groups round-adjacent manifest files until ``target_rows`` and
        rewrites each group as one file set, preserving the per-file
        (min_round, max_round) stats the reader prunes on.  Round ranges
        stay disjoint (appends are round-monotone), so pruning selectivity
        is unchanged; the round watermark (max over max_round) is
        byte-identical before and after.  Runs out-of-band like any
        OPTIMIZE job; the manifest swap is atomic.

        Returns (files_before, files_after)."""
        assert table in FACT_TABLES, table
        m = self._manifest(table)
        before = len(m.files)
        ordered = sorted(m.files, key=lambda e: e["min_round"])
        groups: list[list[dict]] = []
        cur: list[dict] = []
        cur_rows = 0
        for e in ordered:
            if cur and cur_rows + e["rows"] > target_rows:
                groups.append(cur)
                cur, cur_rows = [], 0
            cur.append(e)
            cur_rows += e["rows"]
        if cur:
            groups.append(cur)
        if all(len(g) == 1 for g in groups):
            return before, before  # nothing to merge

        version = m.version + 1
        vdir = self._new_version_dir(table, version)
        new_files: list[dict] = []
        for gi, g in enumerate(groups):
            if len(g) == 1:
                new_files.append(g[0])
                continue
            paths = [os.path.join(self.base_dir, table, e["path"]) for e in g]
            out = os.path.join(vdir, f"g{gi:04d}")
            self.spark.read.schema(TABLE_SCHEMAS[table]).parquet(*paths).write.mode(
                "overwrite"
            ).parquet(out)
            new_files.append(
                {
                    "path": os.path.relpath(out, os.path.join(self.base_dir, table)),
                    "min_round": min(e["min_round"] for e in g),
                    "max_round": max(e["max_round"] for e in g),
                    "rows": sum(e["rows"] for e in g),
                    "ts": time.time(),
                }
            )
        m.files = new_files
        m.version = version
        self._commit(table, m)
        return before, len(new_files)

    def delete_facts_below(self, table: str, keep_round: int) -> int:
        """Pruning (A25): drop whole files above the cutoff for free; rewrite
        the single boundary-straddling file."""
        assert table in FACT_TABLES
        m = self._manifest(table)
        version = m.version + 1
        kept: list[dict] = []
        dropped_rows = 0
        rewrite: list[dict] = []
        for e in m.files:
            if e["min_round"] >= keep_round:
                kept.append(e)
            elif e["max_round"] < keep_round:
                dropped_rows += e["rows"]
            else:
                rewrite.append(e)
        if rewrite:
            vdir = self._new_version_dir(table, version)
            paths = [os.path.join(self.base_dir, table, e["path"]) for e in rewrite]
            df = (
                self.spark.read.schema(TABLE_SCHEMAS[table])
                .parquet(*paths)
                .where(F.col("round") >= keep_round)
            )
            out = os.path.join(vdir, "data")
            df.write.mode("overwrite").parquet(out)
            stats = (
                self.spark.read.parquet(out)
                .agg(F.min("round").alias("lo"), F.max("round").alias("hi"), F.count("*").alias("n"))
                .collect()[0]
            )
            before = sum(e["rows"] for e in rewrite)
            dropped_rows += before - stats["n"]
            if stats["n"]:
                kept.append(
                    {
                        "path": os.path.relpath(out, os.path.join(self.base_dir, table)),
                        "min_round": stats["lo"],
                        "max_round": stats["hi"],
                        "rows": stats["n"],
                        "ts": time.time(),
                    }
                )
        m.files = kept
        m.version = version
        self._commit(table, m)
        return int(dropped_rows)

    # -- state MERGE ----------------------------------------------------------

    def merge_state(
        self,
        table: str,
        folded: DataFrame,
        merge_cols: dict[str, F.Column],
        touch_keys: DataFrame | None = None,
        touch_all: bool = False,
        last_round: int | None = None,
    ) -> None:
        """Merge-on-read MERGE: ``folded`` is one row per key (the ingest
        layer folds the update stream first) with whatever helper columns
        ``merge_cols`` references via ``u.<col>`` / ``e.<col>``.

        merge_cols maps every output column to an expression over the
        updates (alias ``u``) joined to the current rows (alias ``e``, base
        and delta resolved by :meth:`_scan`); an expression sees NULL
        ``e.*`` for a brand-new key or a key whose current row is a
        tombstone, exactly as under a left join (physically the merge runs
        one FULL OUTER join so the fold and the scan execute once).  Rows
        where merge_cols['__drop__'] (optional) evaluates true are deleted
        (app_box delete).  NULL-evaluating ``__drop__`` expressions KEEP
        the row (the test is ``coalesce(present & drop, false)`` —
        null-safe, so carry-overs and three-valued-logic NULLs are never
        swept); a caller that wants NULL to mean delete must coalesce its
        own expression.  Pinned by test_merge_drop_null_evaluates_to_keep.

        What is written:

        - normally ONLY a new delta: the old delta's rows for keys this
          batch did not change, plus this batch's merged rows (a deleted
          key as a tombstone row).  Base files are untouched, so the write
          is O(changed rows), not O(table);
        - a FOLD when the delta this merge starts from already holds at
          least 1/:data:`FOLD_RATIO` of the base rows: the live rows of
          every bucket the old delta or this batch touches are rewritten
          as new bases (tombstoned keys physically removed; untouched
          buckets are carried by reference) and the delta empties.

        Either way one manifest swap publishes the version.

        ``touch_keys`` (optional) is any DataFrame carrying the table's key
        columns for every updated key (duplicates fine — typically the
        UN-folded update stream).  When given, the touched-bucket set is
        collected from that cheap projection (column pruning strips the
        fold/UDF/join work) and only those buckets' bases are scanned for
        current rows; the full fold chain runs exactly once, inside the
        write job.  Without it (and without ``touch_all``) ``folded`` is
        cached to learn the buckets.

        ``touch_all`` skips the touched-bucket discovery job entirely and
        treats every bucket as touched.  The ingest layer sets it when its
        (already-collected) update count says the batch is dense enough
        that essentially every bucket collides anyway — the discovery job
        would cost a Spark job to learn "all of them".

        ``last_round`` (optional) tags the version with the batch's last
        round.  A merge whose manifest already records that round or a
        later one replays an applied batch and is skipped, so a batch
        replayed after a crash converges to the same versions as a run
        without the crash.
        """
        # metastate has its own driver-side commit path (merge_metastate);
        # its single-file layout is incompatible with hash-bucket touch sets
        assert table != "metastate", "use merge_metastate"
        m = self._manifest(table)
        if last_round is not None and m.round is not None and m.round >= last_round:
            return
        version = m.version + 1
        fold = FOLD_RATIO * m.delta_rows >= sum(m.bucket_rows.values())

        cached = touch_keys is None and not touch_all
        if touch_all:
            touched = set(range(self.n_buckets))
        else:
            if cached:
                folded = folded.cache()
            key_src = folded if cached else touch_keys
            touched = {
                r[0]
                for r in key_src.select(self._bucket_col(table)).distinct().collect()
            }
        try:
            if touched:
                if fold:
                    touched |= set(self._delta_keys(table, m).values())
                self._write_merge(
                    table, m, version, folded, merge_cols, touched, fold
                )
                if last_round is not None:
                    m.round = last_round
                m.version = version
                self._commit(table, m)
        finally:
            if cached:
                folded.unpersist()

    def _write_merge(
        self,
        table: str,
        m: Manifest,
        version: int,
        folded: DataFrame,
        merge_cols: dict[str, F.Column],
        touched: set[int],
        fold: bool,
    ) -> None:
        """The write half of :meth:`merge_state`; updates ``m`` in place."""
        from pyspark.sql import Observation

        keys = TABLE_KEYS[table]
        # current rows: the touched buckets' bases plus the whole delta.
        # A tombstone keeps its key (for the join and for carrying it
        # over) but shows NULL in every e.<col> the merge expressions see.
        gone = F.coalesce(F.col(TOMB), F.lit(False))
        e = self._scan(table, m, touched).select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            *[
                F.when(~gone, F.col(c)).alias(c)
                for c in TABLE_SCHEMAS[table].fieldNames()
            ],
            TOMB,
        ).alias("e")
        u = folded.withColumn("__present", F.lit(True)).alias("u")
        cond = [F.col(f"u.{k}") == F.col(f"e.__k_{k}") for k in keys]

        # A row is an update when its u side is present, a carry-over when
        # only e is present; the merge_cols expressions see exactly the
        # nullability a left join would give them in both cases.
        upd = F.col("u.__present").isNotNull()
        drop_expr = merge_cols.get("__drop__")
        drop = F.lit(False) if drop_expr is None else F.coalesce(drop_expr, F.lit(False))
        out_cols = [
            F.when(upd, expr)
            .otherwise(F.col(f"e.__k_{name}" if name in keys else f"e.{name}"))
            .alias(name)
            for name, expr in merge_cols.items()
            if name != "__drop__"
        ]
        tomb = F.when(upd, drop).otherwise(F.col(f"e.{TOMB}"))
        joined = u.join(e, cond, "full_outer")

        vdir = self._new_version_dir(table, version)
        rel = os.path.relpath(vdir, os.path.join(self.base_dir, table))
        if fold:
            live = joined.where(~F.coalesce(tomb, F.lit(False))).select(*out_cols)
            live.withColumn("__bucket", self._bucket_col(table)).write.mode(
                "overwrite"
            ).partitionBy("__bucket").parquet(vdir)
            for b in touched:
                bucket_dir = os.path.join(vdir, f"__bucket={b}")
                if os.path.exists(bucket_dir):
                    m.buckets[str(b)] = f"{rel}/__bucket={b}"
                    m.bucket_rows[str(b)] = _parquet_rows(bucket_dir)
                else:
                    # all rows in this bucket were deleted
                    m.buckets.pop(str(b), None)
                    m.bucket_rows.pop(str(b), None)
            m.delta, m.delta_rows = None, 0
            return
        # the new delta: this batch's rows plus the old delta's rows for
        # keys this batch did not change (the e-only rows that carry a
        # tombstone flag, i.e. came from the delta, not from a base)
        obs = Observation()
        delta = (
            joined.where(upd | F.col(f"e.{TOMB}").isNotNull())
            .select(*out_cols, tomb.alias(TOMB))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        out = os.path.join(vdir, "delta")
        delta.write.mode("overwrite").parquet(out)
        n = obs.get["n"]
        m.delta = f"{rel}/delta" if n else None
        m.delta_rows = n

    # -- metastate convenience -------------------------------------------------

    def _read_metastate_dict(self) -> dict[str, str]:
        import glob

        import pyarrow.parquet as pq

        m = self._manifest("metastate")
        out: dict[str, str] = {}
        for rel in sorted(set(m.buckets.values())):
            p = os.path.join(self.base_dir, "metastate", rel)
            files = [p] if os.path.isfile(p) else sorted(
                glob.glob(os.path.join(p, "*.parquet"))
            )
            for f in files:
                t = pq.read_table(f, columns=["k", "v"])
                out.update(zip(t.column("k").to_pylist(), t.column("v").to_pylist()))
        return out

    def get_metastate(self, key: str) -> str | None:
        return self._read_metastate_dict().get(key)

    def merge_metastate(self, updates: dict[str, str]) -> None:
        """Driver-side commit for the bounded control table (≤6 keys,
        schema/metastate.go:4-11) — the moral equivalent of a transaction-log
        write.  Launching a Spark MERGE job for a 2-row upsert costs ~1 s of
        pure scheduling; a driver parquet write costs milliseconds and keeps
        the same commit protocol (:meth:`_commit`: snapshot, then the
        atomic live swap)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        kv = self._read_metastate_dict()
        kv.update(updates)
        m = self._manifest("metastate")
        version = m.version + 1
        vdir = self._new_version_dir("metastate", version)
        out = os.path.join(vdir, "data.parquet")
        ks = sorted(kv)
        pq.write_table(
            pa.table({"k": ks, "v": [kv[k] for k in ks]}),
            out,
        )
        m.buckets = {
            "0": os.path.relpath(out, os.path.join(self.base_dir, "metastate"))
        }
        m.version = version
        self._commit("metastate", m)

    def set_metastate(self, key: str, value: str) -> None:
        self.merge_metastate({key: value})


def _parquet_rows(d: str) -> int:
    """Row count of a parquet directory, from its file footers."""
    import glob

    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(d, "*.parquet"))
    )


def _watermark(m: Manifest) -> int | None:
    return max((e["max_round"] for e in m.files), default=None)
