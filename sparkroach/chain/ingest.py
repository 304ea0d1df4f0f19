"""Round-gated, exactly-once block ingest (batch + Structured Streaming).

The reference's AddBlock (cockroach.go:122-210) is: serializable tx →
round gate (metastate next_account_round, :138-151) → 16 prepared
upsert/delete statements + COPY (writer.go, write_txn.go) → increment the
gate.  Here one micro-batch of blocks becomes ~8 deterministic DataFrame
plans (one per table) MERGEd into the store; the round high-water mark in
metastate plus idempotent MERGE gives the same exactly-once envelope under
Structured Streaming retries (foreachBatch may redeliver a batch; the gate
skips already-applied rounds — the reference's "txn tables can only be
ahead, never behind" invariant, cockroach.go:189-199).

The ON CONFLICT clause semantics (writer.go:39-114) are reproduced exactly:
- upserts update values + set deleted=FALSE, PRESERVE created_at, and do
  not touch closed_at;
- deletes tombstone values, set deleted=TRUE, closed_at=round, preserve
  created_at (and keytype, unless a sig-type delta arrived);
- within a batch the update stream is FOLDED per key in (round, pos) order
  so create+delete-in-one-round matches statement-by-statement execution
  (writer_test.go:561-622).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.chain import transforms
from sparkroach.chain.encoding import canonical_json
from sparkroach.chain.schemas import TABLE_KEYS, TABLE_SCHEMAS, block_schema
from sparkroach.chain.store import FACT_TABLES, ChainStore


# LoadGenesis writes this sentinel so the schema is compatible with the
# upstream indexer's migration machinery: "no migration needed"
# (cockroach.go:227-232, MigrationState{NextMigration: math.MaxInt}).
MIGRATION_DONE_SENTINEL = (1 << 63) - 1

#: floor on blocks per task when re-sizing an over-split micro-batch
_MIN_BLOCKS_PER_TASK = 4


class RoundGateError(ValueError):
    """Block round does not match the expected next round (cockroach.go:142-146)."""


class GenesisHashMismatch(ValueError):
    """Stored network genesis hash differs from the configured one
    (idb/helpers.go:11-48)."""


def _fold(
    updates: DataFrame,
    keys: list[str],
    value_cols: list[str],
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Reduce an op-tagged update stream to one row per key, preserving
    statement-order semantics via (round, pos) ordering."""
    ord_ = F.struct(F.col("round"), F.col("pos"))
    aggs = [
        F.min("round").alias("first_round"),
        F.max_by("op", ord_).alias("last_op"),
        F.max(F.when(F.col("op") == "delete", F.col("round"))).alias(
            "last_delete_round"
        ),
    ]
    aggs += [F.max_by(c, ord_).alias(f"last_{c}") for c in value_cols]
    aggs += list(extra_aggs or [])
    return updates.groupBy(*keys).agg(*aggs)


def _lineage_cols(u_prefix: str = "u") -> dict[str, Column]:
    """The shared created_at / closed_at / deleted merge clauses."""
    return {
        "deleted": F.col(f"{u_prefix}.last_op") == "delete",
        "created_at": F.coalesce(F.col("e.created_at"), F.col(f"{u_prefix}.first_round")),
        "closed_at": F.coalesce(
            F.col(f"{u_prefix}.last_delete_round"), F.col("e.closed_at")
        ),
    }


class ChainDB:
    """The engine façade: genesis load, block ingest, health, pruning."""

    def __init__(self, spark: SparkSession, base_dir: str, n_buckets: int = 16):
        from sparkroach._shiplib import ensure_shipped

        ensure_shipped(spark)  # executors need the canonical-JSON UDF modules
        self.spark = spark
        self.store = ChainStore(spark, base_dir, n_buckets)

    # -- metastate ------------------------------------------------------------

    def next_round(self) -> int | None:
        raw = self.store.get_metastate("state")
        return None if raw is None else json.loads(raw)["next_account_round"]

    def _set_next_round(self, r: int) -> None:
        self.store.set_metastate("state", json.dumps({"next_account_round": r}))

    # -- genesis (A20-A22) ----------------------------------------------------

    def load_genesis(
        self,
        allocations: list[dict],
        genesis_hash: bytes,
        network: str = "",
    ) -> None:
        """One-time bulk load (cockroach.go:213-280): every allocation
        becomes an account row with created_at=0; import state starts at
        round 0; network hash recorded for the restart guard."""
        stored = self.store.get_metastate("network")
        if stored is not None:
            if json.loads(stored).get("genesis-hash") != _b64(genesis_hash):
                raise GenesisHashMismatch("stored genesis hash differs")
            return  # already initialized — idempotent
        from decimal import Decimal

        rows = [
            (
                a["addr"],
                Decimal(a.get("microalgos", 0)),
                0,
                Decimal(a.get("rewards_total", 0)),
                False,
                0,
                None,
                None,
                canonical_json({"onl": a.get("status", 0)}),
            )
            for a in allocations
        ]
        df = self.spark.createDataFrame(rows, TABLE_SCHEMAS["account"])
        folded = df.select(
            "addr",
            F.lit(0).alias("first_round"),
            F.lit("upsert").alias("last_op"),
            F.lit(None).cast("long").alias("last_delete_round"),
            F.col("microalgos").alias("last_microalgos"),
            F.col("rewardsbase").alias("last_rewardsbase"),
            F.col("rewards_total").alias("last_rewards_total"),
            F.col("account_data").alias("last_account_data"),
            F.lit(None).cast("string").alias("keytype_delta"),
            F.lit(False).alias("delta_present"),
        )
        self._merge_account(folded)
        # one metastate commit: network guard + migration sentinel + import
        # state (cockroach.go:213-280 writes all three inside LoadGenesis's
        # transaction)
        self.store.merge_metastate(
            {
                "network": json.dumps(
                    {"genesis-hash": _b64(genesis_hash), "network": network}
                ),
                "migration": json.dumps({"next": MIGRATION_DONE_SENTINEL}),
                "state": json.dumps({"next_account_round": 0}),
            }
        )

    def check_genesis_hash(self, genesis_hash: bytes) -> None:
        stored = self.store.get_metastate("network")
        if stored is not None and json.loads(stored).get("genesis-hash") != _b64(
            genesis_hash
        ):
            raise GenesisHashMismatch("stored genesis hash differs")

    # -- block ingest (A1-A19) ------------------------------------------------

    def add_blocks(self, blocks: DataFrame) -> int:
        """Ingest a micro-batch of blocks.  Rounds must continue the high-
        water mark exactly; already-ingested rounds are skipped (idempotent
        replay); a gap raises RoundGateError.  Returns blocks applied."""
        # Gate semantics match cockroach.go:142-146 exactly: an uninitialized
        # DB expects round 0 (LoadGenesis sets next_account_round=0); any
        # other starting round is a hard error, never a silent skip — a
        # misordered feed must fail loudly, not lose blocks.
        nxt = self.next_round()
        if nxt is None:
            nxt = 0
        # cache the incoming micro-batch BEFORE the gate collect: the batch
        # is consumed by up to 8 table planes below, and for a Python-built
        # batch the row→JVM conversion is the single most expensive part of
        # touching it — caching first means the gate collect itself fills
        # the cache, so the conversion runs once, not once per consumer
        # (r8 optimization; previously the gate collect ran on the raw
        # input and the cache was only installed after the round filter).
        blocks = blocks.cache()
        # one driver-side collect for all scalar bookkeeping: rounds,
        # special accounts, and per-delta sizes (to skip no-op merges)
        meta_rows = blocks.select(
            "round",
            "fee_sink",
            "rewards_pool",
            F.coalesce(F.size("delta.accts"), F.lit(0)).alias("n_accts"),
            F.coalesce(F.size("delta.asset_resources"), F.lit(0)).alias("n_assets"),
            F.coalesce(F.size("delta.app_resources"), F.lit(0)).alias("n_apps"),
            F.coalesce(F.size("delta.kv_mods"), F.lit(0)).alias("n_boxes"),
            F.coalesce(F.size("payset"), F.lit(0)).alias("n_txns"),
            F.coalesce(
                F.aggregate(
                    "payset",
                    F.lit(0),
                    lambda acc, t: acc
                    + F.coalesce(F.size(t["ad"]["dt"]["itx"]), F.lit(0)),
                ),
                F.lit(0),
            ).alias("n_inner"),
        ).collect()
        rounds = sorted({r["round"] for r in meta_rows})
        todo = [r for r in rounds if r >= nxt]
        if not todo:
            blocks.unpersist()
            return 0  # empty batch, or pure replay of applied rounds
        try:
            if todo[0] != nxt:
                raise RoundGateError(
                    f"next expected round {nxt}, got {todo[0]} (gap)"
                )
            for a, b in zip(todo, todo[1:]):
                if b != a + 1:
                    raise RoundGateError(f"non-consecutive rounds {a} → {b}")
        except RoundGateError:
            blocks.unpersist()
            raise
        applied = [r for r in meta_rows if r["round"] in set(todo)]
        # AddBlock0 semantics (cockroach.go:159-165): round 0 writes ONLY
        # the block header and special accounts — its payset/delta (genesis
        # allocations arrive via LoadGenesis) must NOT reach the txn/state
        # tables, or created_at/keytype would double-apply and diverge.
        nz_applied = [r for r in applied if r["round"] != 0]
        has = {
            k: any(r[k] > 0 for r in nz_applied)
            for k in ("n_accts", "n_assets", "n_apps", "n_boxes", "n_txns")
        }
        unfiltered = blocks
        # Right-size the micro-batch's partitioning from the row count the
        # gate collect just established: a small batch arriving over-split
        # (e.g. a driver-built DataFrame at defaultParallelism slices)
        # would otherwise schedule dozens of near-empty tasks in EVERY
        # downstream stage of all nine table planes — pure scheduling
        # overhead.  coalesce() on top of the already-filled cache is a
        # narrow op (no second row conversion, no shuffle); a large batch
        # (rows >> partitions) keeps its source partitioning untouched.
        n_parts = blocks.rdd.getNumPartitions()
        target = max(1, min(n_parts, len(meta_rows) // _MIN_BLOCKS_PER_TASK))
        if target < n_parts:
            blocks = blocks.coalesce(target)
        blocks = blocks.where(F.col("round").isin(todo))
        nz_blocks = (
            blocks.where(F.col("round") != 0) if 0 in todo else blocks
        )

        # A replayed batch skips every table that already committed it: a
        # fact table whose round watermark covers the batch (append_facts
        # would write nothing) costs no Spark job, and each state merge is
        # tagged with the batch's last round, which merge_state skips.
        last_round = todo[-1]
        pending = {
            t for t in FACT_TABLES
            if (w := self.store.fact_watermark(t)) is None or w < last_round
        }
        flat = None
        if has["n_txns"] and pending & {"txn", "txn_participation"}:
            # the txn-tree flatten feeds three tables — materialize it once
            # BEFORE fanning out so concurrent consumers hit the cache.
            # Data-adaptive depth: most blocks carry no inner txns, and the
            # depth-1 plan skips the per-level posexplode unions entirely
            # (cheaper to plan AND to run); the batch-wide inner count came
            # free with the gate collect above.
            depth = None if any(r["n_inner"] > 0 for r in nz_applied) else 1
            flat = (
                transforms.flatten_txns(nz_blocks)
                if depth is None
                else transforms.flatten_txns(nz_blocks, depth=1)
            ).cache()

        # Per-table work is independent (separate manifests), so submit the
        # Spark jobs concurrently — the same intra-block parallelism the
        # reference gets from its second serializable transaction (A19,
        # cockroach.go:167-199), generalized to all nine tables.
        # The flatten materialization itself is submitted as the FIRST
        # concurrent job (r8 optimization: it used to run serially before
        # the fan-out, leaving the cluster idle while the header append —
        # which does not need it — could already be running); the three
        # flat consumers below wait on its future before they start, so
        # they still hit the cache instead of racing to compute it.
        tasks: list = []
        if "block_header" in pending:
            tasks.append(lambda: self.store.append_facts(
                "block_header", transforms.block_headers(blocks)
            ))

        def _append_txn():
            flat_ready.result()
            self.store.append_facts("txn", transforms.txns(nz_blocks, rows=flat))

        def _append_participation():
            flat_ready.result()
            self.store.append_facts(
                "txn_participation",
                transforms.participation(nz_blocks, rows=flat),
            )

        if flat is not None:
            tasks += [
                t for n, t in (("txn", _append_txn),
                               ("txn_participation", _append_participation))
                if n in pending
            ]
        # dense-update heuristic: the gate collect already counted updates
        # per plane; when a batch averages >=4 keys per bucket every bucket
        # collides anyway, so the merge skips its touched-bucket discovery
        # job (store.merge_state touch_all)
        dense = 4 * self.store.n_buckets
        n_upd = {k: sum(r[k] for r in nz_applied) for k in
                 ("n_accts", "n_assets", "n_apps", "n_boxes")}
        def _merge_account_task():
            acct, upd = self._account_fold(nz_blocks)
            self._merge_account(
                acct,
                touch_keys=upd.select("addr"),
                touch_all=n_upd["n_accts"] >= dense,
                last_round=last_round,
            )

        if has["n_accts"]:
            tasks.append(_merge_account_task)
        if has["n_assets"]:
            tasks.append(lambda: self._merge_assets(
                nz_blocks, n_upd["n_assets"] >= dense, last_round))
        if has["n_apps"]:
            tasks.append(lambda: self._merge_apps(
                nz_blocks, n_upd["n_apps"] >= dense, last_round))
        if has["n_boxes"]:
            tasks.append(lambda: self._merge_boxes(
                nz_blocks, n_upd["n_boxes"] >= dense, last_round))

        # try/finally so a failing table task cannot leak the cached
        # micro-batch / flatten across batches of a long-lived streaming
        # session (r8 ADVICE): unpersist runs on EVERY exit path, while
        # the metastate commit (the exactly-once commit point) still runs
        # only after every table job succeeded.
        pool = ThreadPoolExecutor(max_workers=6)
        try:
            if flat is not None:
                flat_ready = pool.submit(flat.count)
            for fut in [pool.submit(t) for t in tasks]:
                fut.result()  # re-raise the first failure

            # metastate: special accounts + round high-water mark in ONE
            # merge (the round update is the commit point)
            last = max(meta_rows, key=lambda r: r["round"])
            accounts_v = json.dumps(
                {
                    "FeeSink": _b64(bytes(last["fee_sink"]))
                    if last["fee_sink"]
                    else None,
                    "RewardsPool": _b64(bytes(last["rewards_pool"]))
                    if last["rewards_pool"]
                    else None,
                }
            )
            self.store.merge_metastate(
                {
                    "accounts": accounts_v,
                    "state": json.dumps({"next_account_round": last_round + 1}),
                }
            )
        finally:
            pool.shutdown(wait=True)
            if flat is not None:
                flat.unpersist()
            unfiltered.unpersist()
        return len(todo)

    def _account_fold(self, blocks: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(folded account frame, raw update stream) for one micro-batch —
        the pure-computation half of the account merge.

        Fused fold (r8): the balance-update stream and the root-txn
        sig-delta stream are BOTH last-wins folds keyed by addr, so one
        tagged union + one groupBy(addr) computes both — one exchange
        instead of two aggregations joined back together (the join also
        cost an AQE stage).  max_by ignores rows whose ordering value is
        NULL, so each family's ordering key is nulled out on the other
        family's rows; the left-join semantics (sig deltas apply only to
        addrs with a balance update — writer.go:181-225) survive as the
        has_upd filter.  Sig deltas only need ROOT txns, so the flatten
        here is always depth-1 — and on a payset-free batch the sig
        stream is simply empty, which reproduces the old no-txn
        variant's NULL keytype_delta / delta_present=false exactly
        (max_by over no rows → NULL struct; max(is_sig) → false)."""
        upd = transforms.account_updates(blocks)
        value_cols = ["microalgos", "rewardsbase", "rewards_total", "account_data"]
        flat = transforms.flatten_txns(blocks, depth=1)
        sig_rows = transforms.sigtype_delta_rows(blocks, rows=flat)
        unioned = upd.withColumn("is_sig", F.lit(False)).unionByName(
            sig_rows.select(
                "round",
                F.col("intra").alias("pos"),
                "addr",
                "keytype",
                F.lit(True).alias("is_sig"),
            ),
            allowMissingColumns=True,
        )
        ord_upd = F.when(
            ~F.col("is_sig"), F.struct(F.col("round"), F.col("pos"))
        )
        ord_sig = F.when(
            F.col("is_sig"), F.struct(F.col("round"), F.col("pos"))
        )
        aggs = [
            F.min(F.when(~F.col("is_sig"), F.col("round"))).alias("first_round"),
            F.max_by("op", ord_upd).alias("last_op"),
            F.max(F.when(F.col("op") == "delete", F.col("round"))).alias(
                "last_delete_round"
            ),
        ]
        aggs += [F.max_by(c, ord_upd).alias(f"last_{c}") for c in value_cols]
        aggs += [
            # keytype rides inside a non-null struct so a NULL keytype
            # (= clear the column) survives the max_by
            F.max_by(F.struct(F.col("keytype")), ord_sig).alias("_sig_d"),
            F.max("is_sig").alias("delta_present"),
            F.max(~F.col("is_sig")).alias("_has_upd"),
        ]
        acct = (
            unioned.groupBy("addr")
            .agg(*aggs)
            .where("_has_upd")
            .withColumn("keytype_delta", F.col("_sig_d.keytype"))
            .drop("_sig_d", "_has_upd")
        )
        return acct, upd

    def _merge_assets(
        self, blocks: DataFrame, touch_all: bool = False, last_round: int | None = None
    ) -> None:
        aupd = transforms.asset_updates(blocks)
        asset = _fold(aupd, ["id"], ["creator_addr", "params"])
        self.store.merge_state(
            "asset",
            asset,
            {
                "id": F.col("u.id"),
                "creator_addr": F.col("u.last_creator_addr"),
                "params": F.col("u.last_params"),
                **_lineage_cols(),
            },
            touch_keys=aupd.select("id"),
            touch_all=touch_all,
            last_round=last_round,
        )
        aaupd = transforms.account_asset_updates(blocks)
        # deleteAccountAsset's ON CONFLICT updates only amount/deleted/
        # closed_at (writer.go:95-98): an existing row's frozen survives a
        # delete; FALSE applies only to newly-inserted tombstones.  The fold
        # therefore tracks the last frozen set by an UPSERT separately
        # (statement-order: upsert-then-delete in one batch keeps the
        # upsert's frozen).
        ord_ = F.struct(F.col("round"), F.col("pos"))
        aa = _fold(
            aaupd,
            ["addr", "assetid"],
            ["amount", "frozen"],
            extra_aggs=[
                F.max_by(
                    "frozen", F.when(F.col("op") == "upsert", ord_)
                ).alias("last_upsert_frozen")
            ],
        )
        self.store.merge_state(
            "account_asset",
            aa,
            {
                "addr": F.col("u.addr"),
                "assetid": F.col("u.assetid"),
                "amount": F.col("u.last_amount"),
                "frozen": F.when(
                    F.col("u.last_op") == "delete",
                    F.coalesce(
                        F.col("u.last_upsert_frozen"),
                        F.col("e.frozen"),
                        F.lit(False),
                    ),
                ).otherwise(F.col("u.last_frozen")),
                **_lineage_cols(),
            },
            touch_keys=aaupd.select("addr", "assetid"),
            touch_all=touch_all,
            last_round=last_round,
        )

    def _merge_apps(
        self, blocks: DataFrame, touch_all: bool = False, last_round: int | None = None
    ) -> None:
        aupd = transforms.app_updates(blocks)
        app = _fold(aupd, ["id"], ["creator", "params"])
        self.store.merge_state(
            "app",
            app,
            {
                "id": F.col("u.id"),
                "creator": F.col("u.last_creator"),
                "params": F.col("u.last_params"),
                **_lineage_cols(),
            },
            touch_keys=aupd.select("id"),
            touch_all=touch_all,
            last_round=last_round,
        )
        apupd = transforms.account_app_updates(blocks)
        ap = _fold(apupd, ["addr", "app"], ["localstate"])
        self.store.merge_state(
            "account_app",
            ap,
            {
                "addr": F.col("u.addr"),
                "app": F.col("u.app"),
                "localstate": F.col("u.last_localstate"),
                **_lineage_cols(),
            },
            touch_keys=apupd.select("addr", "app"),
            touch_all=touch_all,
            last_round=last_round,
        )

    def _merge_boxes(
        self, blocks: DataFrame, touch_all: bool = False, last_round: int | None = None
    ) -> None:
        bupd = transforms.box_updates(blocks)
        box = _fold(bupd, ["app", "name"], ["value"])
        self.store.merge_state(
            "app_box",
            box,
            {
                "app": F.col("u.app"),
                "name": F.col("u.name"),
                "value": F.col("u.last_value"),
                "__drop__": F.col("u.last_op") == "delete",
            },
            touch_keys=bupd.select("app", "name"),
            touch_all=touch_all,
            last_round=last_round,
        )

    def _merge_account(
        self,
        folded: DataFrame,
        touch_keys=None,
        touch_all: bool = False,
        last_round: int | None = None,
    ) -> None:
        """account MERGE incl. the keytype clauses (writer.go:62-113,
        :155-179): when a sig-type delta arrived the column takes the delta
        VALUE — which is NULL for a sender whose last root txn was rekeyed
        or stateproof (deleteAccountUpdateKeytype / upsertAccountWithKeytype
        with nil clears it); with no delta the existing value is preserved —
        on upserts AND deletes.  coalesce() cannot express the clear, hence
        the explicit delta_present CASE."""
        self.store.merge_state(
            "account",
            folded,
            {
                "addr": F.col("u.addr"),
                "microalgos": F.col("u.last_microalgos"),
                "rewardsbase": F.col("u.last_rewardsbase"),
                "rewards_total": F.col("u.last_rewards_total"),
                "keytype": F.when(
                    F.col("u.delta_present"), F.col("u.keytype_delta")
                ).otherwise(F.col("e.keytype")),
                "account_data": F.col("u.last_account_data"),
                **_lineage_cols(),
            },
            touch_keys=touch_keys,
            touch_all=touch_all,
            last_round=last_round,
        )

    # -- streaming (A1/A2) ----------------------------------------------------

    #: mirror push order: facts (delta by round range), then state tables
    #: (the batch's changed keys, idempotent upsert), then boxes (upsert of
    #: the batch's live keys plus its deletes)
    _MIRROR_FACTS = ("block_header", "txn", "txn_participation")
    _MIRROR_STATE = (
        "account", "account_asset", "asset", "app", "account_app", "metastate",
    )
    #: state plane → the update stream whose keys a batch changed in it
    _MIRROR_UPDATES = {
        "account": transforms.account_updates,
        "account_asset": transforms.account_asset_updates,
        "asset": transforms.asset_updates,
        "app": transforms.app_updates,
        "account_app": transforms.account_app_updates,
        "app_box": transforms.box_updates,
    }

    def stream_ingest(
        self,
        blocks_stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
        mirror=None,
    ):
        """Structured Streaming wrapper: foreachBatch → add_blocks.  The
        round gate makes redelivered batches no-ops, which together with
        the checkpoint gives exactly-once table maintenance (A2/A3).

        With ``mirror`` (a :class:`sparkroach.sinks.jdbc.JdbcMirror`), the
        SAME micro-batch also pushes the batch to the external database:
        store first, mirror second, checkpoint commit last.  Every mirror
        write is idempotent (fact append is PK-guarded, state merges are
        upserts), so a crash at ANY point replays the batch and converges —
        the store may briefly run AHEAD of the mirror but never behind,
        the cross-sink version of the reference's facts-ahead invariant
        (cockroach.go:189-199).  Exactly-once across BOTH sinks under a
        mid-stream crash/restart is proven on real postgres in
        tests/test_jdbc_postgres.py::test_stream_ingest_mirrors_postgres_exactly_once.
        """

        def _apply(df: DataFrame, batch_id: int) -> None:
            batch = df.sortWithinPartitions("round")
            self.add_blocks(batch)
            if mirror is not None:
                self._mirror_batch(mirror, batch)

        writer = blocks_stream.writeStream.foreachBatch(_apply).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _mirror_batch(self, mirror, batch_df: DataFrame) -> None:
        """Push one ingested micro-batch to the external mirror.

        Facts move as a round-range DELTA (the batch's rounds only — at
        cluster scale the fact tables dwarf any batch); each state plane
        moves only the current rows of the keys this batch changed (a
        semi-join of the store with the batch's update keys), so a push
        costs O(changed rows) like the store merge itself.  The bounded
        metastate moves whole, and so does the account plane in the batch
        holding round 0, which carries the genesis allocations
        (:meth:`load_genesis` writes them without a block delta).  A
        redelivered batch re-pushes the same rows and every statement is
        idempotent, so convergence needs no cross-sink transaction."""
        bounds = batch_df.agg(
            F.min("round").alias("lo"), F.max("round").alias("hi")
        ).collect()[0]  # bounded: one row
        if bounds.lo is None:
            return
        for t in self._MIRROR_FACTS:
            mirror.apply_state_batch(
                t,
                self.store.read(t).where(
                    F.col("round").between(bounds.lo, bounds.hi)
                ),
            )
        for t in self._MIRROR_STATE:
            whole = t == "metastate" or (t == "account" and bounds.lo == 0)
            mirror.apply_state_batch(
                t, self.store.read(t) if whole else self._changed_rows(t, batch_df)
            )
        # app_box is the one physically-deleted state plane (A13): the
        # store DROPS delete-marked boxes in _merge_boxes, so pushing only
        # live rows would leave a box deleted after being mirrored in the
        # external DB forever (r5 ADVICE).  Re-derive this batch's folded
        # box ops and push the delete-flagged keys alongside the live
        # upserts — apply_state_batch runs box_delete_sql over op='delete'
        # staging rows before the merge, and a redelivered delete of an
        # absent key is a no-op, preserving idempotent convergence.
        bupd = _fold(
            transforms.box_updates(batch_df), ["app", "name"], ["value"]
        )
        box_deletes = bupd.where(F.col("last_op") == "delete").select(
            "app",
            "name",
            F.col("last_value").alias("value"),
            F.lit("delete").alias("op"),
        )
        mirror.apply_state_batch(
            "app_box",
            self._changed_rows("app_box", batch_df)
            .withColumn("op", F.lit("upsert"))
            .unionByName(box_deletes),
        )

    def _changed_rows(self, table: str, batch_df: DataFrame) -> DataFrame:
        """The current rows of ``table`` whose keys ``batch_df`` updates."""
        keys = TABLE_KEYS[table]
        changed = self._MIRROR_UPDATES[table](batch_df).select(*keys)
        return self.store.read(table).join(changed, keys, "left_semi")

    # -- health / pruning (A23, A25) -------------------------------------------

    def get_network_state(self) -> dict | None:
        """GetNetworkState (cockroach.go:395-414): the stored genesis hash,
        or None when accounting is not initialized."""
        raw = self.store.get_metastate("network")
        return None if raw is None else json.loads(raw)

    def set_network_state(self, genesis_hash: bytes, network: str = "") -> None:
        """SetNetworkState (cockroach.go:395-400)."""
        self.store.set_metastate(
            "network",
            json.dumps({"genesis-hash": _b64(genesis_hash), "network": network}),
        )

    def migration_state(self) -> dict | None:
        raw = self.store.get_metastate("migration")
        return None if raw is None else json.loads(raw)

    def health(self) -> dict:
        """Health (cockroach.go:416-459): max accounted round, migration
        status derived from the metastate sentinel, availability.  A
        missing migration key or one below the done-sentinel means the
        schema still needs migration work — surfaced, not hardcoded."""
        nxt = self.next_round()
        mig = self.migration_state()
        migration_required = mig is None or mig.get("next", 0) < MIGRATION_DONE_SENTINEL
        return {
            "round": (nxt - 1) if nxt else 0,
            "is-migrating": migration_required,
            "db-available": not migration_required,
            "data": {"migration-required": migration_required},
            "error": "",
        }

    def delete_transactions(self, keep: int) -> int:
        """A25: drop txn rows with round < keep; record prune status in the
        reference's DeleteStatus shape — keys ``last_pruned`` (timestamp
        text) and ``oldest_txn_round`` (types.go:32-36, metastate key
        ``pruned`` schema/metastate.go:10)."""
        from datetime import datetime, timezone

        n = self.store.delete_facts_below("txn", keep)
        self.store.delete_facts_below("txn_participation", keep)
        self.store.set_metastate(
            "pruned",
            json.dumps(
                {
                    "last_pruned": datetime.now(timezone.utc).isoformat(),
                    "oldest_txn_round": keep,
                }
            ),
        )
        return n


def _b64(b: bytes) -> str:
    import base64

    return base64.b64encode(b).decode("ascii")


def blocks_from_json(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory/file of block JSON lines with the block schema —
    the file-based stand-in for the conduit importer feed."""
    return spark.read.schema(block_schema()).json(path)
