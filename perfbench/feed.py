"""A seeded block feed and a Spark-free reference fold of it.

The engine only ever sees the rendered JSON lines (one ``block_<round>.json``
file per round, the input ``sparkroach.sources.blocks_from_dir`` reads).  The
same block objects drive :class:`Reference`, a plain-Python fold that gives
the expected contents of the nine tables and the expected answer to every
Indexer read the benchmark issues.

The feed is Zipf-skewed pay / axfer / appl traffic over a large genesis,
with two-level inner-transaction trees under every appl, asset, app,
local-state and box deltas, and occasional account closes, holding closes,
asset destroys, app close-outs and box deletes.
"""

from __future__ import annotations

import base64
import bisect
import hashlib
import itertools
import json
import random
import zlib
from dataclasses import dataclass

GENESIS_HASH = hashlib.sha256(b"perfbench-genesis").digest()
GENESIS_ID = "perfbench-v1"
FEE = 1000
SIG = b"\x11" * 64
FEE_SINK = b"\xfe" * 32
REWARDS_POOL = b"\xaa" * 32
BASE_TS = 1_700_000_000


@dataclass(frozen=True)
class Shape:
    """Size of one feed: a warm-up batch of round 0 plus ``warm_blocks``
    blocks, then ``n_batches`` batches of ``blocks_per_batch`` blocks."""

    n_batches: int
    blocks_per_batch: int
    txns_per_block: int
    n_accounts: int  # genesis allocations
    n_assets: int = 0
    n_apps: int = 0
    warm_blocks: int = 4
    zipf_s: float = 1.1


MIXED = Shape(1, 8, 30, 50_000, n_assets=200, n_apps=60)
TINY = Shape(1, 4, 8, 500, n_assets=10, n_apps=5, warm_blocks=2)


def _addr(rng: random.Random) -> bytes:
    return rng.randbytes(32)


def _txid(rng: random.Random) -> str:
    return base64.b32encode(rng.randbytes(32)).decode("ascii").rstrip("=")


def app_address(app: int) -> bytes:
    return hashlib.sha256(b"appID" + app.to_bytes(8, "big")).digest()


def box_key(app: int, name: bytes) -> bytes:
    return b"bx" + app.to_bytes(8, "big") + name


class _Generator:
    """Walks the chain forward one block at a time, keeping the balances and
    holdings it needs to emit consistent deltas."""

    def __init__(self, shape: Shape, seed: int):
        self.shape = shape
        self.rng = random.Random(seed)
        rng = self.rng
        self.accounts = [_addr(rng) for _ in range(shape.n_accounts)]
        self.faucet = _addr(rng)
        self.apps = [5000 + 7 * i for i in range(shape.n_apps)]
        self.assets = [1000 + 3 * i for i in range(shape.n_assets)]
        self.balance: dict[bytes, int] = {
            a: 10**9 + rng.randrange(10**6) for a in self.accounts
        }
        self.balance[self.faucet] = 10**15
        for app in self.apps:
            self.balance[app_address(app)] = 10**12
        self.genesis = [
            {"addr": a, "microalgos": b} for a, b in self.balance.items()
        ]
        weights = (1.0 / (k**shape.zipf_s) for k in range(1, shape.n_accounts + 1))
        self._acct_cum = list(itertools.accumulate(weights))
        self._asset_cum = list(
            itertools.accumulate(1.0 / k for k in range(1, len(self.assets) + 1))
        )
        self._app_cum = list(
            itertools.accumulate(1.0 / k for k in range(1, len(self.apps) + 1))
        )
        self.asset_state: dict[int, str] = {}  # id -> "live" | "destroyed"
        self.app_created: set[int] = set()
        self.holding: dict[tuple[bytes, int], int] = {}
        self.local_count: dict[tuple[bytes, int], int] = {}
        self.txn_counter = 0

    def _zipf(self, cum: list[float], items: list):
        x = self.rng.random() * cum[-1]
        return items[min(bisect.bisect_left(cum, x), len(items) - 1)]

    def _acct(self) -> bytes:
        return self._zipf(self._acct_cum, self.accounts)

    def header(self, r: int, payset: list, delta: dict) -> dict:
        self.txn_counter += len(payset)
        return {
            "round": r,
            "timestamp": BASE_TS + 4 * r,
            "genesis_id": GENESIS_ID,
            "genesis_hash": GENESIS_HASH,
            "rewards_level": 0,
            "txn_counter": self.txn_counter,
            "fee_sink": FEE_SINK,
            "rewards_pool": REWARDS_POOL,
            "payset": payset,
            "delta": delta,
        }

    def block(self, r: int) -> dict:
        if r == 0:
            return self.header(0, [], {"accts": [], "asset_resources": [],
                                       "app_resources": [], "kv_mods": []})
        return self._mixed_block(r)

    # -- mixed ----------------------------------------------------------------

    def _mixed_block(self, r: int) -> dict:
        rng = self.rng
        self._touched: dict[bytes, None] = {}
        self._assets: dict[tuple[bytes, int], dict] = {}
        self._apps: dict[tuple[bytes, int], dict] = {}
        self._boxes: dict[bytes, bytes | None] = {}
        payset = []
        for _ in range(self.shape.txns_per_block):
            u = rng.random()
            if u < 0.25 and self.assets:
                txn = self._axfer()
            elif u < 0.40 and self.apps:
                txn = self._appl()
            else:
                txn = self._payment()
            payset.append(txn)
        if self.assets and rng.random() < 0.05:
            self._destroy_asset()
        accts = [
            {"addr": a, "microalgos": self.balance[a], "status": 1}
            for a in self._touched
        ]
        asset_res = [dict(aidx=k[1], addr=k[0], **v) for k, v in self._assets.items()]
        app_res = [dict(aidx=k[1], addr=k[0], **v) for k, v in self._apps.items()]
        kv = [{"key": k, "value": v} for k, v in self._boxes.items()]
        return self.header(r, payset, {"accts": accts, "asset_resources": asset_res,
                                       "app_resources": app_res, "kv_mods": kv})

    def _move(self, snd: bytes, rcv: bytes, amt: int, fee: int) -> None:
        self.balance[snd] -= amt + fee
        self.balance[rcv] = self.balance.get(rcv, 0) + amt
        self._touched[snd] = self._touched[rcv] = None

    def _payment(self) -> dict:
        rng = self.rng
        snd, rcv = self._acct(), self._acct()
        if snd == rcv:
            rcv = self.faucet
        if self.balance[snd] < 10**6:  # closed account: refund it from the faucet
            snd, rcv = self.faucet, snd
        amt = rng.randint(1, 10_000)
        if snd != self.faucet and rng.random() < 0.02:
            # close-out: the sender's whole balance moves to the receiver
            rest = self.balance[snd] - FEE
            self._move(snd, rcv, rest, FEE)
            return _leaf_root(rng, _pay(snd, rcv, 0, close=rcv))
        self._move(snd, rcv, amt, FEE)
        return _leaf_root(rng, _pay(snd, rcv, amt))

    def _asset_entry(self, addr: bytes, aid: int) -> dict:
        return self._assets.setdefault((addr, aid), {})

    def _axfer(self) -> dict:
        rng = self.rng
        aid = self._zipf(self._asset_cum, self.assets)
        if self.asset_state.get(aid) == "destroyed":
            return self._payment()
        snd, rcv = self._acct(), self._acct()
        if snd == rcv or self.balance[snd] < 10**6:
            return self._payment()
        if aid not in self.asset_state:
            self.asset_state[aid] = "live"
            self._asset_entry(snd, aid)["params"] = {
                "total": 10**12,
                "decimals": 2,
                "unit_name": b"U%d" % aid,
                "asset_name": b"asset-%d" % aid,
                "manager": snd,
            }
        have = self.holding.get((snd, aid), 10**6)
        amt = rng.randint(1, 1000)
        close = rng.random() < 0.05
        moved = have if close else min(amt, have)
        self.holding[(rcv, aid)] = self.holding.get((rcv, aid), 0) + moved
        ent = self._asset_entry(snd, aid)
        if close:
            self.holding.pop((snd, aid), None)
            ent.pop("holding", None)
            ent["holding_deleted"] = True
        else:
            self.holding[(snd, aid)] = have - moved
            ent["holding_deleted"] = False
            ent["holding"] = {"amount": have - moved, "frozen": False}
        rent = self._asset_entry(rcv, aid)
        rent["holding_deleted"] = False
        rent["holding"] = {"amount": self.holding[(rcv, aid)], "frozen": False}
        self._move(snd, snd, 0, FEE)
        body = {"type": "axfer", "snd": snd, "fee": FEE, "xaid": aid,
                "aamt": moved, "arcv": rcv}
        if close:
            body["aclose"] = rcv
        return _leaf_root(rng, body)

    def _destroy_asset(self) -> None:
        live = sorted(a for a, s in self.asset_state.items() if s == "live")
        if not live:
            return
        aid = self.rng.choice(live)
        self.asset_state[aid] = "destroyed"
        creator = self._acct()
        ent = self._asset_entry(creator, aid)
        ent["params_deleted"] = True
        ent.pop("params", None)

    def _appl(self) -> dict:
        rng = self.rng
        app = self._zipf(self._app_cum, self.apps)
        other = self._zipf(self._app_cum, self.apps)
        snd, rcv = self._acct(), self._acct()
        if self.balance[snd] < 10**6:
            return self._payment()
        if app not in self.app_created:
            self.app_created.add(app)
            self._apps.setdefault((snd, app), {})["params"] = {
                "approv": b"\x06\x81\x01",
                "clearp": b"\x06\x81\x01",
                "gsch": {"num_uint": 1, "num_byte_slice": 0},
                "lsch": {"num_uint": 1, "num_byte_slice": 0},
                "global_state": {"Y250": {"tt": 2, "tu": app}},
            }
        ent = self._apps.setdefault((snd, app), {})
        closeout = rng.random() < 0.05
        if closeout:
            self.local_count.pop((snd, app), None)
            ent.pop("local_state", None)
            ent["state_deleted"] = True
        else:
            n = self.local_count.get((snd, app), 0) + 1
            self.local_count[(snd, app)] = n
            ent["state_deleted"] = False
            ent["local_state"] = {
                "schema": {"num_uint": 1, "num_byte_slice": 0},
                "key_value": {"Y250": {"tt": 2, "tu": n}},
            }
        name = b"box%02d" % rng.randrange(12)
        self._boxes[box_key(app, name)] = (
            None if rng.random() < 0.1 else rng.randbytes(16)
        )
        # two-level inner tree: app pays the caller, and calls another app
        # that pays the referenced account
        a_addr, o_addr = app_address(app), app_address(other)
        pay1, pay2 = rng.randint(1, 100), rng.randint(1, 100)
        self._move(snd, snd, 0, FEE)
        self._move(a_addr, snd, pay1, 0)
        self._move(o_addr, rcv, pay2, 0)
        inner_call = {
            "txn": {"type": "appl", "snd": a_addr, "apid": other},
            "ad": {"dt": {"itx": [{"txn": _pay(o_addr, rcv, pay2, fee=0)}]}},
        }
        body = {"type": "appl", "snd": snd, "fee": FEE, "apid": app,
                "apan": 2 if closeout else 0, "apat": [rcv]}
        root = _root(rng, body)
        root["ad"] = {"dt": {"itx": [{"txn": _pay(a_addr, snd, pay1, fee=0)},
                                     inner_call]}}
        return root


def _pay(snd: bytes, rcv: bytes, amt: int, close: bytes | None = None,
         fee: int = FEE) -> dict:
    body = {"type": "pay", "snd": snd, "rcv": rcv, "amt": amt, "fee": fee}
    if close is not None:
        body["close"] = close
    return body


def _root(rng: random.Random, body: dict) -> dict:
    return {"txid": _txid(rng), "txn": body, "sig": SIG}


def _leaf_root(rng: random.Random, body: dict) -> dict:
    """A root txn of the mixed feed without inner txns.  It carries an
    explicit empty inner list: ``ChainDB.add_blocks`` sums ``size(itx)``
    over the payset to choose its flatten depth, and ``size`` of a missing
    list is -1 with ANSI mode off, so blocks whose plain txns outnumber
    their inner txns would be flattened one level deep and lose the inner
    rows."""
    return dict(_root(rng, body), ad={"dt": {"itx": []}})


def render(obj) -> str:
    """One block as the JSON line the block source reads: bytes become
    base64 strings, as Spark's JSON reader expects for binary columns."""

    def conv(v):
        if isinstance(v, bytes):
            return base64.b64encode(v).decode("ascii")
        if isinstance(v, dict):
            return {k: conv(x) for k, x in v.items()}
        if isinstance(v, list):
            return [conv(x) for x in v]
        return v

    return json.dumps(conv(obj), separators=(",", ":"))


@dataclass
class Feed:
    genesis: list[dict]
    blocks: list[dict]  # index == round
    batches: list[list[int]]  # batch 0 is the warm-up batch (it holds round 0)


def make_feed(shape: Shape, seed: int) -> Feed:
    gen = _Generator(shape, seed)
    first = 1 + shape.warm_blocks
    n_rounds = first + shape.n_batches * shape.blocks_per_batch
    blocks = [gen.block(r) for r in range(n_rounds)]
    rounds = list(range(n_rounds))
    batches = [rounds[:first]] + [
        rounds[i:i + shape.blocks_per_batch]
        for i in range(first, n_rounds, shape.blocks_per_batch)
    ]
    return Feed(gen.genesis, blocks, batches)


# ---------------------------------------------------------------------------
# reference fold
# ---------------------------------------------------------------------------


def _flatten(payset: list) -> list[tuple[dict, str | None]]:
    """Preorder walk of the payset and its inner trees: (txn, txid) per row,
    txid None on inner rows.  List position is the row's intra."""
    out: list[tuple[dict, str | None]] = []

    def walk(t: dict, root: bool) -> None:
        out.append((t, t.get("txid") if root else None))
        for child in ((t.get("ad") or {}).get("dt") or {}).get("itx") or []:
            walk(child, False)

    for t in payset:
        walk(t, True)
    return out


def _participants(body: dict) -> set[bytes]:
    roles = {
        "pay": ("rcv", "close"),
        "axfer": ("asnd", "arcv", "aclose"),
        "afrz": ("fadd",),
    }.get(body["type"], ())
    out = [body.get("snd")] + [body.get(k) for k in roles]
    if body["type"] == "appl":
        out += body.get("apat") or []
    return {a for a in out if a}


class Reference:
    """The tables' expected contents after applying rounds in order, with
    the engine's lineage rules: ``created_at`` is the first round a key was
    written, ``closed_at`` the last round it was deleted, ``deleted`` whether
    its last write was a delete; genesis accounts are created at round 0."""

    def __init__(self, genesis: list[dict]):
        self.next_round = 0
        self.n_headers = 0
        self.txns: dict[int, list[tuple[int, str | None]]] = {}  # round -> [(intra, txid)]
        self.n_participation = 0
        self.by_addr: dict[bytes, list[tuple[int, int]]] = {}
        self.by_txid: dict[str, tuple[int, int]] = {}
        self.account = {g["addr"]: [g["microalgos"], False, 0, None] for g in genesis}
        self.asset: dict[int, list] = {}
        self.holding: dict[tuple[bytes, int], list] = {}
        self.app: dict[int, list] = {}
        self.local: dict[tuple[bytes, int], list] = {}
        self.boxes: dict[tuple[int, bytes], bytes] = {}

    @staticmethod
    def _lineage(table: dict, key, r: int, delete: bool, value) -> None:
        row = table.get(key)
        if row is None:
            row = table[key] = [None, False, r, None]
        row[0], row[1] = value, delete
        if delete:
            row[3] = r

    def apply(self, block: dict) -> None:
        r = block["round"]
        assert r == self.next_round, (r, self.next_round)
        self.next_round = r + 1
        self.n_headers += 1
        if r == 0:  # header-only round
            self.txns[0] = []
            return
        rows = _flatten(block["payset"])
        self.txns[r] = [(i, txid) for i, (_, txid) in enumerate(rows)]
        for i, (t, txid) in enumerate(rows):
            if txid is not None:
                self.by_txid[txid] = (r, i)
            for a in _participants(t["txn"]):
                self.n_participation += 1
                self.by_addr.setdefault(a, []).append((r, i))
        d = block["delta"]
        for a in d["accts"]:
            m = a["microalgos"]
            self._lineage(self.account, a["addr"], r, m == 0, m)
        for e in d["asset_resources"]:
            if e.get("params_deleted") or e.get("params") is not None:
                self._lineage(self.asset, e["aidx"], r, bool(e.get("params_deleted")), None)
            if e.get("holding_deleted") or e.get("holding") is not None:
                dele = bool(e.get("holding_deleted"))
                amt = 0 if dele else e["holding"]["amount"]
                self._lineage(self.holding, (e["addr"], e["aidx"]), r, dele, amt)
        for e in d["app_resources"]:
            if e.get("params_deleted") or e.get("params") is not None:
                self._lineage(self.app, e["aidx"], r, bool(e.get("params_deleted")), None)
            if e.get("state_deleted") or e.get("local_state") is not None:
                self._lineage(self.local, (e["addr"], e["aidx"]), r,
                              bool(e.get("state_deleted")), None)
        for m in d["kv_mods"]:
            k = m["key"]
            key = (int.from_bytes(k[2:10], "big"), k[10:])
            if m["value"] is None:
                self.boxes.pop(key, None)
            else:
                self.boxes[key] = m["value"]

    # -- expected table contents ----------------------------------------------

    def table_counts(self) -> dict[str, int]:
        return {
            "block_header": self.n_headers,
            "txn": sum(len(v) for v in self.txns.values()),
            "txn_participation": self.n_participation,
            "account": len(self.account),
            "account_asset": len(self.holding),
            "asset": len(self.asset),
            "app": len(self.app),
            "account_app": len(self.local),
            "app_box": len(self.boxes),
        }

    def account_checksum(self) -> int:
        return account_checksum(
            (a, m, d, c, x) for a, (m, d, c, x) in self.account.items()
        )

    # -- expected read answers ------------------------------------------------

    def block(self, r: int) -> list:
        return sorted(self.txns[r]) or [(None, None)]

    def txn_by_address(self, addr: bytes) -> list:
        return sorted(set(self.by_addr.get(addr, [])))

    def txn_by_round_range(self, lo: int, hi: int) -> list:
        return [(r, i) for r in range(lo, hi + 1) for i, _ in self.txns.get(r, [])]

    def txn_by_txid(self, txid: str) -> list:
        return [self.by_txid[txid]]

    def account_point(self, addr: bytes) -> list:
        row = self.account.get(addr)
        if row is None or row[1]:
            return []
        assets = sorted(
            (aid, amt) for (a, aid), (amt, dele, _, _) in self.holding.items()
            if a == addr and not dele
        )
        return [(row[0], assets)]

    def asset_balances(self, aid: int) -> list:
        return sorted(
            (a, amt) for (a, x), (amt, dele, _, _) in self.holding.items()
            if x == aid and not dele
        )

    def app_boxes(self, app: int) -> list:
        return sorted((n, v) for (a, n), v in self.boxes.items() if a == app)


def account_line(addr: bytes, micro: int, deleted: bool, created, closed) -> str:
    """One account row as the text both sides checksum; the Spark side
    builds the same string with ``concat_ws`` (see ``run.py``)."""
    return "|".join((
        addr.hex().upper(), str(micro), "true" if deleted else "false",
        "null" if created is None else str(created),
        "null" if closed is None else str(closed),
    ))


def account_checksum(rows) -> int:
    """Order-free checksum of (addr, microalgos, deleted, created_at,
    closed_at) rows: the sum of each row's CRC-32."""
    return sum(zlib.crc32(account_line(*r).encode()) for r in rows)


READ_TYPES = (
    "block",
    "txn_by_address",
    "txn_by_round_range",
    "txn_by_txid",
    "account_point",
    "asset_balances",
    "app_boxes",
)


def read_plan(ref: Reference, seed: int, n: int) -> list[tuple[str, tuple]]:
    """A fixed, seeded sequence of ``n`` reads cycling through the seven
    read types, with arguments drawn from what the store holds."""
    rng = random.Random(seed * 1_000_003 + 17)
    rounds = sorted(ref.txns)
    addrs = sorted(ref.by_addr)
    accounts = sorted(ref.account)
    txids = sorted(ref.by_txid)
    held = sorted({aid for (_, aid) in ref.holding}) or [1]
    boxed = sorted({app for (app, _) in ref.boxes}) or [1]
    out = []
    for i in range(n):
        t = READ_TYPES[i % len(READ_TYPES)]
        if t == "block":
            args = (rng.choice(rounds),)
        elif t == "txn_by_address":
            args = (rng.choice(addrs),)
        elif t == "txn_by_round_range":
            lo = rng.randint(1, max(1, rounds[-1] - 7))
            args = (lo, lo + 7)
        elif t == "txn_by_txid":
            args = (rng.choice(txids),)
        elif t == "account_point":
            args = (rng.choice(accounts),)
        elif t == "asset_balances":
            args = (rng.choice(held),)
        else:
            args = (rng.choice(boxed),)
        out.append((t, args))
    return out
