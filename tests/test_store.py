"""ChainStore scale-posture unit tests: manifest file pruning and the
append watermark — the store-side behaviors the 100 TB story rests on
(SCALE.md §1; store.py docstrings)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkroach.chain.schemas import TABLE_SCHEMAS
from sparkroach.chain.store import ChainStore


@pytest.fixture()
def store(spark, tmp_path):
    return ChainStore(spark, str(tmp_path / "store"), n_buckets=4)


def _txn_rows(spark, rounds):
    rows = [(r, 0, 1, 0, f"T{r}", "{}", None) for r in rounds]
    return spark.createDataFrame(rows, TABLE_SCHEMAS["txn"])


def test_fact_read_prunes_files_by_round_range(store, spark):
    """A round-ranged read must list ONLY manifest files whose
    (min_round, max_round) overlap — the replacement for the reference's
    B-tree PK index.  At 100 TB this is the difference between touching a
    day of files and touching the table."""
    store.append_facts("txn", _txn_rows(spark, [0, 1, 2]))
    store.append_facts("txn", _txn_rows(spark, [3, 4, 5]))
    store.append_facts("txn", _txn_rows(spark, [6, 7, 8]))
    m = store._manifest("txn")
    assert len(m.files) == 3

    # the pruned read must list ONLY the one overlapping file's directory
    df = store.read("txn", min_round=4, max_round=5)
    scanned = set(df.inputFiles())
    dirs = {f.split("/")[-3] for f in scanned}  # .../vNNNNNN/data/part-*.parquet
    hit = {e["path"].split("/")[0] for e in m.files if e["min_round"] == 3}
    miss = {e["path"].split("/")[0] for e in m.files if e["min_round"] != 3}
    assert dirs & hit == hit
    assert not (dirs & miss)
    assert {r["round"] for r in df.collect()} == {4, 5}


def test_append_watermark_drops_replayed_rounds(store, spark):
    store.append_facts("txn", _txn_rows(spark, [0, 1, 2]))
    # full replay → no-op, no new manifest file
    n = store.append_facts("txn", _txn_rows(spark, [0, 1, 2]))
    assert n == 0
    assert len(store._manifest("txn").files) == 1
    # partial replay → only the new round lands
    n = store.append_facts("txn", _txn_rows(spark, [1, 2, 3]))
    assert n == 1
    rows = store.read("txn").collect()
    assert sorted(r["round"] for r in rows) == [0, 1, 2, 3]
    assert len({(r["round"], r["intra"]) for r in rows}) == 4


def test_merge_state_touches_only_dirty_buckets(store, spark):
    """Merge-on-read MERGE: a one-key update rewrites NO base bucket and
    writes one delta holding just that key; every base file is carried by
    reference and the read still resolves all 40 rows."""
    rows = [(i, bytes([i]) * 8, "{}", False, 0, None) for i in range(40)]
    df = spark.createDataFrame(rows, TABLE_SCHEMAS["asset"])
    folded = df.select(
        "id",
        F.lit(0).alias("first_round"),
        F.lit("upsert").alias("last_op"),
        F.lit(None).cast("long").alias("last_delete_round"),
        F.col("creator_addr").alias("last_creator_addr"),
        F.col("params").alias("last_params"),
    )
    cols = {
        "id": F.col("u.id"),
        "creator_addr": F.col("u.last_creator_addr"),
        "params": F.col("u.last_params"),
        "deleted": F.col("u.last_op") == "delete",
        "created_at": F.coalesce(F.col("e.created_at"), F.col("u.first_round")),
        "closed_at": F.coalesce(F.col("u.last_delete_round"), F.col("e.closed_at")),
    }
    store.merge_state("asset", folded, cols, touch_keys=df.select("id"))
    before = store._manifest("asset")
    assert before.delta is None and sum(before.bucket_rows.values()) == 40

    one = folded.where(F.col("id") == 7)
    store.merge_state("asset", one, cols, touch_keys=one.select("id"))
    after = store._manifest("asset")
    assert after.buckets == before.buckets  # no base bucket rewritten
    assert after.delta is not None and after.delta_rows == 1
    assert store._delta_keys("asset", after) == {"7": store.bucket_of("asset", (7,))}
    assert store.read("asset").count() == 40


def test_merge_touch_all_preserves_untouched_rows(store, spark):
    """touch_all skips bucket discovery but must not lose rows in buckets
    that happen to carry no updates (they are rewritten by reference)."""
    rows = [(i, bytes([i]) * 8, "{}", False, 0, None) for i in range(40)]
    df = spark.createDataFrame(rows, TABLE_SCHEMAS["asset"])

    def fold(src):
        return src.select(
            "id",
            F.lit(0).alias("first_round"),
            F.lit("upsert").alias("last_op"),
            F.lit(None).cast("long").alias("last_delete_round"),
            F.col("creator_addr").alias("last_creator_addr"),
            F.col("params").alias("last_params"),
        )

    cols = {
        "id": F.col("u.id"),
        "creator_addr": F.col("u.last_creator_addr"),
        "params": F.col("u.last_params"),
        "deleted": F.col("u.last_op") == "delete",
        "created_at": F.coalesce(F.col("e.created_at"), F.col("u.first_round")),
        "closed_at": F.coalesce(F.col("u.last_delete_round"), F.col("e.closed_at")),
    }
    store.merge_state("asset", fold(df), cols, touch_keys=df.select("id"))
    # dense path: update a single key with touch_all=True
    one = fold(df.where(F.col("id") == 3)).withColumn(
        "last_params", F.lit('{"x":1}')
    )
    store.merge_state("asset", one, cols, touch_all=True)
    out = {r["id"]: r for r in store.read("asset").collect()}
    assert len(out) == 40
    assert out[3]["params"] == '{"x":1}'
    assert out[5]["params"] == "{}"


def test_point_read_opens_one_bucket(store, spark):
    """The driver-side bucket mirror must agree with the Spark-side bucket
    assignment for every key, and a point read must list only that one
    bucket's files — the B-tree PK point-read analog."""
    rows = [(i, bytes([i % 251]) * 8, "{}", False, 0, None) for i in range(40)]
    df = spark.createDataFrame(rows, TABLE_SCHEMAS["asset"])
    folded = df.select(
        "id",
        F.lit(0).alias("first_round"),
        F.lit("upsert").alias("last_op"),
        F.lit(None).cast("long").alias("last_delete_round"),
        F.col("creator_addr").alias("last_creator_addr"),
        F.col("params").alias("last_params"),
    )
    cols = {
        "id": F.col("u.id"),
        "creator_addr": F.col("u.last_creator_addr"),
        "params": F.col("u.last_params"),
        "deleted": F.col("u.last_op") == "delete",
        "created_at": F.coalesce(F.col("e.created_at"), F.col("u.first_round")),
        "closed_at": F.coalesce(F.col("u.last_delete_round"), F.col("e.closed_at")),
    }
    store.merge_state("asset", folded, cols, touch_keys=df.select("id"))

    # Spark-side assignment == Python-side mirror, for every key
    spark_buckets = {
        r["id"]: r["b"]
        for r in df.select(
            "id", store._bucket_col("asset").alias("b")
        ).collect()
    }
    for i in range(40):
        assert store.bucket_of("asset", (i,)) == spark_buckets[i], i

    # point read opens exactly one bucket dir and still finds the row
    pt = store.read("asset", key=(17,)).where(F.col("id") == 17)
    dirs = {f.split("/__bucket=")[-1].split("/")[0] for f in pt.inputFiles()}
    assert dirs == {str(store.bucket_of("asset", (17,)))}
    assert pt.count() == 1

    # binary + composite keys mirror too (account_asset: (addr, assetid))
    aa_rows = [(bytes([i]) * 32, i, None, False, False, 0, None) for i in range(10)]
    aa = spark.createDataFrame(aa_rows, TABLE_SCHEMAS["account_asset"])
    got = {
        bytes(r["addr"]): r["b"]
        for r in aa.select(
            "addr", "assetid", store._bucket_col("account_asset").alias("b")
        ).collect()
    }
    for i in range(10):
        assert store.bucket_of("account_asset", (bytes([i]) * 32, i)) == got[bytes([i]) * 32]


def test_compact_facts_merges_small_files(store, spark):
    """Compaction merges round-adjacent small files, preserves every row,
    keeps pruning stats and the append watermark intact."""
    for lo in range(0, 10, 2):
        store.append_facts("txn", _txn_rows(spark, [lo, lo + 1]))
    assert len(store._manifest("txn").files) == 5
    before_rows = sorted(
        (r["round"], r["intra"]) for r in store.read("txn").collect()
    )

    nb, na = store.compact_facts("txn", target_rows=6)
    assert (nb, na) == (5, 2)  # 3 files (6 rows) + 2 files (4 rows)
    m = store._manifest("txn")
    assert max(e["max_round"] for e in m.files) == 9  # watermark unchanged
    # disjoint, ordered round ranges survive for pruning
    spans = sorted((e["min_round"], e["max_round"]) for e in m.files)
    assert spans == [(0, 5), (6, 9)]
    after_rows = sorted(
        (r["round"], r["intra"]) for r in store.read("txn").collect()
    )
    assert after_rows == before_rows
    # pruned read touches only the overlapping compacted file
    df = store.read("txn", min_round=7, max_round=8)
    dirs = {f.split("/")[-3] + "/" + f.split("/")[-2] for f in df.inputFiles()}
    assert len(dirs) == 1
    # appends continue seamlessly after compaction
    store.append_facts("txn", _txn_rows(spark, [10]))
    assert store.read("txn").count() == 11


def test_time_travel_reads_the_old_state(store, spark):
    """Every commit retains its manifest snapshot; read(version=) sees
    the table exactly as of that commit even after later merges rewrite
    the buckets (copy-on-write keeps the old files)."""
    from pyspark.sql import functions as F

    from sparkroach.chain.schemas import TABLE_SCHEMAS

    def box_rows(pairs):
        return spark.createDataFrame(
            [(app, name, val) for app, name, val in pairs],
            TABLE_SCHEMAS["app_box"],
        )

    cols = {
        "app": F.col("u.app"),
        "name": F.col("u.name"),
        "value": F.col("u.value"),
    }
    store.merge_state("app_box", box_rows([(1, b"k", b"v1")]), cols,
                      touch_all=True)
    v1 = store._manifest("app_box").version
    store.merge_state("app_box", box_rows([(1, b"k", b"v2")]), cols,
                      touch_all=True)
    v2 = store._manifest("app_box").version
    assert v2 > v1

    now = store.read("app_box").collect()
    then = store.read("app_box", version=v1).collect()
    assert [bytes(r["value"]) for r in now] == [b"v2"]
    assert [bytes(r["value"]) for r in then] == [b"v1"]
    assert store.snapshot_versions("app_box") == [v1, v2]


def test_merge_full_outer_semantics_in_one_pass(store, spark):
    """The one FULL OUTER join of a merge must preserve, within a single
    touched bucket: an updated key, a __drop__'d key, an untouched
    carry-over key, and a brand-new key whose merge expressions see NULL
    e.* (left-join nullability).  Below the fold threshold all of it lands
    in the delta — the dropped key as a tombstone that hides its base row
    — and a key re-inserted over its tombstone sees NULL e.* too, here in
    the merge that folds the delta into the base."""
    from pyspark.sql import functions as F

    from sparkroach.chain.schemas import TABLE_SCHEMAS

    def box_rows(pairs):
        return spark.createDataFrame(
            [(app, name, val) for app, name, val in pairs],
            TABLE_SCHEMAS["app_box"],
        )

    cols = {
        "app": F.col("u.app"),
        "name": F.col("u.name"),
        # new-key probe: e.value is NULL for an unmatched u row, so the
        # coalesce marks inserts distinguishably from updates
        "value": F.when(
            F.col("e.value").isNull(), F.concat(F.lit(b"new:"), F.col("u.value"))
        ).otherwise(F.col("u.value")),
        "__drop__": F.col("u.value") == F.lit(b"DROP"),
    }
    seed = {
        "app": F.col("u.app"),
        "name": F.col("u.name"),
        "value": F.col("u.value"),
    }
    # all keys share app=1 → the same bucket (bucket_col hashes key cols)
    store.merge_state(
        "app_box",
        box_rows([(1, b"upd", b"v0"), (1, b"gone", b"v0"), (1, b"keep", b"v0")]),
        seed,
        touch_all=True,
    )
    base = store._manifest("app_box").buckets
    store.merge_state(
        "app_box",
        box_rows([(1, b"upd", b"v1"), (1, b"gone", b"DROP"), (1, b"ins", b"v1")]),
        cols,
        touch_all=True,
    )
    m = store._manifest("app_box")
    assert m.buckets == base and m.delta_rows == 3  # tombstone included

    def names():
        return {
            bytes(r["name"]): bytes(r["value"])
            for r in store.read("app_box").collect()
        }

    assert names() == {
        b"upd": b"v1",        # matched update took u.value
        b"keep": b"v0",       # untouched carry-over survived the pass
        b"ins": b"new:v1",    # unmatched u row saw NULL e.* (insert)
    }                          # b"gone" hidden by its tombstone

    store.merge_state("app_box", box_rows([(1, b"gone", b"back")]), cols, touch_all=True)
    assert store._manifest("app_box").delta is None  # 3 delta rows >= 3 / 8: folded
    assert names() == {
        b"upd": b"v1", b"keep": b"v0", b"ins": b"new:v1", b"gone": b"new:back",
    }


def test_merge_drop_null_evaluates_to_keep(store, spark):
    """Contract pin (r8 ADVICE): a __drop__ expression that evaluates to
    NULL keeps the row.  The merge filter is ~coalesce(present & drop,
    false) — null-safe — so three-valued-logic NULLs behave like false;
    a caller that wants NULL to mean delete must coalesce its own
    expression at the call site."""
    from pyspark.sql import functions as F

    from sparkroach.chain.schemas import TABLE_SCHEMAS

    def box_rows(pairs):
        return spark.createDataFrame(
            [(app, name, val) for app, name, val in pairs],
            TABLE_SCHEMAS["app_box"],
        )

    cols = {
        "app": F.col("u.app"),
        "name": F.col("u.name"),
        "value": F.col("u.value"),
        # NULL value → comparison is NULL, not true/false
        "__drop__": F.col("u.value") == F.lit(b"DROP"),
    }
    store.merge_state(
        "app_box",
        box_rows([(1, b"nullkey", None), (1, b"dropkey", b"DROP")]),
        cols,
        touch_all=True,
    )
    out = {bytes(r["name"]) for r in store.read("app_box").collect()}
    assert out == {b"nullkey"}  # NULL drop-expr kept; true drop-expr swept


def test_vacuum_reclaims_and_bounds_time_travel(store, spark):
    import os

    from pyspark.sql import functions as F

    from sparkroach.chain.schemas import TABLE_SCHEMAS

    cols = {
        "app": F.col("u.app"),
        "name": F.col("u.name"),
        "value": F.col("u.value"),
    }
    for i in range(4):
        rows = spark.createDataFrame(
            [(1, b"k", f"v{i}".encode())], TABLE_SCHEMAS["app_box"]
        )
        store.merge_state("app_box", rows, cols, touch_all=True)
    versions = store.snapshot_versions("app_box")
    assert len(versions) == 4
    tdir = os.path.join(store.base_dir, "app_box")
    n_dirs_before = len([d for d in os.listdir(tdir) if d.startswith("v")])

    dirs_deleted, snaps_deleted = store.vacuum("app_box", keep_snapshots=2)
    assert snaps_deleted == 2 and dirs_deleted >= 1
    assert store.snapshot_versions("app_box") == versions[-2:]
    n_dirs_after = len([d for d in os.listdir(tdir) if d.startswith("v")])
    assert n_dirs_after < n_dirs_before

    # retained versions still read; reclaimed ones fail loudly
    kept = store.read("app_box", version=versions[-2]).collect()
    assert [bytes(r["value"]) for r in kept] == [b"v2"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not retained"):
        store.read("app_box", version=versions[0])
    # and the LIVE read is untouched by vacuum
    assert [bytes(r["value"]) for r in store.read("app_box").collect()] == [
        b"v3"
    ]


# -- merge-on-read: delta resolution, fold, time travel, vacuum ---------------


def _box_rows(spark, triples):
    return spark.createDataFrame(list(triples), TABLE_SCHEMAS["app_box"])


def _box_seed():
    return {"app": F.col("u.app"), "name": F.col("u.name"), "value": F.col("u.value")}


def _boxes(store, version=None, key=None):
    return {
        (r["app"], bytes(r["name"])): bytes(r["value"])
        for r in store.read("app_box", version=version, key=key).collect()
    }


def _seed_boxes(store, spark, n=40):
    """A base of ``n`` boxes (the first merge of an empty table folds)."""
    store.merge_state(
        "app_box",
        _box_rows(spark, [(i % 5, b"b%02d" % i, b"v0") for i in range(n)]),
        _box_seed(),
        touch_all=True,
    )
    return {(i % 5, b"b%02d" % i): b"v0" for i in range(n)}


def test_fold_keeps_table_content_and_time_travel(store, spark):
    """Once the delta holds 1/FOLD_RATIO of the base rows, the next merge
    folds it into the bases: the delta empties, only the buckets it
    touched get new bases, the content is what merge-on-read showed, and
    every version from before the fold still reads as it did."""
    from sparkroach.chain.store import FOLD_RATIO

    want = _seed_boxes(store, spark)
    history = {}
    i = 0
    while FOLD_RATIO * store._manifest("app_box").delta_rows < 40:
        key = (i % 5, b"b%02d" % i)
        store.merge_state(
            "app_box", _box_rows(spark, [(*key, b"v%d" % i)]), _box_seed(), touch_all=True
        )
        want[key] = b"v%d" % i
        history[store._manifest("app_box").version] = dict(want)
        i += 1
    pre = store._manifest("app_box")
    assert pre.delta_rows == 5 and _boxes(store) == want

    # the fold merge re-writes an unchanged value: content must not move
    same = _box_rows(spark, [(0, b"b00", want[(0, b"b00")])])
    store.merge_state(
        "app_box", same, _box_seed(), touch_keys=same.select("app", "name")
    )
    post = store._manifest("app_box")
    assert post.delta is None and post.delta_rows == 0
    assert sum(post.bucket_rows.values()) == 40
    touched = set(store._delta_keys("app_box", pre).values())
    touched.add(store.bucket_of("app_box", (0, b"b00")))
    rewritten = {b for b in post.buckets if post.buckets[b] != pre.buckets.get(b)}
    assert rewritten == {str(b) for b in touched}
    assert _boxes(store) == want
    for v, content in history.items():
        assert _boxes(store, version=v) == content, v


def test_vacuum_keeps_referenced_delta_files(store, spark):
    """vacuum must keep every delta a retained manifest references (and the
    bases it resolves over, which live in older version dirs)."""
    import os

    want = _seed_boxes(store, spark)
    for i in range(3):
        key = (i, b"b%02d" % i)
        store.merge_state(
            "app_box", _box_rows(spark, [(*key, b"d%d" % i)]), _box_seed(), touch_all=True
        )
        want[key] = b"d%d" % i
    versions = store.snapshot_versions("app_box")
    m = store._manifest("app_box")
    assert m.delta is not None
    store.vacuum("app_box", keep_snapshots=2)
    tdir = os.path.join(store.base_dir, "app_box")
    kept = {d for d in os.listdir(tdir) if d.startswith("v")}
    prev = store._manifest("app_box", versions[-2])
    for rel in [m.delta, prev.delta, *m.buckets.values()]:
        assert rel.split("/")[0] in kept, rel
    assert _boxes(store) == want
    assert _boxes(store, version=versions[-2])[(2, b"b02")] == b"v0"


def test_point_read_lists_its_bucket_plus_the_delta(store, spark):
    """With a delta present a point read lists its one base bucket plus the
    delta file, and still resolves a key the delta updated or deleted."""
    _seed_boxes(store, spark)
    store.merge_state(
        "app_box",
        _box_rows(spark, [(0, b"b00", b"new"), (1, b"b01", b"DROP")]),
        {**_box_seed(), "__drop__": F.col("u.value") == F.lit(b"DROP")},
        touch_all=True,
    )
    m = store._manifest("app_box")
    for key, want in (((0, b"b00"), {(0, b"b00"): b"new"}), ((1, b"b01"), {})):
        df = store.read("app_box", key=key)
        dirs = {f.split("/app_box/")[1].rsplit("/", 1)[0] for f in df.inputFiles()}
        assert dirs <= {m.buckets[str(store.bucket_of("app_box", key))], m.delta}
        assert m.delta in dirs
        got = {k: v for k, v in _boxes(store, key=key).items() if k == key}
        assert got == want
