"""Change-tracking protocol tests (reference scenarios:
``/root/reference/tests/utils/test_change_tracking.py:23-273`` — bootstrap,
update-vs-unchanged, SCD2 version history, intra-batch sequencing, null-key
policies, dispatcher aliases)."""

from __future__ import annotations

import pytest

from spark_fuse_spark.cdc import (
    apply_change_tracking,
    change_tracking_writer,
    current_only_upsert,
    track_history_upsert,
)
from spark_fuse_spark.cdc.scd import ChangeTrackingMode, resolve_mode

TS1 = "to_timestamp('2024-01-01 00:00:00')"
TS2 = "to_timestamp('2024-02-01 00:00:00')"
TS3 = "to_timestamp('2024-03-01 00:00:00')"


def _rows(spark, data):
    return spark.createDataFrame(data, ["id", "name", "city"])


def _read(spark, path):
    return {r["id"]: r.asDict() for r in spark.read.parquet(path).collect()}


# ---------------------------------------------------------------- SCD1


def test_scd1_bootstrap_update_insert_unchanged(spark, tmp_path):
    target = str(tmp_path / "t1")
    batch1 = _rows(spark, [(1, "ann", "berlin"), (2, "bob", "paris")])
    current_only_upsert(spark, batch1, target, ["id"], load_ts_expr=TS1)
    out = _read(spark, target)
    assert len(out) == 2 and out[1]["city"] == "berlin"
    ts_bob_1 = out[2]["load_ts"]

    # batch2: ann moves, bob unchanged, carol new
    batch2 = _rows(spark, [(1, "ann", "madrid"), (2, "bob", "paris"), (3, "carol", "rome")])
    current_only_upsert(spark, batch2, target, ["id"], load_ts_expr=TS2)
    out = _read(spark, target)
    assert len(out) == 3
    assert out[1]["city"] == "madrid"
    assert str(out[1]["load_ts"]).startswith("2024-02-01")
    # unchanged row keeps its original load_ts (hash-gated update)
    assert out[2]["load_ts"] == ts_bob_1
    assert out[3]["city"] == "rome"


def test_scd1_dedup_keep_latest(spark, tmp_path):
    target = str(tmp_path / "t2")
    df = spark.createDataFrame(
        [(1, "ann", "berlin", 10), (1, "ann", "madrid", 20)],
        ["id", "name", "city", "seq"],
    )
    current_only_upsert(spark, df, target, ["id"], order_by="seq", load_ts_expr=TS1)
    out = _read(spark, target)
    assert len(out) == 1 and out[1]["city"] == "madrid"


def test_scd1_null_key_policies(spark, tmp_path):
    df = _rows(spark, [(None, "x", "y"), (1, "ann", "berlin")])
    with pytest.raises(ValueError, match="null business key"):
        current_only_upsert(spark, df, str(tmp_path / "t3"), ["id"], load_ts_expr=TS1)
    target = str(tmp_path / "t4")
    current_only_upsert(
        spark, df, target, ["id"], null_key_policy="drop", load_ts_expr=TS1
    )
    assert len(_read(spark, target)) == 1


def test_scd1_empty_batch_writes_nothing(spark, tmp_path):
    target = str(tmp_path / "t5")
    empty = _rows(spark, [(1, "ann", "berlin")]).limit(0)
    current_only_upsert(spark, empty, target, ["id"], load_ts_expr=TS1)
    assert not (tmp_path / "t5").exists()
    current_only_upsert(spark, _rows(spark, [(1, "ann", "berlin")]), target, ["id"], load_ts_expr=TS1)
    before = sorted(p.name for p in (tmp_path / "t5").iterdir())
    current_only_upsert(spark, empty, target, ["id"], load_ts_expr=TS2)
    assert sorted(p.name for p in (tmp_path / "t5").iterdir()) == before
    assert len(_read(spark, target)) == 1


# ---------------------------------------------------------------- SCD2


def test_scd2_versions_and_close(spark, tmp_path):
    target = str(tmp_path / "h1")
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "berlin")]), target, ["id"], load_ts_expr=TS1
    )
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "madrid")]), target, ["id"], load_ts_expr=TS2
    )
    # unchanged re-send: no new version
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "madrid")]), target, ["id"], load_ts_expr=TS3
    )
    rows = sorted(
        (r.asDict() for r in spark.read.parquet(target).collect()),
        key=lambda r: r["version"],
    )
    assert [r["version"] for r in rows] == [1, 2]
    v1, v2 = rows
    assert v1["city"] == "berlin" and v1["is_current"] is False
    assert str(v1["effective_end_ts"]).startswith("2024-02-01")
    assert v2["city"] == "madrid" and v2["is_current"] is True
    assert v2["effective_end_ts"] is None


def test_scd2_intra_batch_sequencing(spark, tmp_path):
    """Two versions of one key in a single batch → both preserved in order
    (reference ``tests/utils/test_change_tracking.py:133-159``)."""
    target = str(tmp_path / "h2")
    df = spark.createDataFrame(
        [(1, "ann", "berlin", 10), (1, "ann", "madrid", 20), (2, "bob", "paris", 5)],
        ["id", "name", "city", "seq"],
    )
    track_history_upsert(spark, df, target, ["id"], order_by="seq", load_ts_expr=TS1)
    rows = spark.read.parquet(target).collect()
    ann = sorted((r.asDict() for r in rows if r["id"] == 1), key=lambda r: r["version"])
    assert [(r["city"], r["version"], r["is_current"]) for r in ann] == [
        ("berlin", 1, False),
        ("madrid", 2, True),
    ]
    bob = [r.asDict() for r in rows if r["id"] == 2]
    assert len(bob) == 1 and bob[0]["is_current"] is True


def test_scd2_new_key_does_not_close_others(spark, tmp_path):
    target = str(tmp_path / "h3")
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "berlin")]), target, ["id"], load_ts_expr=TS1
    )
    track_history_upsert(
        spark, _rows(spark, [(2, "bob", "paris")]), target, ["id"], load_ts_expr=TS2
    )
    rows = {r["id"]: r.asDict() for r in spark.read.parquet(target).collect()}
    assert rows[1]["is_current"] is True and rows[2]["is_current"] is True


def test_scd2_null_key_error_leaves_target_unchanged(spark, tmp_path):
    target = str(tmp_path / "h4")
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "berlin")]), target, ["id"], load_ts_expr=TS1
    )
    before = sorted(map(tuple, spark.read.parquet(target).collect()))
    bad = _rows(spark, [(None, "x", "y"), (1, "ann", "madrid")])
    with pytest.raises(ValueError, match="null business key"):
        track_history_upsert(spark, bad, target, ["id"], load_ts_expr=TS2)
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == before


def test_scd2_null_key_drop_writes_no_null_key_row(spark, tmp_path):
    target = str(tmp_path / "h5")
    df = _rows(spark, [(None, "x", "y"), (1, "ann", "berlin"), (2, "bob", "paris")])
    track_history_upsert(
        spark, df, target, ["id"], null_key_policy="drop", load_ts_expr=TS1
    )
    rows = spark.read.parquet(target).collect()
    assert sorted(r["id"] for r in rows) == [1, 2]
    assert all(r["version"] == 1 and r["is_current"] for r in rows)


def test_scd2_null_key_drop_multiplicity_adds_no_versions(spark, tmp_path, monkeypatch):
    """Dropped null-key rows do not set the sequence loop's bound: a null
    key repeated five times runs one mini-batch, not five."""
    from spark_fuse_spark.cdc import scd

    calls = []
    real = scd._apply_scd2_batch

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(scd, "_apply_scd2_batch", counting)
    target = str(tmp_path / "h6")
    df = spark.createDataFrame(
        [(None, "x", "y", s) for s in range(5)] + [(1, "ann", "berlin", 0)],
        ["id", "name", "city", "seq"],
    )
    track_history_upsert(
        spark, df, target, ["id"], order_by="seq", null_key_policy="drop",
        load_ts_expr=TS1,
    )
    assert len(calls) == 1
    rows = spark.read.parquet(target).collect()
    assert [(r["id"], r["version"], r["is_current"]) for r in rows] == [(1, 1, True)]


def test_scd2_unknown_null_key_policy_raises_only_on_null_keys(spark, tmp_path):
    target = str(tmp_path / "h7")
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "berlin")]), target, ["id"],
        null_key_policy="bogus", load_ts_expr=TS1,
    )
    assert len(spark.read.parquet(target).collect()) == 1
    with pytest.raises(ValueError, match="unknown null-key policy"):
        track_history_upsert(
            spark, _rows(spark, [(None, "x", "y"), (2, "bob", "paris")]), target, ["id"],
            null_key_policy="bogus", load_ts_expr=TS2,
        )


def test_scd2_empty_batch_writes_nothing(spark, tmp_path):
    target = str(tmp_path / "h8")
    empty = _rows(spark, [(1, "ann", "berlin")]).limit(0)
    track_history_upsert(spark, empty, target, ["id"], load_ts_expr=TS1)
    assert not (tmp_path / "h8").exists()
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "berlin")]), target, ["id"], load_ts_expr=TS1
    )
    before = sorted(p.name for p in (tmp_path / "h8").iterdir())
    track_history_upsert(spark, empty, target, ["id"], load_ts_expr=TS2)
    assert sorted(p.name for p in (tmp_path / "h8").iterdir()) == before


# ------------------------------------------------------- dispatch / builder


def test_mode_aliases():
    for alias in ("1", "current", "scd1", "type1", 1):
        assert resolve_mode(alias) is ChangeTrackingMode.CURRENT_ONLY
    for alias in ("2", "history", "scd2", "type2", 2):
        assert resolve_mode(alias) is ChangeTrackingMode.TRACK_HISTORY
    with pytest.raises(ValueError):
        resolve_mode("nope")


def test_writer_builder(spark, tmp_path):
    target = str(tmp_path / "b1")
    df = _rows(spark, [(1, "ann", "berlin")])
    change_tracking_writer(df).options(
        {"change_tracking_mode": "scd2", "business_keys": "id", "load_ts_expr": TS1}
    ).table(target)
    out = spark.read.parquet(target).collect()
    assert len(out) == 1 and out[0]["version"] == 1


def test_delta_merge_fast_path(spark, tmp_path):
    """Runs only where delta-spark is installed (reference gates the same
    way, ``tests/utils/test_change_tracking.py:9``); exercises the MERGE
    fast paths instead of the parquet staged-swap rewrite."""
    pytest.importorskip("delta")
    from spark_fuse_spark.cdc.store import DeltaStore

    store = DeltaStore()
    target = str(tmp_path / "delta_t1")
    current_only_upsert(
        spark, _rows(spark, [(1, "ann", "berlin")]), target, ["id"],
        load_ts_expr=TS1, store=store,
    )
    current_only_upsert(
        spark, _rows(spark, [(1, "ann", "madrid"), (2, "bob", "rome")]), target, ["id"],
        load_ts_expr=TS2, store=store,
    )
    out = {r["id"]: r.asDict() for r in store.read(spark, target).collect()}
    assert out[1]["city"] == "madrid" and out[2]["city"] == "rome"

    h_target = str(tmp_path / "delta_h1")
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "berlin")]), h_target, ["id"],
        load_ts_expr=TS1, store=store,
    )
    track_history_upsert(
        spark, _rows(spark, [(1, "ann", "madrid")]), h_target, ["id"],
        load_ts_expr=TS2, store=store,
    )
    rows = sorted(
        (r.asDict() for r in store.read(spark, h_target).collect()),
        key=lambda r: r["version"],
    )
    assert [r["is_current"] for r in rows] == [False, True]
    assert rows[1]["city"] == "madrid" and rows[1]["version"] == 2


def test_dispatcher(spark, tmp_path):
    target = str(tmp_path / "d1")
    apply_change_tracking(
        spark,
        _rows(spark, [(1, "ann", "berlin")]),
        target,
        ["id"],
        mode="current",
        load_ts_expr=TS1,
    )
    assert len(_read(spark, target)) == 1


# ------------------------------------------------------- snapshot diff
def test_snapshot_diff_classifies_ops(spark):
    from spark_fuse_spark.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, score double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)],
        "id long, name string, score double",
    )
    rows = {r.id: r for r in snapshot_diff(old, new, ["id"]).collect()}
    assert set(rows) == {2, 3, 4}  # 1 unchanged -> omitted
    assert rows[2].op == "U" and rows[2].name == "B"
    assert rows[3].op == "D" and rows[3].name == "c"  # deleted: old values
    assert rows[4].op == "I" and rows[4].name == "d"


def test_snapshot_diff_nulls_compare_equal(spark):
    from spark_fuse_spark.cdc import snapshot_diff

    old = spark.createDataFrame([(1, None), (2, None)], "id long, name string")
    new = spark.createDataFrame([(1, None), (2, "x")], "id long, name string")
    rows = snapshot_diff(old, new, ["id"]).collect()
    assert len(rows) == 1 and rows[0].id == 2 and rows[0].op == "U"


def test_snapshot_diff_rejects_bad_args(spark):
    from spark_fuse_spark.cdc import snapshot_diff

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with pytest.raises(ValueError):
        snapshot_diff(df, df, [])
    with pytest.raises(ValueError, match="no attribute columns"):
        snapshot_diff(df, df.drop("name"), ["id"])
    with pytest.raises(ValueError, match="absent"):
        snapshot_diff(df.drop("name"), df, ["id"])


def test_changelog_roundtrip_property(spark):
    """apply_changelog(old, snapshot_diff(old, new)) == new for a batch of
    seeded random perturbations (deletes, updates, inserts, no-ops)."""
    import random

    from spark_fuse_spark.cdc import apply_changelog, snapshot_diff

    rng = random.Random(7)
    old_rows = [(i, f"name{i}", float(i % 13)) for i in range(300)]
    new_rows = []
    for i, name, score in old_rows:
        roll = rng.random()
        if roll < 0.1:
            continue  # delete
        if roll < 0.3:
            new_rows.append((i, name + "_v2", score + 1.0))  # update
        else:
            new_rows.append((i, name, score))  # unchanged
    new_rows += [(1000 + i, f"new{i}", 0.5) for i in range(17)]  # inserts

    schema = "id long, name string, score double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    diff = snapshot_diff(old, new, ["id"])
    rebuilt = apply_changelog(old, diff, ["id"])
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, new.collect()))
    # and the diff is minimal: unchanged keys never appear
    changed = {r.id for r in diff.collect()}
    unchanged = {r[0] for r in old_rows} & {r[0] for r in new_rows}
    same = {
        i for i, n, s in old_rows if (i, n, s) in set(new_rows)
    }
    assert changed.isdisjoint(same)


# ------------------------------------------------ Delta MERGE choreography
# This container may lack delta-spark; these pin the EXACT merge strings and
# the DeltaTable call chain with a recording fake, so the fast path cannot
# drift where the jar is absent (test_delta_merge_fast_path executes the
# real path wherever delta IS installed).


def test_scd1_merge_spec_strings():
    from spark_fuse_spark.cdc.scd import scd1_merge_spec

    spec = scd1_merge_spec(["id", "region"])
    assert spec["condition"] == "t.`id` <=> s.`id` AND t.`region` <=> s.`region`"
    assert (
        spec["when_matched_update_all_condition"]
        == "NOT (t.`row_hash` <=> s.`row_hash`)"
    )
    assert spec["when_not_matched"] == "insert_all"


def test_scd2_close_merge_spec_strings():
    from spark_fuse_spark.cdc.scd import scd2_close_merge_spec

    spec = scd2_close_merge_spec(["id"])
    assert spec["condition"] == "(t.`id` <=> s.`id`) AND t.`is_current` = true"
    assert spec["when_matched_update_condition"] == "NOT (t.`row_hash` <=> s.`row_hash`)"
    # close ts is the SOURCE batch's load_ts: old.end_ts == new.start_ts
    assert spec["when_matched_update_set"] == {
        "effective_end_ts": "s.`load_ts`",
        "is_current": "false",
    }


class _MergeRecorder:
    def __init__(self, log):
        self.log = log

    def alias(self, a):
        return self

    def merge(self, src, cond):
        self.log.append(("merge", cond))
        return self

    def whenMatchedUpdateAll(self, condition=None):
        self.log.append(("whenMatchedUpdateAll", condition))
        return self

    def whenMatchedUpdate(self, condition=None, set=None):
        self.log.append(("whenMatchedUpdate", condition, dict(set)))
        return self

    def whenNotMatchedInsertAll(self):
        self.log.append(("whenNotMatchedInsertAll",))
        return self

    def execute(self):
        self.log.append(("execute",))


def _install_fake_delta(monkeypatch, log):
    import sys
    import types

    tables = types.ModuleType("delta.tables")

    class DeltaTable:
        @staticmethod
        def forPath(spark, target):
            log.append(("forPath", target))
            return _MergeRecorder(log)

        @staticmethod
        def forName(spark, target):
            log.append(("forName", target))
            return _MergeRecorder(log)

    tables.DeltaTable = DeltaTable
    delta = types.ModuleType("delta")
    delta.tables = tables
    monkeypatch.setitem(sys.modules, "delta", delta)
    monkeypatch.setitem(sys.modules, "delta.tables", tables)


def test_delta_scd1_merge_call_shape(spark, monkeypatch):
    from spark_fuse_spark.cdc.scd import _delta_merge_scd1
    from spark_fuse_spark.cdc.store import DeltaStore

    log = []
    _install_fake_delta(monkeypatch, log)
    src = _rows(spark, [(1, "ann", "berlin")])
    assert _delta_merge_scd1(spark, src, "/delta/t", ["id"], DeltaStore()) is True
    assert log[0] == ("forPath", "/delta/t")
    assert ("merge", "t.`id` <=> s.`id`") in log
    assert ("whenMatchedUpdateAll", "NOT (t.`row_hash` <=> s.`row_hash`)") in log
    assert ("whenNotMatchedInsertAll",) in log
    assert log[-1] == ("execute",)
    # catalog-name targets route through forName (reference path heuristic,
    # change_tracking.py:218-227)
    log.clear()
    _delta_merge_scd1(spark, src, "db.tbl", ["id"], DeltaStore())
    assert log[0] == ("forName", "db.tbl")
    # non-Delta stores decline so the generic rewrite runs
    from spark_fuse_spark.cdc.store import ParquetStore

    assert _delta_merge_scd1(spark, src, "/x", ["id"], ParquetStore()) is False


def test_delta_scd2_batch_call_shape_and_versioning(spark, monkeypatch):
    """Pins the full SCD2 fast-path choreography on a recording fake:
    (1) close-MERGE with the exact spec strings; (2) current-key left-join
    excludes unchanged keys; (3) grouped-max versioning over the FULL
    history; (4) one append of the stamped inserts."""
    import datetime

    from spark_fuse_spark.cdc.scd import _delta_scd2_batch
    from spark_fuse_spark.cdc.store import DeltaStore

    log = []
    _install_fake_delta(monkeypatch, log)
    ts1 = datetime.datetime(2024, 1, 1)
    ts2 = datetime.datetime(2024, 2, 1)

    batch = spark.createDataFrame(
        [
            (1, "ann", "madrid", "h1new", ts2),  # changed (merge already closed v1)
            (2, "bob", "rome", "h2", ts2),       # unchanged -> must NOT insert
            (3, "carol", "oslo", "h3", ts2),     # brand new -> version 1
        ],
        "id long, name string, city string, row_hash string, load_ts timestamp",
    )
    # target AS OF after the close-merge: id=1 closed, id=2 still current
    tgt = spark.createDataFrame(
        [
            (1, "ann", "berlin", "h1old", ts1, ts1, ts2, False, 1),
            (2, "bob", "rome", "h2", ts1, ts1, None, True, 1),
        ],
        "id long, name string, city string, row_hash string, load_ts timestamp,"
        " effective_start_ts timestamp, effective_end_ts timestamp,"
        " is_current boolean, version int",
    )
    appended = []

    class FakeDeltaStore(DeltaStore):
        def read(self, spark, target):
            return tgt

        def append(self, df, target, merge_schema=False):
            appended.append((target, df))

    out_cols = list(tgt.columns)
    assert _delta_scd2_batch(spark, batch, "/delta/h", ["id"], FakeDeltaStore(), out_cols)
    assert log[0] == ("forPath", "/delta/h")
    assert ("merge", "(t.`id` <=> s.`id`) AND t.`is_current` = true") in log
    assert (
        "whenMatchedUpdate",
        "NOT (t.`row_hash` <=> s.`row_hash`)",
        {"effective_end_ts": "s.`load_ts`", "is_current": "false"},
    ) in log
    assert ("execute",) in log

    assert len(appended) == 1
    target, df = appended[0]
    assert target == "/delta/h"
    assert df.columns == out_cols
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert set(rows) == {1, 3}  # unchanged id=2 never reinserted
    assert rows[1]["version"] == 2 and rows[1]["is_current"] is True
    assert rows[1]["effective_start_ts"] == ts2  # == old row's end_ts
    assert rows[3]["version"] == 1 and rows[3]["city"] == "oslo"
