"""Deletion-vector merge-on-read: delete/read/compact/stats lifecycle."""
from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_fuse_spark.cdc import (
    mor_append,
    mor_compact,
    mor_delete,
    mor_read,
    mor_stats,
    mor_upsert,
    mor_write,
)


def _base(spark):
    return spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )


def test_delete_read_compact_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    assert mor_read(spark, t, ["k"]).count() == 100

    mor_delete(_base(spark).where("k % 10 = 0").select("k"), t, ["k"])
    live = mor_read(spark, t, ["k"])
    assert live.count() == 90
    assert live.where("k % 10 = 0").count() == 0

    # second sidecar accumulates; overlap with the first is idempotent
    mor_delete(_base(spark).where("k < 25").select("k"), t, ["k"])
    assert mor_read(spark, t, ["k"]).count() == 100 - 25 - 7  # 10,20 overlap

    st = mor_stats(spark, t, ["k"])
    assert st == {
        "base_rows": 100,
        "delete_keys": 32,
        "live_rows": 68,
        "delete_files": 2,
        "segments": 1,
    }

    before = mor_read(spark, t, ["k"]).orderBy("k").collect()
    assert mor_compact(spark, t, ["k"]) == 2
    after = mor_read(spark, t, ["k"]).orderBy("k").collect()
    assert before == after
    # sidecars folded away; base physically shrank
    st2 = mor_stats(spark, t, ["k"])
    assert st2 == {
        "base_rows": 68,
        "delete_keys": 0,
        "live_rows": 68,
        "delete_files": 0,
        "segments": 1,
    }
    assert mor_compact(spark, t, ["k"]) == 0  # nothing to fold


def test_delete_of_absent_keys_is_noop(spark, tmp_path):
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    mor_delete(spark.range(500, 510).select(F.col("id").alias("k")), t, ["k"])
    assert mor_read(spark, t, ["k"]).count() == 100


def test_mor_read_plans_broadcast_anti_join(spark, tmp_path):
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    mor_delete(_base(spark).where("k < 5").select("k"), t, ["k"])
    plan = mor_read(spark, t, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_overwrite_clears_sidecars(spark, tmp_path):
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    mor_delete(_base(spark).where("k < 50").select("k"), t, ["k"])
    mor_write(_base(spark), t)  # fresh base: old deletes must not apply
    assert mor_read(spark, t, ["k"]).count() == 100
    assert not os.path.isdir(str(tmp_path / "t" / "data" / "_deletes"))


def test_upsert_sequence_semantics(spark, tmp_path):
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)  # k 0..99, v = k % 7

    # upsert: overwrite k 0..9 with v = 100 + k, insert k 100..104
    batch = spark.range(0, 10).union(spark.range(100, 105)).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("v")
    )
    mor_upsert(batch, t, ["k"])
    live = mor_read(spark, t, ["k"])
    assert live.count() == 105
    got = {r["k"]: r["v"] for r in live.collect()}
    assert got[5] == 105  # updated, not the old 5 % 7
    assert got[50] == 50 % 7  # untouched
    assert got[102] == 202  # inserted

    # delete AFTER the upsert kills the new copy too
    mor_delete(spark.range(5, 6).select(F.col("id").alias("k")), t, ["k"])
    assert mor_read(spark, t, ["k"]).where("k = 5").count() == 0

    # upsert AFTER a delete resurrects the key with the new value
    mor_upsert(
        spark.range(5, 6).select(F.col("id").alias("k"), F.lit(999).alias("v")),
        t,
        ["k"],
    )
    rows = mor_read(spark, t, ["k"]).where("k = 5").collect()
    assert [r["v"] for r in rows] == [999]

    # compact folds everything; the live view is unchanged
    before = sorted(map(tuple, mor_read(spark, t, ["k"]).collect()))
    assert mor_compact(spark, t, ["k"]) >= 3
    after = sorted(map(tuple, mor_read(spark, t, ["k"]).collect()))
    assert before == after
    st = mor_stats(spark, t, ["k"])
    assert st["segments"] == 1 and st["delete_files"] == 0


def test_append_is_untouched_by_earlier_deletes(spark, tmp_path):
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    mor_delete(_base(spark).where("k < 50").select("k"), t, ["k"])
    # a later plain append of the SAME keys is NOT affected by the
    # earlier sidecar (sequence rule)
    mor_append(
        spark.range(0, 5).select(F.col("id").alias("k"), F.lit(7).alias("v")), t
    )
    live = mor_read(spark, t, ["k"])
    assert live.count() == 55
    assert live.where("k = 3").collect()[0]["v"] == 7


def test_legacy_sidecar_layout_fails_loudly_and_migrates(spark, tmp_path):
    import pytest

    from spark_fuse_spark.cdc import mor_migrate_legacy_deletes

    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    mor_delete(_base(spark).where("k < 10").select("k"), t, ["k"])
    assert mor_read(spark, t, ["k"]).count() == 90

    # simulate a table written before sidecars moved inside data/: its
    # sidecar sits at target/_deletes (sibling of data/)
    legacy = os.path.join(t, "_deletes")
    os.makedirs(legacy, exist_ok=True)
    cur = os.path.join(t, "data", "_deletes")
    name = os.listdir(cur)[0]
    os.rename(os.path.join(cur, name), os.path.join(legacy, name))

    # silently resurrecting deleted rows is the GDPR failure mode —
    # every read/compact path must refuse the legacy layout
    with pytest.raises(RuntimeError, match="legacy"):
        mor_read(spark, t, ["k"])
    with pytest.raises(RuntimeError, match="legacy"):
        mor_compact(spark, t, ["k"])

    assert mor_migrate_legacy_deletes(t) == 1
    assert not os.path.isdir(legacy)
    assert mor_read(spark, t, ["k"]).count() == 90  # deletes apply again
    assert mor_migrate_legacy_deletes(t) == 0  # idempotent


def test_overwrite_clears_legacy_sibling_sidecars(spark, tmp_path):
    """A full overwrite of a legacy-layout table must also retire the
    legacy target/_deletes sibling: leaving it would make every later
    read raise the legacy error, and migrating it would apply the OLD
    table's deletes to the fresh seg-00000."""
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    mor_delete(_base(spark).where("k < 10").select("k"), t, ["k"])
    legacy = os.path.join(t, "_deletes")
    os.makedirs(legacy, exist_ok=True)
    cur = os.path.join(t, "data", "_deletes")
    name = os.listdir(cur)[0]
    os.rename(os.path.join(cur, name), os.path.join(legacy, name))

    mor_write(_base(spark), t)  # overwrite: the whole old table is dead
    assert not os.path.isdir(legacy)
    assert mor_read(spark, t, ["k"]).count() == 100  # nothing resurfaces/deletes


def test_key_deleted_twice_then_by_upsert(spark, tmp_path):
    """Duplicate keys across sidecars (two deletes, then an upsert's
    sidecar) subtract each base row once and leave the upserted copy."""
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    mor_delete(_base(spark).where("k < 10").select("k"), t, ["k"])
    mor_delete(_base(spark).where("k < 10").select("k"), t, ["k"])
    assert mor_read(spark, t, ["k"]).count() == 90
    mor_upsert(spark.range(3, 5).select(F.col("id").alias("k"), F.lit(500).alias("v")), t, ["k"])
    got = sorted((r["k"], r["v"]) for r in mor_read(spark, t, ["k"]).collect())
    assert got == [(3, 500), (4, 500)] + [(k, k % 7) for k in range(10, 100)]
    assert mor_compact(spark, t, ["k"]) == 3
    assert sorted((r["k"], r["v"]) for r in mor_read(spark, t, ["k"]).collect()) == got


def test_long_key_sidecar_applies_to_int_key_segment(spark, tmp_path):
    t = str(tmp_path / "t")
    mor_write(_base(spark).select(F.col("k").cast("int").alias("k"), "v"), t)
    mor_delete(spark.range(0, 5).select(F.col("id").alias("k")), t, ["k"])  # long keys
    live = mor_read(spark, t, ["k"])
    assert dict(live.dtypes)["k"] == "int"
    assert sorted(r["k"] for r in live.collect()) == list(range(5, 100))
