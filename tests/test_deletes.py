"""Deletion-vector merge-on-read: delete/read/compact/stats lifecycle."""
from __future__ import annotations

import datetime
import decimal
import os

import pytest
from pyspark.sql import functions as F

from spark_fuse_spark.cdc import (
    ParquetStore,
    mor_append,
    mor_compact,
    mor_delete,
    mor_read,
    mor_stats,
    mor_upsert,
    mor_write,
)
from spark_fuse_spark.plans import exchange_count, join_strategies, physical_plan, scan_summaries


def _base(spark):
    return spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )


def test_delete_read_compact_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    mor_write(_base(spark), t)
    assert mor_read(spark, t, ["k"]).count() == 100

    # each key twice in one batch: the sidecar keeps the duplicates, and
    # the anti-join still subtracts each row once
    tens = _base(spark).where("k % 10 = 0").select("k")
    mor_delete(tens.unionAll(tens), t, ["k"])
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


def test_mor_read_is_one_scan_and_one_anti_join(spark, tmp_path):
    """3 segments and 2 applicable sidecars: one scan of all segments, one
    of all sidecars, ONE broadcast left-anti join and no shuffle — the
    plan does not grow with the segment count."""
    t = str(tmp_path / "t")
    mor_write(_base(spark).where("k < 40"), t)
    mor_upsert(_base(spark).where("k >= 30 and k < 60"), t, ["k"])  # sidecar seq 1
    mor_upsert(_base(spark).where("k >= 50 and k < 80"), t, ["k"])  # sidecar seq 2
    live = mor_read(spark, t, ["k"])
    scans = scan_summaries(live)
    assert len(scans) == 2, scans
    assert sum("seg-0000" in s.location for s in scans) == 1
    assert sum("_deletes" in s.location for s in scans) == 1
    assert join_strategies(live) == {"BroadcastHashJoin": 1}
    assert "LeftAnti" in physical_plan(live)
    assert exchange_count(live) == 0
    assert sorted(r["k"] for r in live.collect()) == list(range(80))


def _typed(spark):
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    return spark.createDataFrame(
        [(1, ts, ts, decimal.Decimal("12.34"), "a"), (2, None, None, None, None)],
        "k long not null, ts timestamp, ntz timestamp_ntz, amt decimal(10,2), s string",
    )


def test_stored_schema_matches_inferred_and_legacy_layout_reads(spark, tmp_path):
    """A MOR table and a ParquetStore target carry their schema; reading
    through it gives the inferred schema, and the same rows still read
    after the schema file is removed (the layout before schemas were
    stored)."""
    mor, flat = str(tmp_path / "mor"), str(tmp_path / "flat")
    mor_write(_typed(spark), mor)
    mor_delete(spark.createDataFrame([(2,)], "k long"), mor, ["k"])
    store = ParquetStore()
    store.overwrite(_typed(spark), flat)
    assert os.path.isfile(os.path.join(mor, "data", "_schema.json"))
    assert os.path.isfile(os.path.join(flat, "_schema.json"))

    got_mor, got_flat = mor_read(spark, mor, ["k"]), store.read(spark, flat)
    assert got_mor.schema == spark.read.parquet(os.path.join(mor, "data", "seg-00000")).schema
    assert got_flat.schema == spark.read.parquet(flat).schema
    rows_mor, rows_flat = sorted(got_mor.collect()), sorted(got_flat.collect())
    assert [r["k"] for r in rows_mor] == [1] and len(rows_flat) == 2

    os.remove(os.path.join(mor, "data", "_schema.json"))
    os.remove(os.path.join(flat, "_schema.json"))
    assert sorted(mor_read(spark, mor, ["k"]).collect()) == rows_mor
    assert sorted(store.read(spark, flat).collect()) == rows_flat

    # without a stored schema appends were unchecked: an int segment
    # followed by a long one reads widened to long, as a union would
    t = str(tmp_path / "widen")
    mor_write(_base(spark).select("k", F.col("v").cast("int")), t)
    os.remove(os.path.join(t, "data", "_schema.json"))
    mor_append(spark.range(100, 102).select(F.col("id").alias("k"), F.col("id").alias("v")), t)
    live = mor_read(spark, t, ["k"])
    assert dict(live.dtypes)["v"] == "bigint"
    assert sorted(r["v"] for r in live.where("k >= 98").collect()) == [0, 1, 100, 101]


def test_append_type_mismatch_raises_and_table_still_reads(spark, tmp_path):
    t, flat = str(tmp_path / "t"), str(tmp_path / "flat")
    mor_write(_base(spark), t)
    ParquetStore().overwrite(_base(spark), flat)
    retyped = spark.range(200, 205).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    with pytest.raises(ValueError, match="'v'"):
        mor_append(retyped, t)
    with pytest.raises(ValueError, match="'v'"):
        ParquetStore().append(retyped, flat)
    with pytest.raises(ValueError, match="'w'"):
        mor_append(_base(spark).withColumn("w", F.lit(1)), t)
    # the stored schema does not evolve: an added column raises even
    # when the caller asks for evolution
    with pytest.raises(ValueError, match="'w'"):
        ParquetStore().append(_base(spark).withColumn("w", F.lit(1)), flat, merge_schema=True)
    # an upsert of an EXISTING key is refused before its delete sidecar is
    # written, so the key's live row survives
    existing = spark.createDataFrame([(5, "x")], "k long, v string")
    with pytest.raises(ValueError, match="'v'"):
        mor_upsert(existing, t, ["k"])
    assert not os.path.exists(os.path.join(t, "data", "_deletes"))
    assert mor_read(spark, t, ["k"]).count() == 100
    assert [r["v"] for r in mor_read(spark, t, ["k"]).where("k = 5").collect()] == [5]
    assert ParquetStore().read(spark, flat).count() == 100
    # a narrower integer is cast up, so the segment matches the stored schema
    seg = mor_append(spark.range(300, 302).select(F.col("id").alias("k"), F.lit(1).alias("v")), t)
    assert dict(spark.read.parquet(seg).dtypes)["v"] == "bigint"
    assert mor_read(spark, t, ["k"]).count() == 102


def test_failed_staged_write_leaves_no_staging_dir(spark, tmp_path):
    """A write job that raises removes its staging directory; the previous
    table stays readable."""
    t, flat = str(tmp_path / "t"), str(tmp_path / "flat")
    mor_write(_base(spark), t)
    mor_delete(_base(spark).where("k < 10").select("k"), t, ["k"])
    ParquetStore().overwrite(_base(spark), flat)
    bad = _base(spark).withColumn("v", F.when(F.col("k") == 3, F.raise_error(F.lit("boom"))))
    with pytest.raises(Exception, match="boom"):
        mor_write(bad, t)
    with pytest.raises(Exception, match="boom"):
        ParquetStore().overwrite(bad, flat)
    leftovers = os.listdir(t) + os.listdir(tmp_path)
    assert not [n for n in leftovers if "__staged_" in n]
    assert mor_read(spark, t, ["k"]).count() == 90
    assert ParquetStore().read(spark, flat).count() == 100


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
