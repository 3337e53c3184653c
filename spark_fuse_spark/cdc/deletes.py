"""Deletion vectors + merge-on-read upserts for parquet targets.

The public lakehouse MOR pattern (Delta Lake deletion vectors, Iceberg
equality-delete files with sequence numbers): a DELETE appends a small
keys-only sidecar instead of rewriting data files, an UPSERT is a delete
sidecar plus an appended data segment, readers subtract applicable
delete keys with anti-joins, and a later COMPACT folds everything into
one rewrite.  Deletes cost O(deleted keys) and upserts O(batch) — the
difference between a GDPR erasure or a late-correction batch costing
seconds and costing a 100 TB rewrite.  The reference's change tracking
only upserts via full MERGE (`/root/reference/src/spark_fuse/utils/
change_tracking.py` has no delete path); this module extends the CDC
family with the row-lifecycle half on the same portable parquet
substrate (`cdc/store.py`).

Layout under ``target/``::

    data/_schema.json               the table's schema (StructType JSON),
                                    published with the data root
    data/seg-00000/                 append-only data segments
    data/seg-00001/
    data/_deletes/d-00002-<uuid>/   keys-only sidecars; the embedded number
                                    is the SEQUENCE (segment count at
                                    delete time)

Sidecars live INSIDE the data root so that ``mor_write``/``mor_compact``
replace data and sidecars with a SINGLE directory rename: a concurrent
reader resolves either the old complete state (old segments + their
sidecars) or the new complete state (one segment, no sidecars) — never
a compacted segment with stale sequence>0 sidecars still applied, which
the old two-step (rename data, then rmtree a sibling ``_deletes``) could
expose.  A reader that races the swap instant itself can find the root
briefly absent or a retired segment file deleted mid-scan; both fail
LOUDLY (retry the read) rather than silently dropping rows.  Writes
assume a single writer, as throughout ``cdc/``.

**Sequence semantics** (Iceberg's rule): a delete with sequence ``s``
applies to segments ``0..s-1`` only.  An upsert therefore writes its
delete sidecar at the CURRENT segment count and then appends the new
segment — the sidecar kills old copies of the keys but not the rows it
just wrote.

**Schema**: ``mor_write``/``mor_compact`` store the table's schema in
the data root they publish, so reads pass it to the parquet reader and
run no footer-inference job; sidecars are cast to the table's key types
when written, so they are read with the key fields of the same schema.
``mor_append`` and ``mor_upsert`` reject a batch whose columns or types
differ from it, before they write anything.
A table written before the schema was stored is read by inference until
its next ``mor_write`` or ``mor_compact``.

Scale shape: ``mor_read`` is ONE scan of every segment plus ONE
broadcast left-anti join.  Each base row carries its segment index,
parsed from its file path (``seg-<n>``); each delete key carries the
sequence in its sidecar's directory name (``d-<seq>-<uuid>``), all
sidecars read in one scan; a row is dropped when some key matches it
with ``sequence > segment``.  Sidecars are tiny next to the base, so
Spark broadcasts them and the base is never shuffled, and the plan does
not grow with the segment count.  Duplicate keys need no ``distinct``:
an anti-join does not depend on them.  Segment count is still bounded
by compaction cadence (file listing and the per-row segment tag grow
with it — compact when the table grows past tens of segments, like any
MOR table service).
"""

from __future__ import annotations

import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .store import column_types, conform_append, load_schema, read_parquet, staged_overwrite

__all__ = [
    "mor_migrate_legacy_deletes",
    "mor_write",
    "mor_append",
    "mor_upsert",
    "mor_delete",
    "mor_read",
    "mor_compact",
    "mor_stats",
]

_DATA = "data"
_DELETES = "_deletes"


def _data_root(target: str) -> str:
    return os.path.join(target, _DATA)


def _segments(target: str) -> "list[str]":
    root = _data_root(target)
    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, d) for d in os.listdir(root) if d.startswith("seg-")
    )


def _deletes_root(target: str) -> str:
    return os.path.join(target, _DATA, _DELETES)


def _delete_files(target: str) -> "list[tuple[int, str]]":
    """(sequence, path) per sidecar.

    Refuses to read a table whose sidecars still live at the pre-rename
    layout (``target/_deletes`` as a SIBLING of ``data/``): silently
    ignoring them would resurrect deleted rows, which for a module that
    advertises GDPR-erasure semantics is the one failure that must be
    loud.  Run :func:`mor_migrate_legacy_deletes` once to fold the old
    sidecars into the current layout.
    """
    legacy = os.path.join(target, _DELETES)
    if os.path.isdir(legacy):
        raise RuntimeError(
            f"legacy delete-sidecar layout detected at {legacy}: this table "
            "was written before sidecars moved inside data/. Reading it now "
            "would silently resurrect deleted rows. Run "
            "mor_migrate_legacy_deletes(target) once to migrate."
        )
    root = _deletes_root(target)
    if not os.path.isdir(root):
        return []
    out = []
    for d in sorted(os.listdir(root)):
        if d.startswith("d-"):
            out.append((int(d.split("-")[1]), os.path.join(root, d)))
    return out


def mor_migrate_legacy_deletes(target: str) -> int:
    """One-shot migration for tables written before sidecars moved inside
    ``data/``: moves every ``target/_deletes/d-*`` sidecar into
    ``target/data/_deletes/`` (sequence numbers are embedded in the
    directory names, so they carry over unchanged) and removes the legacy
    root.  Returns the number of sidecars migrated.  Idempotent: a table
    already on the new layout is a no-op."""
    legacy = os.path.join(target, _DELETES)
    if not os.path.isdir(legacy):
        return 0
    new_root = _deletes_root(target)
    os.makedirs(new_root, exist_ok=True)
    moved = 0
    for d in sorted(os.listdir(legacy)):
        if d.startswith("d-"):
            os.rename(os.path.join(legacy, d), os.path.join(new_root, d))
            moved += 1
    shutil.rmtree(legacy)
    return moved


def mor_write(df: DataFrame, target: str) -> None:
    """Create/overwrite the table as a single segment.  Old sidecars live
    inside the replaced data root, so the swap clears them in the same
    rename that publishes the new segment — no stale-sidecar window.

    A pre-rename-layout table may also carry sidecars at the legacy
    SIBLING location ``target/_deletes``; an overwrite replaces the whole
    table, so those are dead too and are removed here.  Leaving them
    would make every later read raise the legacy-layout error, and
    migrating them would apply the OLD table's deletes to the fresh
    seg-00000 — silently deleting freshly written rows."""
    staged_overwrite(df, _data_root(target), "seg-00000")
    legacy = os.path.join(target, _DELETES)
    if os.path.isdir(legacy):
        shutil.rmtree(legacy)


def _conform(df: DataFrame, target: str) -> DataFrame:
    """``df`` checked against the table's stored schema (``ValueError``
    on a column it does not hold or a type it does not take; a narrower
    integer or float is cast up — see ``store.conform_append``)."""
    schema = load_schema(_data_root(target))
    return conform_append(df, None if schema is None else column_types(schema), target)


def _append_segment(df: DataFrame, target: str) -> str:
    idx = len(_segments(target))
    path = os.path.join(_data_root(target), f"seg-{idx:05d}")
    df.write.mode("errorifexists").parquet(path)
    return path


def mor_append(df: DataFrame, target: str) -> str:
    """Append one data segment; returns its path.  O(batch).  The batch
    must have the table's columns and types; a narrower integer or float
    column is cast up to the table's type, any other difference raises
    ``ValueError`` (see ``store.conform_append``)."""
    return _append_segment(_conform(df, target), target)


def mor_delete(keys: DataFrame, target: str, key_cols: "list[str]") -> str:
    """Append one keys-only delete sidecar at the current sequence.

    O(|keys|): no data segment is touched.  Applies to every segment
    that exists NOW (sequence = current segment count); segments
    appended later are unaffected.  Re-deleting absent keys is a no-op.
    Keys are cast to the table's key types (a key the type cannot hold
    becomes null and deletes nothing).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    seq = len(_segments(target))
    path = os.path.join(_deletes_root(target), f"d-{seq:05d}-{uuid.uuid4().hex[:12]}")
    schema = load_schema(_data_root(target))
    cols = [
        F.col(k) if schema is None else F.col(k).try_cast(schema[k].dataType).alias(k)
        for k in key_cols
    ]
    keys.select(*cols).write.mode("errorifexists").parquet(path)
    return path


def mor_upsert(df: DataFrame, target: str, key_cols: "list[str]") -> str:
    """Merge-on-read upsert: delete the batch's keys from all EXISTING
    segments, then append the batch as a new segment — O(batch), never a
    base rewrite.  The sequence rule keeps the new rows alive.  The batch
    is checked against the table's schema before anything is written, so
    a refused batch leaves no sidecar behind to hide the live rows."""
    df = _conform(df, target)
    mor_delete(df.select(*key_cols), target, key_cols)
    return _append_segment(df, target)


def _dir_number(pattern: str) -> Column:
    """The number in the directory ``pattern`` matches in each row's file
    path, as int."""
    return F.regexp_extract("_metadata.file_path", pattern, 1).cast("int")


def _scan(spark: SparkSession, target: str) -> DataFrame:
    """Every data segment in one scan, with the table's stored schema."""
    segs = _segments(target)
    if not segs:
        raise FileNotFoundError(f"no data segments under {target}")
    schema = load_schema(_data_root(target))
    if schema is None:
        # written before schemas were stored, when appends were unchecked:
        # widen the segments' footer schemas as a union of them would
        schema = reduce(DataFrame.unionByName, [spark.read.parquet(s) for s in segs]).schema
    return spark.read.schema(schema).parquet(*segs)


def _scan_keys(spark: SparkSession, target: str, paths: "list[str]",
               key_cols: "list[str]") -> DataFrame:
    """Every sidecar in ``paths`` in one scan, read with the key fields
    of the table's stored schema (the types ``mor_delete`` cast to)."""
    schema = load_schema(_data_root(target))
    keys = None if schema is None else StructType([schema[k] for k in key_cols])
    return read_parquet(spark, keys, *paths).select(*key_cols)


def mor_read(spark: SparkSession, target: str, key_cols: "list[str]") -> DataFrame:
    """The live view: every segment minus the delete keys that apply to
    each row's segment (sidecars with sequence > segment index)."""
    base = _scan(spark, target)
    dels = [p for s, p in _delete_files(target) if s > 0]
    if not dels:
        return base
    keys = _scan_keys(spark, target, dels, key_cols).select(
        *[F.col(k).alias(f"__del_{k}") for k in key_cols],
        _dir_number(r"/d-(\d+)-[^/]*/[^/]*$").alias("__seq"),
    )
    base = base.withColumn("__seg", _dir_number(r"/seg-(\d+)/[^/]*$"))
    cond = F.col("__seq") > F.col("__seg")
    for k in key_cols:
        cond = cond & (base[k] == keys[f"__del_{k}"])
    return base.join(F.broadcast(keys), cond, "left_anti").drop("__seg")


def mor_compact(spark: SparkSession, target: str, key_cols: "list[str]") -> int:
    """Fold segments + sidecars into one segment (staged swap); returns
    the number of sidecars folded.  Because sidecars live inside the data
    root, the ONE rename that publishes the compacted segment also retires
    every sidecar — a reader can never pair the new segment with stale
    sequence>0 deletes (the wrong-data race of a two-step swap)."""
    dels = _delete_files(target)
    segs = _segments(target)
    if not dels and len(segs) <= 1:
        return 0
    staged_overwrite(mor_read(spark, target, key_cols), _data_root(target), "seg-00000")
    return len(dels)


def mor_stats(spark: SparkSession, target: str, key_cols: "list[str]") -> dict:
    """Audit panel: raw segment rows, distinct delete keys, live rows,
    segment and sidecar counts."""
    segs = _segments(target)
    base = _scan(spark, target).count()
    dels = _delete_files(target)
    deleted = (
        _scan_keys(spark, target, [p for _, p in dels], key_cols).distinct().count()
        if dels
        else 0
    )
    live = mor_read(spark, target, key_cols).count()
    return {
        "base_rows": base,
        "delete_keys": deleted,
        "live_rows": live,
        "delete_files": len(dels),
        "segments": len(segs),
    }
