"""Storage seam for change tracking: Delta when available, parquet otherwise.

The reference writes exclusively through Delta
(``/root/reference/src/spark_fuse/utils/change_tracking.py:223-245`` read/
append, ``:230-234`` ``DeltaTable.forPath/forName``).  This container has no
delta-spark, so the portable backend is parquet with a staged-swap full
rewrite.  Semantics are identical; the difference is purely physical:

* Delta ``MERGE`` rewrites only files containing matched keys (data
  skipping); the parquet backend rewrites the whole table.  At 100 TB you
  deploy the Delta backend (`DeltaStore` activates automatically when
  ``import delta`` succeeds); the parquet backend is the correctness
  fallback and the local test target.
* Appends are real appends in both backends (no rewrite).

Every parquet directory this layer publishes carries its schema: the
DataFrame's ``StructType`` JSON as ``_schema.json`` next to the data
(Spark's file listing skips names that start with ``_``), written into
the staging directory before the rename that publishes it.  A read
passes it to ``spark.read.schema(...)``, so no footer job runs to infer
it — the role Delta's log plays for the schema.  A directory without
the file (written before schemas were stored, or by another tool) is
read by inference.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["TableStore", "ParquetStore", "DeltaStore", "get_store"]


def _has_delta() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


_SCHEMA_FILE = "_schema.json"


def save_schema(schema: StructType, directory: str) -> None:
    """Write ``schema`` as ``directory/_schema.json``."""
    with open(os.path.join(directory, _SCHEMA_FILE), "w") as f:
        f.write(schema.json())


def load_schema(directory: str) -> "StructType | None":
    """The schema stored in ``directory``, or None when it has none."""
    path = os.path.join(directory, _SCHEMA_FILE)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return StructType.fromJson(json.load(f))


def read_parquet(spark: SparkSession, schema: "StructType | None", *paths: str) -> DataFrame:
    """One scan of ``paths``; a known schema skips the footer inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def column_types(schema: StructType) -> "list[list[str]]":
    """``[[name, type], ...]`` in column order: what an append is checked
    against (``VersionedParquetStore`` keeps this list in its manifests)."""
    return [[f.name, f.dataType.simpleString()] for f in schema.fields]


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _widens(batch: str, table: str) -> bool:
    """Whether every value of type ``batch`` is exactly a value of type
    ``table``: a narrower integer, or float into double."""
    if batch in _INTEGRAL and table in _INTEGRAL:
        return _INTEGRAL.index(batch) < _INTEGRAL.index(table)
    return (batch, table) == ("float", "double")


def conform_append(
    df: DataFrame, table: "list[list[str]] | None", target: str, merge_schema: bool = False
) -> DataFrame:
    """The one append-compatibility rule of the parquet stores: the batch
    to append to a table whose columns are ``table`` (``column_types``),
    checked by column name and type (nullability aside), with its columns
    in the table's order.

    A narrower integer or float column is cast up to the table's type, so
    the table's recorded schema stays true.  Any other type difference
    raises ``ValueError`` naming the column.  So does a column added or
    missing, unless ``merge_schema`` (an evolving append: added columns
    follow the table's, missing ones are left out).  ``table`` None (no
    recorded schema): the batch is appended as it is.
    """
    if table is None:
        return df
    have = dict(table)
    batch = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for name, typ in batch.items():
        want = have.get(name)
        if want is not None and want != typ and not _widens(typ, want):
            raise ValueError(
                f"type evolution unsupported at {target}: column {name!r} is {typ}, "
                f"the table's is {want}; cast the batch to the table schema"
            )
    extra = [n for n in batch if n not in have]
    missing = [n for n in have if n not in batch]
    if (extra or missing) and not merge_schema:
        name, where = (extra[0], "not in the table") if extra else (missing[0], "missing")
        raise ValueError(
            f"append to {target}: column {name!r} is {where}; only a store "
            "that evolves schemas may add or drop columns, with merge_schema=True"
        )

    def col(name: str) -> Column:
        c = F.col("`" + name.replace("`", "``") + "`")
        want = have.get(name, batch[name])
        return c if want == batch[name] else c.cast(want).alias(name)

    return df.select(*[col(n) for n in have if n in batch], *[col(n) for n in extra])


def staged_overwrite(df: DataFrame, target: str, data: str = "") -> None:
    """Replace directory ``target`` with ``df`` (written to subdirectory
    ``data`` of it, or to ``target`` itself) and its schema, through a
    staged sibling and a rename.

    A failed write removes the staging directory and re-raises, leaving
    the previous ``target`` as it was.
    """
    staged = f"{target}__staged_{uuid.uuid4().hex[:12]}"
    try:
        df.write.mode("overwrite").parquet(os.path.join(staged, data) if data else staged)
        save_schema(df.schema, staged)
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    if os.path.isdir(target):
        retired = f"{target}__retired_{uuid.uuid4().hex[:12]}"
        os.rename(target, retired)
        os.rename(staged, target)
        shutil.rmtree(retired, ignore_errors=True)
    else:
        os.rename(staged, target)


class TableStore:
    """Minimal table contract the SCD protocols need."""

    def exists(self, spark: SparkSession, target: str) -> bool:
        raise NotImplementedError

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        raise NotImplementedError

    def append(self, df: DataFrame, target: str, merge_schema: bool = False) -> None:
        raise NotImplementedError

    def overwrite(self, df: DataFrame, target: str) -> None:
        raise NotImplementedError


class ParquetStore(TableStore):
    """Path-addressed parquet tables with atomic staged-swap overwrite.

    Spark cannot overwrite a path that feeds the plan being written, so
    ``overwrite`` materializes to a sibling staging dir then swaps via
    rename — readers never observe a half-written table.  The table
    carries its schema (``_schema.json``, written by ``overwrite``), so
    ``read`` runs no inference job; a table without the file falls back
    to inference.  ``append`` checks a batch against the stored schema.
    """

    def exists(self, spark: SparkSession, target: str) -> bool:
        return os.path.isdir(target) and any(
            name.endswith(".parquet") or name == "_SUCCESS" for name in os.listdir(target)
        )

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        return read_parquet(spark, load_schema(target), target)

    def append(self, df: DataFrame, target: str, merge_schema: bool = False) -> None:
        """Append the batch, checked by ``conform_append`` against the
        stored schema.  The stored schema does not evolve, so a batch that
        adds or drops columns raises even with ``merge_schema``."""
        stored = load_schema(target)
        batch = conform_append(df, None if stored is None else column_types(stored), target)
        batch.write.mode("append").parquet(target)

    def overwrite(self, df: DataFrame, target: str) -> None:
        staged_overwrite(df, target)


class DeltaStore(TableStore):
    """Delta-backed tables (path or catalog name, reference heuristic:
    identifier containing ``/`` or ``:/`` is a path,
    ``change_tracking.py:218-227``)."""

    @staticmethod
    def _is_path(target: str) -> bool:
        return "/" in target or ":/" in target

    def exists(self, spark: SparkSession, target: str) -> bool:
        from delta.tables import DeltaTable

        if self._is_path(target):
            return DeltaTable.isDeltaTable(spark, target)
        return spark.catalog.tableExists(target)

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        if self._is_path(target):
            return spark.read.format("delta").load(target)
        return spark.table(target)

    def append(self, df: DataFrame, target: str, merge_schema: bool = False) -> None:
        writer = df.write.format("delta").mode("append")
        if merge_schema:
            writer = writer.option("mergeSchema", "true")
        if self._is_path(target):
            writer.save(target)
        else:
            writer.saveAsTable(target)

    def overwrite(self, df: DataFrame, target: str) -> None:
        writer = df.write.format("delta").mode("overwrite").option("overwriteSchema", "true")
        if self._is_path(target):
            writer.save(target)
        else:
            writer.saveAsTable(target)


def get_store(backend: str = "auto") -> TableStore:
    """Resolve the storage backend: ``auto`` prefers Delta when importable.

    ``versioned`` selects :class:`~spark_fuse_spark.cdc.versioned.
    VersionedParquetStore` — parquet with manifest-pointer commits, time
    travel, rollback and vacuum (the no-delta table format).
    """
    if backend == "delta" or (backend == "auto" and _has_delta()):
        return DeltaStore()
    if backend == "versioned":
        from .versioned import VersionedParquetStore

        return VersionedParquetStore()
    if backend in ("auto", "parquet"):
        return ParquetStore()
    raise ValueError(f"unknown change-tracking backend {backend!r}")
