"""Versioned parquet tables: manifest-pointer commits, time travel,
rollback, vacuum — a minimal table format for environments without
delta-spark (this container), re-expressing the public Delta/Iceberg
commit model at its simplest:

* a table is a directory of immutable SEGMENT dirs (each one parquet
  write) plus ``_versions/vNNNNNNNN.json`` manifests; a manifest lists
  the segments composing that version;
* a commit writes the new segment (if any), writes the manifest to a
  temp name, and renames it into place — rename is the atomic commit
  point, so readers resolve either the old or the new version, never a
  half state;
* APPEND adds a segment and a manifest referencing prev + new (no data
  rewrite — O(batch), like a Delta append); OVERWRITE writes one new
  segment and a manifest referencing only it (old segments stay for
  time travel until vacuumed);
* ROLLBACK is a new manifest pointing at an old version's segments —
  history is append-only, no data moves;
* VACUUM deletes segment dirs referenced by no retained manifest
  (reference-counted, so a rollback target shared across versions
  survives).

Single-writer contract (same as the reference's change-tracking use):
concurrent committers would race the version counter; serialize writes
per table.  At 100 TB the segment layout maps 1:1 onto object-store
prefixes and the manifest read is O(1) per query.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .store import TableStore, column_types, conform_append

__all__ = ["VersionedParquetStore"]

_MANIFEST_DIR = "_versions"


def _manifest_path(target: str, version: int) -> str:
    return os.path.join(target, _MANIFEST_DIR, f"v{version:08d}.json")


class VersionedParquetStore(TableStore):
    """``TableStore`` with linear version history on plain parquet."""

    # ---------------------------------------------------------- history
    def latest_version(self, target: str) -> "int | None":
        vdir = os.path.join(target, _MANIFEST_DIR)
        if not os.path.isdir(vdir):
            return None
        versions = [
            int(name[1:-5])
            for name in os.listdir(vdir)
            if name.startswith("v") and name.endswith(".json")
        ]
        return max(versions) if versions else None

    def history(self, target: str) -> "list[dict]":
        vdir = os.path.join(target, _MANIFEST_DIR)
        if not os.path.isdir(vdir):
            return []
        out = []
        for name in sorted(os.listdir(vdir)):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(vdir, name)) as f:
                    out.append(json.load(f))
        return out

    def _manifest(self, target: str, version: int) -> dict:
        path = _manifest_path(target, version)
        if not os.path.isfile(path):
            raise ValueError(f"no version {version} at {target}")
        with open(path) as f:
            return json.load(f)

    # ----------------------------------------------------------- commit
    def _commit(
        self,
        target: str,
        segments: "list[str]",
        op: str,
        schema: "list[list[str]] | None" = None,
        evolved: bool = False,
    ) -> int:
        prev = self.latest_version(target)
        version = (prev or 0) + 1
        os.makedirs(os.path.join(target, _MANIFEST_DIR), exist_ok=True)
        manifest = {
            "version": version,
            "op": op,
            "segments": segments,
            "committed_at": time.time(),
        }
        if schema is not None:
            manifest["schema"] = schema
        if evolved:
            # sticky: once any retained segment set spans two schemas the
            # reader must footer-merge (mergeSchema) for this version
            manifest["evolved"] = True
        tmp = _manifest_path(target, version) + f".tmp_{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # atomic commit point with loud conflict detection: os.link fails
        # with FileExistsError if the version already exists (os.rename
        # would silently REPLACE it on POSIX — a violated single-writer
        # contract must lose loudly, not overwrite a committed version)
        final = _manifest_path(target, version)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise RuntimeError(
                f"concurrent commit detected: version {version} already "
                f"exists at {target} (single-writer contract violated)"
            ) from None
        finally:
            os.unlink(tmp)
        return version

    def _write_segment(self, df: DataFrame, target: str) -> str:
        seg = f"seg_{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(target, seg))
        return seg

    # ---------------------------------------------------- TableStore API
    def exists(self, spark: SparkSession, target: str) -> bool:
        return self.latest_version(target) is not None

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        version = self.latest_version(target)
        if version is None:
            raise ValueError(f"no committed version at {target}")
        return self.read_version(spark, target, version)

    def read_version(self, spark: SparkSession, target: str, version: int) -> DataFrame:
        manifest = self._manifest(target, version)
        paths = [os.path.join(target, seg) for seg in manifest["segments"]]
        reader = spark.read
        if manifest.get("evolved"):
            # segments span two schemas: merge footers so columns added by
            # later appends surface (null-filled on old segments) instead
            # of being silently dropped by single-footer schema inference
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def append(self, df: DataFrame, target: str, merge_schema: bool = False) -> None:
        """Append one segment.  The batch is checked against the table's
        schema by ``conform_append`` (the parquet stores' one rule): a
        batch that adds or drops columns fails LOUDLY unless
        ``merge_schema=True`` (evolution: new columns null-fill on old
        segments at read time; silent column loss is the failure mode this
        guards), and a column that changes type fails even then."""
        prev = self.latest_version(target)
        prev_manifest = self._manifest(target, prev) if prev else None
        segments = prev_manifest["segments"] if prev_manifest else []
        evolved = bool(prev_manifest and prev_manifest.get("evolved"))
        prev_schema = prev_manifest.get("schema") if prev_manifest else None
        df = conform_append(df, prev_schema, target, merge_schema)
        new_schema = column_types(df.schema)
        if prev_schema is not None and prev_schema != new_schema:
            evolved = True
            # committed schema = union in first-seen column order
            seen = {tuple(c) for c in prev_schema}
            new_schema = prev_schema + [c for c in new_schema if tuple(c) not in seen]
        seg = self._write_segment(df, target)
        self._commit(target, segments + [seg], "append", schema=new_schema, evolved=evolved)

    def overwrite(self, df: DataFrame, target: str) -> None:
        seg = self._write_segment(df, target)
        self._commit(target, [seg], "overwrite", schema=column_types(df.schema))

    # ------------------------------------------------- travel/maintenance
    def rollback(self, target: str, version: int) -> int:
        """Commit a NEW version whose content is ``version``'s — history
        stays append-only and no segment moves."""
        manifest = self._manifest(target, version)
        return self._commit(
            target,
            manifest["segments"],
            f"rollback:{version}",
            schema=manifest.get("schema"),
            evolved=bool(manifest.get("evolved")),
        )

    def vacuum(self, target: str, keep_last: int = 2) -> "list[str]":
        """Drop manifests older than the last ``keep_last`` versions and
        delete segment dirs no retained manifest references.  Returns the
        deleted segment names."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        latest = self.latest_version(target)
        if latest is None:
            return []
        cutoff = latest - keep_last + 1
        keep_segments: set[str] = set()
        drop_manifests: list[int] = []
        for m in self.history(target):
            if m["version"] >= cutoff:
                keep_segments.update(m["segments"])
            else:
                drop_manifests.append(m["version"])
        deleted = []
        for name in os.listdir(target):
            if name.startswith("seg_") and name not in keep_segments:
                shutil.rmtree(os.path.join(target, name), ignore_errors=True)
                deleted.append(name)
        for v in drop_manifests:
            os.remove(_manifest_path(target, v))
        return deleted
