"""SCD Type-1 / Type-2 upsert protocols (reference parity, Spark-first).

Semantics preserved from the reference
(``/root/reference/src/spark_fuse/utils/change_tracking.py``):

* deterministic row hash: sha256 over unit-separator-joined,
  null-coalesced string casts (``:24-25,272-274,443-445``) — hash equality
  ⇔ attribute equality including nulls;
* null-safe business-key matching (``<=>``, ``:313-317,463-472``);
* null-key policy ``error`` (default) or ``drop`` (``:412-424,574-586``);
* dedup keep-latest inside a batch via
  ``row_number() over (partition by keys order by order_by desc_nulls_last)``
  (``:427-440``), or ``dropDuplicates`` when no order column is given;
* SCD2 intra-batch sequencing: duplicate keys are processed
  oldest→newest so every intermediate version is preserved
  (``:589-600,641-662``);
* SCD2 metadata columns ``effective_start_ts / effective_end_ts /
  is_current / version / row_hash`` (``:300-306,356-364``).

Scale notes (100 TB design):

* SCD1 compares by key-equi joins → shuffles on business keys; AQE
  skew-join handles hot keys.  Its deduped batch is probed the same
  way as a single SCD2 mini-batch (below): one top-1 job answers the
  empty-batch and null-key questions, and an empty batch writes
  nothing.
* an SCD2 mini-batch on the parquet backend rewrites the whole table
  anyway (see ``store.py``), so it is resolved in ONE window keyed on
  the business keys over history ∪ batch: one shuffle of the table, no
  joins.  The Delta backend stays a file-pruned ``MERGE`` that touches
  only files holding matched keys.
* the SCD2 per-sequence loop is driver-side but bounded by the maximum
  duplicate multiplicity of one batch (max_seq), not by data volume —
  same bound as the reference.
* with ``order_by`` the multi-pass source is cached once per call
  (reference ``:627-629,664-665``); one aggregate over it reads both the
  loop bound and the null-key check.  Without ``order_by`` there is a
  single mini-batch and no aggregate: the deduped batch is checkpointed
  lazily, one top-1 job over it answers "is it empty?" and "has it a
  null key?" while it evaluates the source (once) and keeps the rows,
  and the write query reads the kept rows.
"""

from __future__ import annotations

from enum import Enum
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_fuse_spark.cdc.store import TableStore, get_store
from spark_fuse_spark.functions.hashing import row_hash

__all__ = [
    "ChangeTrackingMode",
    "current_only_upsert",
    "track_history_upsert",
    "apply_change_tracking",
    "change_tracking_writer",
    "scd1_merge_spec",
    "scd2_close_merge_spec",
]

HASH_COL = "row_hash"
LOAD_TS_COL = "load_ts"
START_COL = "effective_start_ts"
END_COL = "effective_end_ts"
CURRENT_COL = "is_current"
VERSION_COL = "version"
_SEQ_COL = "__change_tracking_seq"
_BATCH_COL = "__change_tracking_batch"

_SCD1_META = (HASH_COL, LOAD_TS_COL)
_SCD2_META = (HASH_COL, START_COL, END_COL, CURRENT_COL, VERSION_COL)


class ChangeTrackingMode(Enum):
    CURRENT_ONLY = "current_only"
    TRACK_HISTORY = "track_history"


_MODE_ALIASES: dict[str, ChangeTrackingMode] = {
    "1": ChangeTrackingMode.CURRENT_ONLY,
    "current": ChangeTrackingMode.CURRENT_ONLY,
    "current_only": ChangeTrackingMode.CURRENT_ONLY,
    "scd1": ChangeTrackingMode.CURRENT_ONLY,
    "type1": ChangeTrackingMode.CURRENT_ONLY,
    "2": ChangeTrackingMode.TRACK_HISTORY,
    "history": ChangeTrackingMode.TRACK_HISTORY,
    "track_history": ChangeTrackingMode.TRACK_HISTORY,
    "scd2": ChangeTrackingMode.TRACK_HISTORY,
    "type2": ChangeTrackingMode.TRACK_HISTORY,
}


def resolve_mode(mode: "ChangeTrackingMode | str | int") -> ChangeTrackingMode:
    """Alias-tolerant mode resolution (reference ``change_tracking.py:29-79``)."""
    if isinstance(mode, ChangeTrackingMode):
        return mode
    key = str(mode).strip().lower()
    if key in _MODE_ALIASES:
        return _MODE_ALIASES[key]
    raise ValueError(f"unknown change_tracking_mode {mode!r}")


# --------------------------------------------------------------------------
# shared preparation
# --------------------------------------------------------------------------


def _validate_keys(df: DataFrame, business_keys: Sequence[str]) -> None:
    if not business_keys:
        raise ValueError("business_keys must be non-empty")
    missing = [k for k in business_keys if k not in df.columns]
    if missing:
        raise ValueError(f"business keys missing from source: {missing}")


def _null_key_predicate(business_keys: Sequence[str]) -> Column:
    pred = F.col(business_keys[0]).isNull()
    for k in business_keys[1:]:
        pred = pred | F.col(k).isNull()
    return pred


def _on_null_keys(df: DataFrame, business_keys: Sequence[str], policy: str) -> DataFrame:
    """Apply the null-key policy to a frame known to hold a null key."""
    if policy == "allow":
        return df
    if policy == "error":
        raise ValueError(f"null business key values present in {business_keys}")
    if policy == "drop":
        return df.where(~_null_key_predicate(business_keys))
    raise ValueError(f"unknown null-key policy {policy!r}")


def _probed_batch(
    batch: DataFrame, business_keys: Sequence[str], policy: str
) -> "DataFrame | None":
    """``batch`` checkpointed lazily with the null-key policy applied, or
    ``None`` when it is empty.  One top-1 probe (TakeOrderedAndProject,
    one job) over the null-key flag answers both questions, evaluates the
    batch once and keeps its rows, so the write that follows reads the
    rows the probe saw (one set of rows, one load_ts).  Null keys form
    their own dedup groups, so the policy may run on deduped rows."""
    batch = batch.localCheckpoint(eager=False)
    null_key = _null_key_predicate(business_keys)
    probe = batch.select(null_key.alias("k")).orderBy(F.desc("k")).limit(1).collect()
    if not probe:
        return None
    return _on_null_keys(batch, business_keys, policy) if probe[0][0] else batch


def _hash_columns(df: DataFrame, business_keys: Sequence[str],
                  exclude: Sequence[str]) -> list[str]:
    skip = set(business_keys) | set(exclude) | set(_SCD1_META) | set(_SCD2_META) | {_SEQ_COL}
    cols = [c for c in df.columns if c not in skip]
    if not cols:
        raise ValueError("no trackable columns left after exclusions")
    return cols


def _dedup_keep_latest(
    df: DataFrame, business_keys: Sequence[str], order_by: "str | None"
) -> DataFrame:
    if order_by is None:
        return df.dropDuplicates(list(business_keys))
    w = Window.partitionBy(*business_keys).orderBy(F.col(order_by).desc_nulls_last())
    return (
        df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    )


def _nullsafe_cond(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> Column:
    cond = left[keys[0]].eqNullSafe(right[keys[0]])
    for k in keys[1:]:
        cond = cond & left[k].eqNullSafe(right[k])
    return cond


def _load_ts(load_ts_expr: "str | None") -> Column:
    return F.expr(load_ts_expr or "current_timestamp()").cast("timestamp")


# --------------------------------------------------------------------------
# SCD Type 1
# --------------------------------------------------------------------------


def current_only_upsert(
    spark: SparkSession,
    source: DataFrame,
    target: str,
    business_keys: Sequence[str],
    *,
    order_by: "str | None" = None,
    exclude_columns: Sequence[str] = (),
    null_key_policy: str = "error",
    load_ts_expr: "str | None" = None,
    store: "TableStore | None" = None,
) -> None:
    """SCD Type 1: keep only the latest version of each business key.

    Update a target row only when the row hash differs (so unchanged rows
    keep their original ``load_ts`` — reference ``whenMatchedUpdate``
    condition, ``change_tracking.py:466-472,490-493``); insert new keys.
    An empty batch writes nothing, not even an empty first target.
    """
    store = store or get_store()
    _validate_keys(source, business_keys)
    src = _dedup_keep_latest(source, business_keys, order_by)
    tracked = _hash_columns(src, business_keys, exclude_columns)
    src = _probed_batch(
        src.withColumn(HASH_COL, row_hash(tracked)).withColumn(LOAD_TS_COL, _load_ts(load_ts_expr)),
        business_keys,
        null_key_policy,
    )
    if src is None:  # an empty batch changes nothing
        return

    if not store.exists(spark, target):
        store.overwrite(src, target)
        return

    if _delta_merge_scd1(spark, src, target, business_keys, store):
        return

    tgt = store.read(spark, target)
    s, t = src.alias("s"), tgt.alias("t")
    cond = _nullsafe_cond(s, t, business_keys)
    # new keys, or matched keys whose hash changed → take the source row
    upserts = (
        s.join(t.select(*business_keys, F.col(HASH_COL).alias("__t_hash")), cond, "left")
        .where(F.col("__t_hash").isNull() | (F.col("__t_hash") != s[HASH_COL]))
        .select([s[c] for c in src.columns])
    )
    # target rows not being replaced survive untouched (incl. unchanged matches)
    survivors = t.join(upserts.alias("u"), _nullsafe_cond(t, upserts, business_keys), "left_anti")
    # allowMissingColumns gives append-style schema evolution (reference
    # mergeSchema on append, change_tracking.py:237-245)
    store.overwrite(survivors.unionByName(upserts, allowMissingColumns=True), target)


def scd1_merge_spec(business_keys: Sequence[str]) -> dict:
    """The SCD1 ``MERGE INTO`` choreography as data (target alias ``t``,
    source alias ``s``) — pure string construction so tests can pin the
    exact condition/action shapes even when delta-spark is absent
    (reference semantics: ``change_tracking.py:463,483-496``).

    * match on null-safe key equality;
    * matched rows update ALL columns only when the row hash changed
      (unchanged rows must not be rewritten — data skipping depends on it);
    * unmatched source rows insert ALL columns.
    """
    return {
        "condition": " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in business_keys),
        "when_matched_update_all_condition": f"NOT (t.`{HASH_COL}` <=> s.`{HASH_COL}`)",
        "when_not_matched": "insert_all",
    }


def scd2_close_merge_spec(business_keys: Sequence[str]) -> dict:
    """The SCD2 close-step ``MERGE INTO`` choreography as data (reference
    ``change_tracking.py:318-333``): only CURRENT rows participate, a
    changed hash closes the row by setting ``end_ts`` to the SOURCE
    batch's load timestamp (so old.end_ts == new.start_ts exactly) and
    flipping ``is_current``.  No insert clause — inserts happen in the
    follow-up append with grouped-max versioning."""
    keys_cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in business_keys)
    return {
        "condition": f"({keys_cond}) AND t.`{CURRENT_COL}` = true",
        "when_matched_update_condition": f"NOT (t.`{HASH_COL}` <=> s.`{HASH_COL}`)",
        "when_matched_update_set": {END_COL: f"s.`{LOAD_TS_COL}`", CURRENT_COL: "false"},
    }


def _delta_merge_scd1(
    spark: SparkSession,
    src: DataFrame,
    target: str,
    business_keys: Sequence[str],
    store: TableStore,
) -> bool:
    """Delta fast path: hash-gated ``MERGE INTO`` (reference
    ``change_tracking.py:463,483-496``) — rewrites only files containing
    matched keys instead of the whole table.  Returns False when the
    store isn't Delta, so the generic rewrite runs instead."""
    from spark_fuse_spark.cdc.store import DeltaStore

    if not isinstance(store, DeltaStore):
        return False
    from delta.tables import DeltaTable

    dt = (
        DeltaTable.forPath(spark, target)
        if DeltaStore._is_path(target)
        else DeltaTable.forName(spark, target)
    )
    spec = scd1_merge_spec(business_keys)
    (
        dt.alias("t")
        .merge(src.alias("s"), spec["condition"])
        .whenMatchedUpdateAll(condition=spec["when_matched_update_all_condition"])
        .whenNotMatchedInsertAll()
        .execute()
    )
    return True


# --------------------------------------------------------------------------
# SCD Type 2
# --------------------------------------------------------------------------


def _stamp_insert(batch: DataFrame, version_col: Column) -> DataFrame:
    return (
        batch.withColumn(START_COL, F.col(LOAD_TS_COL))
        .withColumn(END_COL, F.lit(None).cast("timestamp"))
        .withColumn(CURRENT_COL, F.lit(True))
        .withColumn(VERSION_COL, version_col.cast("int"))
    )


def track_history_upsert(
    spark: SparkSession,
    source: DataFrame,
    target: str,
    business_keys: Sequence[str],
    *,
    order_by: "str | None" = None,
    exclude_columns: Sequence[str] = (),
    null_key_policy: str = "error",
    load_ts_expr: "str | None" = None,
    store: "TableStore | None" = None,
) -> None:
    """SCD Type 2: every change appends a new version and closes the old.

    Duplicate keys inside one batch are sequenced oldest→newest by
    ``order_by`` and applied as successive mini-batches so every
    intermediate version lands in history (reference
    ``change_tracking.py:589-600,641-662``).
    """
    store = store or get_store()
    _validate_keys(source, business_keys)
    tracked = _hash_columns(source, business_keys, exclude_columns)
    null_key = _null_key_predicate(business_keys)

    def stamped(df: DataFrame) -> DataFrame:
        return df.withColumn(HASH_COL, row_hash(tracked)).withColumn(
            LOAD_TS_COL, _load_ts(load_ts_expr)
        )

    if order_by is None:
        # one mini-batch, probed once for emptiness and null keys
        batch = _probed_batch(
            stamped(_dedup_keep_latest(source, business_keys, None)),
            business_keys,
            null_key_policy,
        )
        if batch is not None:
            _apply_scd2_batch(spark, batch, target, business_keys, store)
        return

    # Null keys form their own sequence groups, so the null-key policy can
    # run on the sequenced rows: one aggregate over the cached source reads
    # the loop bound and the null-key check together.
    w = Window.partitionBy(*business_keys).orderBy(F.col(order_by).asc_nulls_first())
    cached = stamped(source.withColumn(_SEQ_COL, F.row_number().over(w))).cache()
    try:  # multi-pass: the aggregate + one pass per sequence rank
        max_seq, max_seq_keyed, has_null = cached.agg(
            F.max(_SEQ_COL), F.max(F.when(~null_key, F.col(_SEQ_COL))), F.max(null_key)
        ).first()
        src = cached
        if has_null and null_key_policy != "allow":
            src, max_seq = _on_null_keys(cached, business_keys, null_key_policy), max_seq_keyed
        for seq in range(1, (max_seq or 0) + 1):
            batch = src.where(F.col(_SEQ_COL) == seq).drop(_SEQ_COL)
            _apply_scd2_batch(spark, batch, target, business_keys, store)
    finally:
        cached.unpersist()


def _apply_scd2_batch(
    spark: SparkSession,
    batch: DataFrame,
    target: str,
    business_keys: Sequence[str],
    store: TableStore,
) -> None:
    data_cols = [c for c in batch.columns if c != LOAD_TS_COL and c != HASH_COL]
    out_cols = data_cols + [HASH_COL, LOAD_TS_COL, START_COL, END_COL, CURRENT_COL, VERSION_COL]

    if not store.exists(spark, target):
        store.overwrite(_stamp_insert(batch, F.lit(1)).select(out_cols), target)
        return

    if _delta_scd2_batch(spark, batch, target, business_keys, store, out_cols):
        return

    # One keyed shuffle: the full history and the mini-batch (stamped and
    # projected to the target's columns, so a batch lacking a target
    # column fails before anything is written) share a window per
    # business key.  partitionBy groups null keys together, the same
    # grouping as <=>.
    tgt = store.read(spark, target)
    is_new = F.col(_BATCH_COL)
    both = tgt.withColumn(_BATCH_COL, F.lit(False)).unionByName(
        _stamp_insert(batch, F.lit(0)).select(tgt.columns).withColumn(_BATCH_COL, F.lit(True))
    )
    w = Window.partitionBy(*business_keys)
    cur_hash = F.max(F.when(~is_new & F.col(CURRENT_COL), F.col(HASH_COL))).over(w)
    new_hash = F.max(F.when(is_new, F.col(HASH_COL))).over(w)
    # The close timestamp is the batch rows' load_ts, read in this same
    # query as the successor's effective_start, not a separately
    # evaluated expression: with the default current_timestamp() a
    # re-evaluation would land after the successor's effective_start,
    # leaving overlapping validity intervals — end_ts of the old version
    # must equal start_ts of the new one (the Delta path uses s.load_ts
    # the same way).
    close_ts = F.max(F.when(is_new, F.col(LOAD_TS_COL))).over(w)
    # prior max version per key over the FULL history (reference J2/A1,
    # change_tracking.py:348-354)
    max_ver = F.max(F.when(~is_new, F.col(VERSION_COL))).over(w)
    keyed = both.select(
        "*",
        cur_hash.alias("__cur_hash"),
        new_hash.alias("__new_hash"),
        close_ts.alias("__close_ts"),
        max_ver.alias("__max_ver"),
    )
    # a current row is closed when the batch brings a different hash;
    # a batch row versions up when its key is new or its hash changed
    closing = ~is_new & F.col(CURRENT_COL) & (F.col("__cur_hash") != F.col("__new_hash"))
    inserting = is_new & (
        F.col("__cur_hash").isNull() | (F.col("__cur_hash") != F.col(HASH_COL))
    )
    version = (F.coalesce(F.col("__max_ver"), F.lit(0)) + F.lit(1)).cast("int")
    adjusted = {
        END_COL: F.when(closing, F.col("__close_ts")).otherwise(F.col(END_COL)),
        CURRENT_COL: F.when(closing, F.lit(False)).otherwise(F.col(CURRENT_COL)),
        VERSION_COL: F.when(is_new, version).otherwise(F.col(VERSION_COL)),
    }
    result = keyed.where(~is_new | inserting).select(
        [adjusted[c].alias(c) if c in adjusted else F.col(c) for c in tgt.columns]
    )
    store.overwrite(result, target)


def _delta_scd2_batch(
    spark: SparkSession,
    batch: DataFrame,
    target: str,
    business_keys: Sequence[str],
    store: TableStore,
    out_cols: list[str],
) -> bool:
    """Delta fast path for one SCD2 mini-batch (reference flow,
    ``change_tracking.py:318-366``): (1) MERGE closes changed current
    rows (file-pruned); (2) left-join-isNull against the re-read current
    set finds new/changed rows; (3) grouped-max version join; (4) append.
    Returns False on non-Delta stores.

    The MERGE and the append are two queries over the batch, so the
    caller passes a materialized batch (``track_history_upsert`` reads
    it from its cache or its checkpoint): both must see the same
    ``load_ts``, or the closed version's ``end_ts`` would not equal its
    successor's ``start_ts``."""
    from spark_fuse_spark.cdc.store import DeltaStore

    if not isinstance(store, DeltaStore):
        return False
    from delta.tables import DeltaTable

    dt = (
        DeltaTable.forPath(spark, target)
        if DeltaStore._is_path(target)
        else DeltaTable.forName(spark, target)
    )
    spec = scd2_close_merge_spec(business_keys)
    (
        dt.alias("t")
        .merge(batch.alias("s"), spec["condition"])
        .whenMatchedUpdate(
            condition=spec["when_matched_update_condition"],
            set=spec["when_matched_update_set"],
        )
        .execute()
    )
    tgt = store.read(spark, target)
    b = batch.alias("b")
    cur_keys = (
        tgt.where(F.col(CURRENT_COL))
        .select(*business_keys, F.lit(True).alias("__cur"))
        .alias("c")
    )
    to_insert = (
        b.join(cur_keys, _nullsafe_cond(b, cur_keys, business_keys), "left")
        .where(F.col("__cur").isNull())
        .select([b[x] for x in batch.columns])
    )
    max_ver = tgt.groupBy(*business_keys).agg(F.max(VERSION_COL).alias("__max_ver"))
    i, m = to_insert.alias("i"), max_ver.alias("m")
    versioned = i.join(m, _nullsafe_cond(i, m, business_keys), "left").select(
        [i[x] for x in batch.columns]
        + [(F.coalesce(F.col("__max_ver"), F.lit(0)) + F.lit(1)).alias(VERSION_COL)]
    )
    store.append(_stamp_insert(versioned, F.col(VERSION_COL)).select(out_cols), target)
    return True


# --------------------------------------------------------------------------
# dispatcher + fluent writer
# --------------------------------------------------------------------------


def apply_change_tracking(
    spark: SparkSession,
    source: DataFrame,
    target: str,
    business_keys: Sequence[str],
    mode: "ChangeTrackingMode | str | int" = ChangeTrackingMode.CURRENT_ONLY,
    **kwargs: Any,
) -> None:
    """Mode dispatcher (reference ``change_tracking.py:668-688``)."""
    resolved = resolve_mode(mode)
    if resolved is ChangeTrackingMode.CURRENT_ONLY:
        current_only_upsert(spark, source, target, business_keys, **kwargs)
    else:
        track_history_upsert(spark, source, target, business_keys, **kwargs)


class ChangeTrackingWriter:
    """Explicit fluent builder: ``change_tracking_writer(df).option(...)
    .table(target)``.

    Mirrors the reference's ``df.write.change_tracking`` surface
    (``change_tracking.py:117-191``) without monkey-patching DataFrame.
    """

    def __init__(self, df: DataFrame):
        self._df = df
        self._options: dict[str, Any] = {}

    def option(self, key: str, value: Any) -> "ChangeTrackingWriter":
        self._options[key.lower()] = value
        return self

    def options(self, opts: Mapping[str, Any]) -> "ChangeTrackingWriter":
        for k, v in opts.items():
            self.option(k, v)
        return self

    def table(self, target: str) -> None:
        opts = dict(self._options)
        mode = opts.pop("change_tracking_mode", "current_only")
        keys = opts.pop("business_keys", None)
        if keys is None:
            raise ValueError("business_keys option is required")
        if isinstance(keys, str):
            keys = [k.strip() for k in keys.split(",") if k.strip()]
        spark = self._df.sparkSession
        apply_change_tracking(spark, self._df, target, keys, mode=mode, **opts)


def change_tracking_writer(df: DataFrame) -> ChangeTrackingWriter:
    return ChangeTrackingWriter(df)
