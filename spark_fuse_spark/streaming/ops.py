"""Streaming transformations (batch/stream polymorphic where possible).

Scale notes (100 TB / real cluster):

* every aggregate here is keyed → state lives in the state store,
  partitioned by grouping key; watermarks bound state size, so each
  operator REQUIRES a watermark before a streaming aggregation (Spark
  enforces this in append mode).
* ``foreachBatch`` into the SCD protocols gives effectively-once
  semantics: the row-hash gate makes re-applied micro-batches no-ops,
  so replays after failure converge (same property Delta MERGE gives
  the reference's batch path).
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "EVENT_SCHEMA",
    "read_event_stream",
    "tumbling_event_counts",
    "sliding_event_counts",
    "session_event_rollup",
    "dedup_within_watermark",
    "stream_to_scd",
    "sessionize_with_state",
    "funnel_with_state",
    "ewma_with_state",
    "interval_join_stream",
    "running_totals_with_state",
    "flag_stream_anomalies",
    "windowed_heavy_hitter_cms",
]

# events.parquet schema with ts at micros precision (see tables.py for the
# NANOS normalization on the batch path; a streaming file source needs the
# schema declared up front).
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    directory: str,
    schema: StructType = EVENT_SCHEMA,
    max_files_per_trigger: "int | None" = None,
) -> DataFrame:
    """File-based event stream: new parquet files in ``directory`` become
    micro-batches.  On a real deployment the same pipeline reads Kafka —
    only this function changes."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(directory)


def tumbling_event_counts(
    df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts + value sum per key."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), *keys)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked sliding-window counts (overlapping windows)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("win"), *keys)
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
        )
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    lookback: str = "5 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with the same
    key's right events from the preceding ``lookback`` window.

    The canonical click↔view attribution join.  Both inputs get a
    watermark and the join condition carries BOTH the equi-key and a
    two-sided time bound — that combination is what lets Spark compute a
    state-eviction horizon for each side instead of buffering streams
    forever (Structured Streaming requires it for stream-stream joins in
    append mode).  Batch DataFrames flow through the same expression
    (watermark is a no-op on batch), so ``e_interval_join`` in the
    catalog is the oracle-checked twin of this exact predicate.

    Scale: state is partitioned by the equi-key; per-key state is
    bounded by ``lookback`` + watermark delay.  The output keeps the
    left row plus the matching right timestamp; aggregate downstream.
    """
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}") - F.expr(f"INTERVAL {lookback}"))
    )
    return l.join(r, cond, "inner").select(
        F.col("l.event_id").alias("event_id"),
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{ts_col}").alias("ts"),
        F.col("r.event_id").alias("matched_event_id"),
        F.col(f"r.{ts_col}").alias("matched_ts"),
    )


def session_event_rollup(
    df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key: str = "user_id",
) -> DataFrame:
    """Per-user session windows (dynamic gap-close) with activity rollup."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), key)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            key,
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Drop duplicate events arriving within the watermark horizon —
    bounded-state streaming dedup (state expires with the watermark;
    plain ``dropDuplicates`` on a stream would grow state forever)."""
    deduped = df.withWatermark(ts_col, watermark)
    if hasattr(deduped, "dropDuplicatesWithinWatermark"):
        return deduped.dropDuplicatesWithinWatermark(list(keys))
    return deduped.dropDuplicates(list(keys))


def _foreach_batch_sink(stream: DataFrame, apply_batch, checkpoint: "str | None"):
    """The stream's ``foreachBatch(apply_batch)`` writer in update mode,
    with ``checkpoint`` as its checkpoint location when given."""
    writer = stream.writeStream.foreachBatch(apply_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def stream_to_scd(
    stream: DataFrame,
    target: str,
    business_keys: Sequence[str],
    mode: str = "scd1",
    checkpoint: "str | None" = None,
    **scd_kwargs,
):
    """``foreachBatch`` sink applying each micro-batch through the SCD
    protocols (cdc module).  Hash-gated updates make replayed batches
    idempotent, so failure/retry converges to the same table.  An empty
    micro-batch writes nothing: the SCD protocols answer it themselves,
    inside the probe or aggregate they run anyway."""
    from spark_fuse_spark.cdc import apply_change_tracking

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_change_tracking(
            batch_df.sparkSession, batch_df, target, business_keys, mode=mode, **scd_kwargs
        )

    return _foreach_batch_sink(stream, apply_batch, checkpoint)


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start", TimestampType()),
        StructField("last_ts", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def sessionize_with_state(
    df: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``.

    Unlike ``session_window`` this emits a row the moment a session
    CLOSES (gap observed in-batch, or event-time timeout once the
    watermark passes ``last_ts + gap``), carries running aggregates in
    state, and demonstrates the arbitrary-stateful-operator pattern the
    built-in windows can't express (e.g. per-session custom logic).

    State per key: (session_start, last_ts, n_events, sum_value) — O(1)
    per active user, expired by event-time timeout, so state is bounded
    by the number of concurrently-active users.
    """
    gap = pd.Timedelta(seconds=gap_seconds)
    # Arrow hands event-time values to pandas as tz-NAIVE timestamps in
    # the Spark session timezone, but Timestamp.timestamp() interprets
    # naive values as UTC — correct only when the session runs UTC (as
    # create_session pins).  Capture the session tz here and localize
    # before the epoch conversion so a non-UTC session doesn't skew the
    # timeout by the offset (which could set a timeout below the
    # watermark and fail the query).
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"

    def _epoch_ms(ts: pd.Timestamp) -> int:
        if ts.tzinfo is None:
            ts = ts.tz_localize(session_tz, ambiguous=True, nonexistent="shift_forward")
        return int(ts.timestamp() * 1000)

    def update(
        key: Tuple[int], batch_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [start],
                    "session_end": [last],
                    "n_events": [n],
                    "sum_value": [total],
                }
            )
            return

        events = pd.concat(list(batch_iter), ignore_index=True).sort_values("ts")
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0

        closed: list[tuple] = []
        for ts, value in zip(events["ts"], events["value"]):
            if last is not None and (ts - last) > gap:
                closed.append((user_id, start, last, n, total))
                start, n, total = ts, 0, 0.0
            if start is None:
                start = ts
            last = ts
            n += 1
            total += float(value or 0.0)

        state.update((start, last, n, total))
        # event-time timeout: fire once the watermark passes last_ts + gap
        state.setTimeoutTimestamp(_epoch_ms(last) + gap_seconds * 1000)
        if closed:
            frame = pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events", "sum_value"],
            )
            yield frame

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("converted", BooleanType()),
        StructField("stage_reached", LongType()),
        StructField("started", TimestampType()),
        StructField("ended", TimestampType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("stage", LongType()),
        StructField("first_ts", TimestampType()),
        StructField("last_ts", TimestampType()),
    ]
)


def funnel_with_state(
    df: DataFrame,
    steps: Sequence[str] = ("view", "click", "purchase"),
    window_seconds: int = 86400,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming conversion funnel via ``applyInPandasWithState`` — the
    streaming twin of catalog ``e_funnel``.

    Tracks each user's progress through ``steps`` in strict event-time
    order: an event advances the funnel iff it matches the next step and
    is later than the previous step's time.  Emits the moment a user
    COMPLETES the funnel (converted=True; state removed, so a repeat
    journey starts a fresh funnel), or when the conversion window
    expires after the first step (converted=False with the stage
    reached, via event-time timeout once the watermark passes
    ``first_ts + window``).

    State per key: (stage, first_ts, last_ts) — O(1) per in-flight
    funnel, expired by timeout, so state is bounded by users currently
    inside a conversion window (same bounding argument as
    :func:`sessionize_with_state`).
    """
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"
    n_steps = len(steps)
    if n_steps == 0:
        raise ValueError("steps must be non-empty")

    def _epoch_ms(ts: pd.Timestamp) -> int:
        if ts.tzinfo is None:
            ts = ts.tz_localize(session_tz, ambiguous=True, nonexistent="shift_forward")
        return int(ts.timestamp() * 1000)

    def update(
        key: Tuple[int], batch_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            stage, first_ts, last_ts = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "converted": [False],
                    "stage_reached": [stage],
                    "started": [first_ts],
                    "ended": [last_ts],
                }
            )
            return

        events = pd.concat(list(batch_iter), ignore_index=True).sort_values("ts")
        if state.exists:
            stage, first_ts, last_ts = state.get
        else:
            stage, first_ts, last_ts = 0, None, None

        out: list[tuple] = []
        for ts, etype in zip(events["ts"], events["event_type"]):
            if etype != steps[stage]:
                continue
            if stage > 0 and not ts > last_ts:
                continue
            if stage == 0:
                first_ts = ts
            last_ts = ts
            stage += 1
            if stage == n_steps:
                out.append((user_id, True, stage, first_ts, last_ts))
                stage, first_ts, last_ts = 0, None, None
        if stage > 0:
            state.update((stage, first_ts, last_ts))
            state.setTimeoutTimestamp(_epoch_ms(first_ts) + window_seconds * 1000)
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "converted", "stage_reached", "started", "ended"],
            )

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def running_totals_with_state(df: DataFrame) -> DataFrame:
    """Per-user lifetime counters on ``transformWithStateInPandas`` —
    Spark 4's arbitrary-stateful API (the successor to
    ``applyInPandasWithState``; typed per-key state handles, explicit
    timers, state TTL).  Emits the updated (count, value-sum) for every
    user touched by each micro-batch.

    This is the third stateful-API generation exposed by this module —
    ``sessionize_with_state``/``funnel_with_state`` use
    applyInPandasWithState, the windowed aggregates use the declarative
    watermark path — so a deployment can pick per Spark version.

    Scale: state is one (long, double) pair per user partitioned by the
    grouping key in the state store; batch frames can't use this API, so
    the differential test compares against the plain groupBy twin.

    Requires ``google.protobuf`` at runtime (the transformWithState
    state-server protocol is protobuf-framed); environments without it
    should use the ``applyInPandasWithState`` operators instead — the
    parity test import-skips accordingly.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", StructType(
                    [
                        StructField("n", LongType()),
                        StructField("total", DoubleType()),
                    ]
                )
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            if self._totals.exists():
                n, total = self._totals.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += int(len(pdf))
                total += float(pdf["value"].fillna(0.0).sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return df.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def stream_changelog_publisher(
    stream: DataFrame,
    target: str,
    changelog: str,
    keys: Sequence[str],
    checkpoint: "str | None" = None,
):
    """``foreachBatch`` CDC publisher: each micro-batch is diffed against
    the current target snapshot (``cdc.diff.snapshot_diff``), the I/U/D
    delta is APPENDED to ``changelog`` (with the batch id for ordered
    downstream replay), and the target advances via
    ``cdc.diff.apply_changelog``.

    This turns any upsert-shaped stream into a consumable change feed —
    the plain-parquet re-expression of Delta's Change Data Feed.  Diff
    before write means a replayed micro-batch (failure/retry) produces
    an EMPTY delta the second time: the changelog stays
    exactly-once-per-change even though foreachBatch is at-least-once.

    Batches must carry the full row (key + compare columns); rows absent
    from a batch are left untouched (streams deliver upserts, not
    snapshots — deletions need an explicit tombstone upstream).
    """
    apply_batch = changelog_batch_applier(target, changelog, keys)
    return _foreach_batch_sink(stream, apply_batch, checkpoint)


def changelog_batch_applier(target: str, changelog: str, keys: Sequence[str]):
    """The micro-batch body of :func:`stream_changelog_publisher`,
    exposed separately so batch backfills and tests drive the identical
    code path without a streaming query."""
    from spark_fuse_spark.cdc.diff import apply_changelog, snapshot_diff
    from spark_fuse_spark.cdc.store import ParquetStore, staged_overwrite

    store = ParquetStore()

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if store.exists(spark, target):
            current = store.read(spark, target)
        else:
            current = spark.createDataFrame([], batch_df.schema)
        # restrict the diff to keys present in this batch: absent rows are
        # "no information", not deletions
        scoped = current.join(
            F.broadcast(batch_df.select(*keys).distinct()), list(keys), "left_semi"
        )
        delta = snapshot_diff(scoped, batch_df, list(keys))
        if delta.isEmpty():
            return
        delta.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            changelog
        )
        staged_overwrite(apply_changelog(current, delta, list(keys)), target)

    return apply_batch


def flag_stream_anomalies(
    stream: DataFrame,
    profile: DataFrame,
    sigma: float = 3.0,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    scale: int = 100,
) -> DataFrame:
    """Stream-static anomaly flagging: each incoming event joins the
    hour-of-day seasonal ``profile`` (``operators.timeseries.
    seasonal_profile`` — a SMALL static DataFrame) and is marked
    ``is_anomaly`` when it deviates more than ``sigma`` sample-stddevs
    from its (key, hour) baseline.

    This is the stream-static join pattern: the static side is resolved
    once per micro-batch and broadcast, the join is STATELESS (no
    watermark, no state store), and the stream side stays append-mode —
    the standard way to apply a nightly-trained reference table to live
    traffic.  Retraining = overwrite the profile table; the next
    micro-batch picks it up.

    The threshold decision replays the profile's own quantization
    (``round(value·scale)`` vs the scaled-domain mean/std), so batch and
    stream flag IDENTICAL events — parity-tested against the batch twin
    (`e_seasonal_anomaly`'s census is this flag aggregated).
    """
    v = F.round(F.col(value_col) * scale).cast("long")
    enriched = stream.withColumn("__hr", F.hour(ts_col).cast("int")).join(
        F.broadcast(
            profile.select(
                F.col(key_col), F.col("hr").alias("__hr"), "mean_c", "std_c"
            )
        ),
        [key_col, "__hr"],
        "left",
    )
    flag = (
        F.col("std_c").isNotNull()
        & (F.abs(v - F.col("mean_c")) > F.lit(float(sigma)) * F.col("std_c"))
    )
    return (
        enriched.withColumn("is_anomaly", F.coalesce(flag, F.lit(False)))
        .drop("__hr", "mean_c", "std_c")
    )


EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [StructField("ewma", DoubleType()), StructField("n", LongType())]
)


def ewma_with_state(
    df: DataFrame,
    alpha: float = 0.5,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """TRUE recursive EWMA per user as a stateful streaming operator.

    The batch catalog exposes the bounded 8-tap FIR approximation
    (``e_ewma_smooth``) because the exact recursion
    ``ewma_t = alpha*x_t + (1-alpha)*ewma_{t-1}`` is order-serial and
    carries unbounded history — which is precisely what streaming state
    is FOR: O(1) state per key (the running ewma and a count), each
    event emitted with its smoothed value the moment it arrives.
    Batch≈stream relationship: the FIR converges to this recursion
    geometrically (2^-8 tail), pinned in tests.

    State per key: (ewma double, n long) — bounded by active keys, no
    timeout needed (smoothing state stays valid indefinitely; pair with
    a TTL'd variant if key cardinality is unbounded).
    """

    def update(
        key: Tuple[int], batch_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        events = pd.concat(list(batch_iter), ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        if state.exists:
            ewma, n = state.get
        else:
            ewma, n = None, 0
        out = []
        for eid, value in zip(events["event_id"], events["value"]):
            v = float(value or 0.0)
            ewma = v if ewma is None else alpha * v + (1.0 - alpha) * ewma
            n += 1
            out.append((user_id, int(eid), v, ewma, n))
        state.update((ewma, n))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "value", "ewma", "n_seen"]
        )

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def join_view_batch_applier(
    view_path: str,
    dim_path: str,
    fact_key: str,
    fk: str,
    dim_key: str,
    dim_attrs: Sequence[str],
    op_col: str = "op",
):
    """Micro-batch body maintaining a materialized fact⟕dim join view
    from a fact-changelog stream (the :func:`stream_changelog_publisher`
    format) via ``cdc.diff.incremental_join_merge`` — the streaming arm
    of incremental JOIN-view maintenance.

    Each batch is an I/U/D fact changelog; the dim is read per batch
    (dim churn flows through the batch-side merge, which accepts a dim
    changelog — streams of BOTH would need ordered interleaving the
    plain-parquet layer can't promise).  Inserts are applied as upserts
    so a REPLAYED micro-batch (foreachBatch is at-least-once) converges
    to the same view instead of duplicating rows.  The view advances by
    staged-swap parquet write, the same atomic-commit choreography as
    :func:`changelog_batch_applier`.
    """
    from spark_fuse_spark.cdc.diff import incremental_join_merge
    from spark_fuse_spark.cdc.store import ParquetStore, staged_overwrite

    store = ParquetStore()

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        dim = spark.read.parquet(dim_path)
        fact_cols = [c for c in batch_df.columns if c not in (op_col, "batch_id")]
        if store.exists(spark, view_path):
            view = store.read(spark, view_path)
        else:
            view = (
                batch_df.select(*fact_cols)
                .join(
                    dim.select(
                        F.col(dim_key).alias("__dk"),
                        *[F.col(a) for a in dim_attrs],
                    ),
                    F.col(fk) == F.col("__dk"),
                    "left",
                )
                .limit(0)
                .drop("__dk")
            )
        # I -> U: the merge drops U/D rows before re-adding, which makes a
        # replayed batch idempotent (the row is already in the view)
        flog = batch_df.withColumn(
            op_col, F.when(F.col(op_col) == "I", F.lit("U")).otherwise(F.col(op_col))
        )
        empty_dlog = view.sparkSession.createDataFrame(
            [],
            dim.select(dim_key, *dim_attrs).schema.add("op", "string"),
        )
        merged = incremental_join_merge(
            view, flog, empty_dlog, dim,
            fact_key=fact_key, fk=fk, dim_key=dim_key,
            dim_attrs=list(dim_attrs), op_col=op_col,
        )
        staged_overwrite(merged, view_path)

    return apply_batch


def stream_join_view(
    stream: DataFrame,
    view_path: str,
    dim_path: str,
    fact_key: str,
    fk: str,
    dim_key: str,
    dim_attrs: Sequence[str],
    checkpoint: "str | None" = None,
):
    """``foreachBatch`` sink wiring :func:`join_view_batch_applier` to a
    fact-changelog stream."""
    apply_batch = join_view_batch_applier(
        view_path, dim_path, fact_key, fk, dim_key, dim_attrs
    )
    return _foreach_batch_sink(stream, apply_batch, checkpoint)


def neardup_batch_applier(
    corpus_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
):
    """Micro-batch body for CONTINUOUS near-duplicate filtering of a
    document stream — the crawl-ingest shape: each batch is near-dup'd
    against the accepted corpus AND itself, keep-first survivors are
    appended, and the evidence pairs land in a changelog.

    Built on ``operators/dedup.incremental_minhash_pairs``: candidates
    come from band buckets over corpus ∪ batch, old×old pairs are
    dropped BEFORE the exact-Jaccard verify, so per-batch cost is
    O(new-touching candidates), never corpus².  Keep-first policy:
    a new doc is rejected if it near-dups ANY accepted doc or a
    smaller-id doc within its own batch (min-id survivorship, the same
    canonical-representative rule the batch cluster machinery uses).

    Replay-safe: batch ids already DECIDED — accepted into the corpus
    or recorded in the ``<corpus>__rejected`` id table — are dropped up
    front, so an at-least-once redelivery is a no-op for the corpus and
    rewrites (never duplicates) the batch's evidence partition.  At 100 TB the
    corpus re-scan per batch amortizes by persisting the band table
    instead (signatures are deterministic); this plain-parquet applier
    recomputes bands, which is exact at any scale and cheapest below
    ~10⁸ accepted docs.
    """
    from spark_fuse_spark.cdc.store import ParquetStore
    from spark_fuse_spark.operators.dedup import incremental_minhash_pairs

    store = ParquetStore()
    rejected_path = f"{corpus_path}__rejected"

    def publish(df: DataFrame, target: str) -> None:
        # the first batch creates the table with its stored schema
        if store.exists(df.sparkSession, target):
            store.append(df, target)
        else:
            store.overwrite(df, target)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).dropDuplicates([id_col])
        if store.exists(spark, corpus_path):
            corpus = store.read(spark, corpus_path)
            batch = batch.join(corpus.select(id_col), id_col, "left_anti")
        else:
            corpus = batch.limit(0)
        if store.exists(spark, rejected_path):
            batch = batch.join(
                store.read(spark, rejected_path), id_col, "left_anti"
            )  # replayed rows already decided either way — drop
        if batch.isEmpty():  # also answers an empty micro-batch
            return
        both = corpus.withColumn("__new", F.lit(False)).unionByName(
            batch.withColumn("__new", F.lit(True))
        )
        pairs = incremental_minhash_pairs(
            both, "__new", text_col=text_col, id_col=id_col,
            k=k, num_hashes=num_hashes, bands=bands,
            threshold=threshold, seed=seed,
        ).localCheckpoint()  # reused for rejection + the changelog append
        new_ids = batch.select(F.col(id_col).alias("__nid"))
        old_ids = corpus.select(F.col(id_col).alias("__oid"))
        # reject a new id pairing with an accepted doc (either side) or
        # with a smaller new id
        rej_old = pairs.join(old_ids, pairs.id_a == F.col("__oid")).select(
            F.col("id_b").alias("__rid")
        ).unionByName(
            pairs.join(old_ids, pairs.id_b == F.col("__oid")).select(
                F.col("id_a").alias("__rid")
            )
        )
        both_new = pairs.join(new_ids, pairs.id_a == F.col("__nid")).drop(
            "__nid"
        ).join(new_ids, pairs.id_b == F.col("__nid"))
        rej_new = both_new.select(
            F.greatest("id_a", "id_b").alias("__rid")
        )
        rejected = rej_old.unionByName(rej_new).distinct()
        accepted = batch.join(
            rejected, batch[id_col] == rejected["__rid"], "left_anti"
        )
        # evidence first, as a per-batch dynamic-partition OVERWRITE: a
        # crash between these three writes redelivers the batch, and the
        # replay rewrites the same batch_id partition instead of
        # appending duplicates.  (Plain parquet has no multi-table
        # atomic commit: a mid-commit crash can leave evidence for the
        # replay's already-decided ids incomplete — never duplicated —
        # which downstream counts tolerate and a recompute can restore.)
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(pairs_path)
        )
        publish(rejected.select(F.col("__rid").alias(id_col)), rejected_path)
        publish(accepted, corpus_path)

    return apply_batch


def stream_neardup_filter(
    stream: DataFrame,
    corpus_path: str,
    pairs_path: str,
    checkpoint: "str | None" = None,
    **kwargs,
):
    """``foreachBatch`` sink wiring :func:`neardup_batch_applier` to a
    document stream."""
    apply_batch = neardup_batch_applier(corpus_path, pairs_path, **kwargs)
    return _foreach_batch_sink(stream, apply_batch, checkpoint)


def windowed_distinct_estimate(
    df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
    id_col: str = "user_id",
) -> DataFrame:
    """Watermarked per-window distinct-``id_col`` estimate via the
    portable 64-register HyperLogLog (the streaming twin of the
    ``x_hll_portable`` catalog query).

    Exact ``COUNT(DISTINCT)`` is the classic streaming trap: the state
    store would have to remember every id seen per open window.  HLL
    registers bound the state to EXACTLY 64 longs per (window, key)
    group, whatever the cardinality — expressed as ONE stateful
    aggregation (64 conditional ``max`` columns, one per register, so no
    chained-stateful-operator support is required), with the estimate
    derived statelessly on top.  The registers are max-mergeable, so
    late rows inside the watermark fold in exactly; the same function on
    a batch frame is the bit-identical ground truth (pinned in tests).
    """
    from ..functions.hashing import portable_hash64

    h = portable_hash64(F.col(id_col).cast("string"))
    bitlen = "(" + " + ".join(
        f"(CASE WHEN __w >= {1 << b} THEN 1 ELSE 0 END)" for b in range(54)
    ) + ")"
    rows = df.withColumn("__h", h).withColumn(
        "__bkt", F.pmod(F.col("__h"), F.lit(64)).cast("int")
    ).withColumn("__w", F.expr("__h div 64")).withColumn(
        "__rho", F.expr(f"55 - {bitlen}")
    )
    regs = [
        F.max(F.when(F.col("__bkt") == i, F.col("__rho"))).alias(f"__m{i}")
        for i in range(64)
    ]
    agg = (
        rows.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), *keys)
        .agg(*regs)
    )
    # stateless estimate over the 64 register columns: exact integer
    # harmonic sum, one shared-literal alpha*m^2*2^55 division, linear
    # counting when E <= 2.5m and empty registers remain
    terms = [
        f"shiftleft(CAST(1 AS BIGINT), CAST(55 - coalesce(__m{i}, 0) AS INT))"
        for i in range(64)
    ]
    s_expr = "(" + " + ".join(terms) + ")"
    v_expr = "(" + " + ".join(
        f"(CASE WHEN __m{i} IS NULL THEN 1 ELSE 0 END)" for i in range(64)
    ) + ")"
    c_lit = repr(0.7213 / (1 + 1.079 / 64) * 4096 * float(1 << 55))
    est = (
        f"CASE WHEN {c_lit} / {s_expr} <= 160.0 AND {v_expr} > 0 "
        f"THEN 64.0 * ln(64.0 / {v_expr}) ELSE {c_lit} / {s_expr} END"
    )
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *keys,
        (F.floor(F.expr(est) * 1000000 + 0.5) / 1000000).alias("approx_distinct"),
    )


def windowed_heavy_hitter_cms(
    df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Watermarked per-window Count-Min sketch cells — the streaming twin
    of the ``x_count_min_sketch`` catalog query, built on the SAME
    ``operators/sketches.count_min_cells`` expressions.

    Exact per-key counting is the heavy-hitter streaming trap: state
    grows with key cardinality.  CMS cells bound the state store to
    EXACTLY ``depth * width`` counters per open window whatever the
    cardinality, as ONE stateful aggregation (the explode happens before
    the groupBy, so no chained-stateful-operator support is needed).
    Cells are sums, so late rows inside the watermark fold in exactly and
    the same function on a batch frame is the bit-identical ground truth
    (pinned in tests).  Probing (min-over-rows estimates for candidate
    keys via ``count_min_probe``) runs downstream over the maintained
    cell table — the production layout: the stream maintains the sketch,
    monitoring queries read it.

    Returns (window_start, window_end, j, b, c).
    """
    from ..operators.sketches import count_min_cells

    win = F.window(F.col(ts_col), window).alias("win")
    base = df.withWatermark(ts_col, watermark).select(win, F.col(key_col))
    cells = count_min_cells(base, key_col, depth, width, extra_group_cols=["win"])
    return cells.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "j",
        "b",
        "c",
    )
