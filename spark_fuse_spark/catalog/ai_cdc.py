"""AI-layer and change-tracking queries for the driver's differential gate.

* ``a_map_column_closed_set`` — the distinct-first LLM mapping pipeline
  exercised through its deterministic offline path.  ``documents.source``
  values map onto a closed label set; the normalized-exact stage is pure
  SQL, and the fuzzy stub is token-overlap (single-token values → overlap
  is 0 or 1), so the whole mapping is oracle-expressible.
* ``a_hash_embeddings`` — pandas-UDF embedding column over documents
  (sha256-derived vectors; byte→float math is not SQL-portable → rows-only).
* ``c_scd1_two_batch`` — two-batch SCD Type-1 upsert into a scratch
  parquet target: batch 2 mutates a subset, the hash gate must update
  ONLY those rows (unchanged rows keep batch-1 load_ts).  Fully
  reproducible in SQL with CASE expressions.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from . import register

_TS = "yyyy-MM-dd HH:mm:ss"

_MAP_TARGETS = ["crawl", "wiki", "news", "books"]


@register(
    "a_map_column_closed_set",
    oracle="""
SELECT source,
       CASE trim(regexp_replace(lower(source), '[^a-z0-9]+', ' ', 'g'))
            WHEN 'crawl' THEN 'crawl'
            WHEN 'wiki'  THEN 'wiki'
            WHEN 'news'  THEN 'news'
            WHEN 'books' THEN 'books'
            ELSE NULL END AS source_mapped,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY 1
""",
    doc="distinct-first closed-set mapping of documents.source (exact "
    "stage resolves known labels, unknowns → null), aggregated per label. "
    "Provider calls scale with DISTINCT cardinality (5 here), never row "
    "count — the 100 TB contract of ai/mapping.py.",
)
def a_map_column(spark: SparkSession, sf: str) -> DataFrame:
    from ..ai import map_column_with_llm

    docs = load_table(spark, sf, "documents")
    mapped = map_column_with_llm(docs, "source", _MAP_TARGETS)
    return (
        mapped.groupBy("source", "source_mapped")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("source")
    )


@register(
    "a_hash_embeddings",
    oracle=None,  # sha256-byte → float vector math isn't SQL-portable
    doc="Arrow-batched pandas-UDF embeddings over documents.text "
    "(deterministic hash provider); returns per-lang count + mean first "
    "component. Rows-only driver check; value determinism is asserted in "
    "tests/test_ai.py.",
)
def a_hash_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    from ..ai import with_embeddings

    docs = load_table(spark, sf, "documents")
    emb = with_embeddings(docs, "text")
    return (
        emb.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg(F.element_at("embedding", 1)), 6).alias("avg_dim0"),
        )
        .orderBy("lang")
    )


@register(
    "c_scd1_two_batch",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_custkey % 10 = 0 THEN 'PROMO' ELSE c_mktsegment END AS segment,
       strftime(CASE WHEN c_custkey % 10 = 0
                     THEN TIMESTAMP '2024-02-01 00:00:00'
                     ELSE TIMESTAMP '2024-01-01 00:00:00' END,
                '%Y-%m-%d %H:%M:%S') AS load_ts_s
FROM customer
ORDER BY c_custkey
""",
    doc="SCD Type-1 across two batches on a scratch parquet target: "
    "batch 2 flips segment to PROMO for custkey % 10 = 0; the sha2 hash "
    "gate updates only those rows, so everyone else keeps the batch-1 "
    "load_ts. cdc/scd.py current_only_upsert end-to-end.",
)
def c_scd1_two_batch(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import current_only_upsert, get_store

    customer = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    batch1 = customer.withColumnRenamed("c_mktsegment", "segment")
    batch2 = batch1.withColumn(
        "segment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("PROMO")).otherwise(F.col("segment")),
    )
    target = tempfile.mkdtemp(prefix="scd1_q_") + "/t"
    current_only_upsert(
        spark, batch1, target, ["c_custkey"],
        load_ts_expr="to_timestamp('2024-01-01 00:00:00')",
    )
    current_only_upsert(
        spark, batch2, target, ["c_custkey"],
        load_ts_expr="to_timestamp('2024-02-01 00:00:00')",
    )
    return (
        get_store().read(spark, target)
        .select(
            "c_custkey",
            "segment",
            F.date_format("load_ts", _TS).alias("load_ts_s"),
        )
        .orderBy("c_custkey")
    )


@register(
    "c_scd2_two_batch",
    oracle="""
WITH base AS (SELECT c_custkey, c_mktsegment AS segment FROM customer),
v1 AS (
  SELECT c_custkey, segment, 1 AS version,
         '2024-01-01 00:00:00' AS start_s,
         CASE WHEN c_custkey % 10 = 0 THEN '2024-02-01 00:00:00' END AS end_s,
         c_custkey % 10 <> 0 AS is_current
  FROM base),
v2 AS (
  SELECT c_custkey, 'PROMO' AS segment, 2 AS version,
         '2024-02-01 00:00:00' AS start_s, CAST(NULL AS VARCHAR) AS end_s,
         TRUE AS is_current
  FROM base WHERE c_custkey % 10 = 0)
SELECT c_custkey, segment, CAST(version AS INT) AS version, start_s, end_s, is_current
FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
ORDER BY c_custkey, version
""",
    doc="SCD Type-2 across two batches on a scratch parquet target: batch "
    "2 flips segment to PROMO for custkey % 10 = 0, which must CLOSE "
    "version 1 (end = batch-2 load_ts, is_current = false) and insert a "
    "current version 2 whose effective_start equals that end — the "
    "validity intervals must tile exactly. cdc/scd.py "
    "track_history_upsert end-to-end.",
)
def c_scd2_two_batch(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import get_store, track_history_upsert

    customer = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    batch1 = customer.withColumnRenamed("c_mktsegment", "segment")
    batch2 = batch1.withColumn(
        "segment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("PROMO")).otherwise(F.col("segment")),
    )
    target = tempfile.mkdtemp(prefix="scd2_q_") + "/t"
    track_history_upsert(
        spark, batch1, target, ["c_custkey"],
        load_ts_expr="to_timestamp('2024-01-01 00:00:00')",
    )
    track_history_upsert(
        spark, batch2, target, ["c_custkey"],
        load_ts_expr="to_timestamp('2024-02-01 00:00:00')",
    )
    return (
        get_store().read(spark, target)
        .select(
            "c_custkey",
            "segment",
            F.col("version").cast("int").alias("version"),
            F.date_format("effective_start_ts", _TS).alias("start_s"),
            F.date_format("effective_end_ts", _TS).alias("end_s"),
            "is_current",
        )
        .orderBy("c_custkey", "version")
    )


@register(
    "c_scd2_point_in_time",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_custkey % 10 = 0 THEN 'PROMO' ELSE c_mktsegment END AS segment,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS INT) AS version
FROM customer
ORDER BY c_custkey
""",
    doc="temporal AS-OF read over a three-batch SCD2 history: Jan seeds "
    "every key, Feb flips custkey%10 to PROMO, Mar flips custkey%7 to "
    "VIP; the query reconstructs the table AS OF Feb 15 — after the "
    "PROMO wave, before the VIP wave — via the interval predicate "
    "start <= T < coalesce(end, inf).  The oracle derives the same "
    "snapshot from first principles, so it fails if any upsert leaves "
    "overlapping or gapped validity intervals (the Mar batch CLOSES "
    "rows with end = Mar 1, which must still be visible at Feb 15).  "
    "Scale: the history scan filters on two columns — on a date-"
    "partitioned/Z-ordered history table this prunes to the files "
    "overlapping T.",
)
def c_scd2_pit(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import get_store, track_history_upsert

    customer = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    batch1 = customer.withColumnRenamed("c_mktsegment", "segment")
    batch2 = batch1.withColumn(
        "segment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("PROMO")).otherwise(F.col("segment")),
    )
    batch3 = batch2.withColumn(
        "segment",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("VIP")).otherwise(F.col("segment")),
    )
    target = tempfile.mkdtemp(prefix="scd2_pit_") + "/t"
    for batch, ts in (
        (batch1, "2024-01-01 00:00:00"),
        (batch2, "2024-02-01 00:00:00"),
        (batch3, "2024-03-01 00:00:00"),
    ):
        track_history_upsert(
            spark, batch, target, ["c_custkey"],
            load_ts_expr=f"to_timestamp('{ts}')",
        )
    asof = F.to_timestamp(F.lit("2024-02-15 00:00:00"))
    hist = get_store().read(spark, target)
    return (
        hist.where(
            (F.col("effective_start_ts") <= asof)
            & (F.col("effective_end_ts").isNull() | (F.col("effective_end_ts") > asof))
        )
        .select("c_custkey", "segment", F.col("version").cast("int").alias("version"))
        .orderBy("c_custkey")
    )


@register(
    "a_hash_embedding_components",
    oracle="""
WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents),
ix AS (SELECT doc_id, hx, unnest(generate_series(1, 16)) AS i FROM h),
v AS (SELECT doc_id, i,
             CAST('0x' || substring(hx, i * 2 - 1, 2) AS INT) - 127.5 AS r
      FROM ix),
n AS (SELECT doc_id, sqrt(SUM(r * r)) AS nn FROM v GROUP BY doc_id)
SELECT v.doc_id, CAST(v.i - 1 AS INT) AS component,
       ROUND(CAST(CAST(v.r / CASE WHEN n.nn = 0 THEN 1.0 ELSE n.nn END AS FLOAT)
             AS DOUBLE), 6) AS value
FROM v JOIN n ON v.doc_id = n.doc_id
ORDER BY v.doc_id, component
""",
    doc="the pandas-UDF embedding path, fully oracle-checked at the "
    "component level: with_embeddings drives the Arrow-batched UDF with "
    "the sha256 hash provider, and DuckDB replays the identical math — "
    "hex-pair bytes, -127.5 centering, L2 normalization — with the same "
    "float32 quantization as the array<float> column.  Upgrades the "
    "embedding family beyond a_hash_embeddings' rows-only rollup (which "
    "keeps the per-lang aggregate surface).",
)
def a_hash_components(spark: SparkSession, sf: str) -> DataFrame:
    from ..ai.embeddings import with_embeddings

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    emb = with_embeddings(d, "text", "embedding")
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("component", "value"))
        .select(
            "doc_id",
            F.col("component").cast("int").alias("component"),
            F.round(F.col("value").cast("double"), 6).alias("value"),
        )
        .orderBy("doc_id", "component")
    )


@register(
    "c_snapshot_diff",
    oracle="""
WITH old AS (SELECT c_custkey, c_mktsegment AS segment FROM customer),
new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'PROMO' ELSE c_mktsegment END AS segment
  FROM customer WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW' FROM customer WHERE c_custkey % 101 = 0),
j AS (
  SELECT o.c_custkey AS ok, n.c_custkey AS nk,
         o.segment AS oseg, n.segment AS nseg
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey)
SELECT COALESCE(nk, ok) AS c_custkey,
       CASE WHEN op = 'D' THEN oseg ELSE nseg END AS segment,
       op
FROM (SELECT *,
             CASE WHEN ok IS NULL THEN 'I'
                  WHEN nk IS NULL THEN 'D'
                  WHEN oseg <> nseg THEN 'U' END AS op
      FROM j)
WHERE op IS NOT NULL
ORDER BY c_custkey
""",
    doc="snapshot differencing (cdc/diff.snapshot_diff): the changelog "
    "BETWEEN two table states — the producer half of CDC (scd.py is the "
    "consumer).  New state flips custkey%10 segments (updates), drops "
    "custkey%97 (deletes), and adds custkey%101 clones under new keys "
    "(inserts); the diff emits exactly those as I/U/D with new values "
    "for I/U and last-known values for D.  Scale: ONE co-partitioned "
    "full-outer join on the key; attribute equality via a map-side "
    "sha256 row hash (wide rows compare as one column) and unchanged "
    "keys drop immediately — output is O(changes), not O(rows).",
)
def c_snap_diff(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import snapshot_diff

    cust = load_table(spark, sf, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    new = cust.where(F.col("c_custkey") % 97 != 0).withColumn(
        "segment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("PROMO")).otherwise(
            F.col("segment")
        ),
    ).unionByName(
        cust.where(F.col("c_custkey") % 101 == 0).select(
            (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
            F.lit("NEW").alias("segment"),
        )
    )
    return snapshot_diff(cust, new, ["c_custkey"]).orderBy("c_custkey")


@register(
    "c_scd2_temporal_join",
    oracle="""
WITH f AS (
  SELECT o_orderkey, o_custkey,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (o_orderkey % 90) DAY AS fact_ts
  FROM orders)
SELECT f.o_orderkey, f.o_custkey,
       strftime(f.fact_ts, '%Y-%m-%d %H:%M:%S') AS fact_ts_s,
       CASE WHEN f.fact_ts >= TIMESTAMP '2024-03-01 00:00:00' AND f.o_custkey % 7 = 0
              THEN 'VIP'
            WHEN f.fact_ts >= TIMESTAMP '2024-02-01 00:00:00' AND f.o_custkey % 10 = 0
              THEN 'PROMO'
            ELSE c.c_mktsegment END AS segment,
       CAST(1
            + CASE WHEN f.fact_ts >= TIMESTAMP '2024-02-01 00:00:00'
                        AND f.o_custkey % 10 = 0 THEN 1 ELSE 0 END
            + CASE WHEN f.fact_ts >= TIMESTAMP '2024-03-01 00:00:00'
                        AND f.o_custkey % 7 = 0 THEN 1 ELSE 0 END AS INT) AS version
FROM f JOIN customer c ON f.o_custkey = c.c_custkey
ORDER BY o_orderkey
""",
    doc="fact-to-dimension TEMPORAL join over a three-batch SCD2 history: "
    "every order (given a deterministic fact timestamp spread across the "
    "Jan-Mar history window) joins the customer-dimension VERSION valid "
    "at ITS OWN time — equi on the key plus interval containment "
    "start <= ts < coalesce(end, inf).  This is the warehouse pattern "
    "point-in-time reads can't express (each fact needs a different "
    "version).  The oracle derives every fact's segment/version from "
    "first principles, so a history with overlapping or gapped "
    "intervals double-joins or drops facts and fails the row count.  "
    "Scale: the equi key drives a co-partitioned join (interval check "
    "rides along as a join residual); history side is dim-sized.",
)
def c_scd2_temporal(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import get_store, track_history_upsert

    customer = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    batch1 = customer.withColumnRenamed("c_mktsegment", "segment")
    batch2 = batch1.withColumn(
        "segment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("PROMO")).otherwise(F.col("segment")),
    )
    batch3 = batch2.withColumn(
        "segment",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("VIP")).otherwise(F.col("segment")),
    )
    target = tempfile.mkdtemp(prefix="scd2_tj_") + "/t"
    for batch, ts in (
        (batch1, "2024-01-01 00:00:00"),
        (batch2, "2024-02-01 00:00:00"),
        (batch3, "2024-03-01 00:00:00"),
    ):
        track_history_upsert(
            spark, batch, target, ["c_custkey"],
            load_ts_expr=f"to_timestamp('{ts}')",
        )
    facts = load_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_dt_interval(CAST(o_orderkey % 90 AS INT), 0, 0, 0)"
        ).alias("fact_ts"),
    )
    hist = get_store().read(spark, target)
    return (
        facts.join(
            hist,
            (facts.o_custkey == hist.c_custkey)
            & (hist.effective_start_ts <= facts.fact_ts)
            & (hist.effective_end_ts.isNull() | (hist.effective_end_ts > facts.fact_ts)),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("fact_ts", _TS).alias("fact_ts_s"),
            "segment",
            F.col("version").cast("int").alias("version"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "c_incremental_agg",
    oracle="""
WITH new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 53 = 0 THEN o_custkey + 1 ELSE o_custkey END AS ck,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 89 <> 0)
SELECT ck AS o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_price
FROM new GROUP BY ck
ORDER BY o_custkey
""",
    doc="incremental materialized-view maintenance "
    "(cdc/diff.incremental_agg_merge): a per-customer (count, sum) view "
    "built from the OLD snapshot is merged with the I/U/D changelog "
    "between snapshots — inserts add, deletes retract via the "
    "before-image, updates retract-and-add (including rows that MOVED "
    "groups via a custkey reassignment).  The Spark side never rescans "
    "the new fact table for the view; the ORACLE RECOMPUTES the "
    "aggregate from the new snapshot directly, so a hash match proves "
    "incremental maintenance == full recompute, exactly (sums ride "
    "decimals).  Scale: the merge is O(day's churn) — two narrow "
    "changelog projections + one grouped sum over view ∪ deltas.",
)
def c_incr_agg(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import incremental_agg_merge, snapshot_diff

    orders = load_table(spark, sf, "orders")
    old = orders.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new = orders.where(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 53 == 0, F.col("o_custkey") + 1)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    base = old.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("total_price"),
    )
    log = snapshot_diff(
        old, new, keys=["o_orderkey"],
        compare_cols=["o_custkey", "o_totalprice"], include_before=True,
    )
    view = incremental_agg_merge(
        base, log, ["o_custkey"], "o_totalprice",
        count_col="n_orders", sum_col="total_price",
    )
    return view.select(
        "o_custkey",
        "n_orders",
        F.round(F.col("total_price").cast("double"), 2).alias("total_price"),
    ).orderBy("o_custkey")


@register(
    "c_incremental_join",
    oracle="""
WITH new_facts AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 53 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders WHERE o_orderkey % 89 <> 0),
new_dim AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 31 = 0 THEN 'REASSIGNED' ELSE c_mktsegment END AS c_mktsegment,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer WHERE c_custkey % 71 <> 0),
v AS (
  SELECT f.o_orderkey, f.o_custkey, f.price_cents, d.c_mktsegment, d.bal_cents
  FROM new_facts f LEFT JOIN new_dim d ON f.o_custkey = d.c_custkey)
SELECT COALESCE(c_mktsegment, '<no-dim>') AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(price_cents) AS BIGINT) AS price_cents,
       CAST(SUM(o_orderkey) AS BIGINT) AS orderkey_checksum,
       CAST(SUM(COALESCE(bal_cents, 0)) AS BIGINT) AS bal_cents
FROM v GROUP BY 1 ORDER BY segment
""",
    doc="incremental JOIN-view maintenance (cdc/diff."
    "incremental_join_merge): the orders⟕customer enrichment view built "
    "from OLD snapshots is merged with BOTH changelogs — dim updates "
    "refresh attributes through the view's own fk (including segment "
    "reassignment), dim deletes null them (left-join semantics), fact "
    "churn is rebuilt against the new dim, fk moves re-route rows.  The "
    "Spark side never rescans the fact table; the ORACLE RECOMPUTES the "
    "left join from the new snapshots, so the hash match proves "
    "incremental == recompute exactly.  Output binds the full view "
    "through per-segment counts, exact cent sums, and an orderkey "
    "checksum.  Scale: view⋈Δdim + anti-join on Δfact keys + "
    "Δfact⋈dim probe — all O(churn), never O(view).",
)
def c_incr_join(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import incremental_join_merge, snapshot_diff

    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    old_facts = orders.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    new_facts = orders.where(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 53 == 0, F.col("o_custkey") + 1)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    old_dim = cust.where(F.col("c_custkey") % 61 != 0).select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    new_dim = cust.where(F.col("c_custkey") % 71 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 31 == 0, F.lit("REASSIGNED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    view = old_facts.join(
        old_dim, old_facts.o_custkey == old_dim.c_custkey, "left"
    ).select("o_orderkey", "o_custkey", "price_cents", "c_mktsegment", "bal_cents")
    flog = snapshot_diff(
        old_facts, new_facts, keys=["o_orderkey"],
        compare_cols=["o_custkey", "price_cents"],
    )
    dlog = snapshot_diff(
        old_dim, new_dim, keys=["c_custkey"],
        compare_cols=["c_mktsegment", "bal_cents"],
    )
    merged = incremental_join_merge(
        view, flog, dlog, new_dim,
        fact_key="o_orderkey", fk="o_custkey", dim_key="c_custkey",
        dim_attrs=["c_mktsegment", "bal_cents"],
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("<no-dim>")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_cents").alias("price_cents"),
            F.sum("o_orderkey").alias("orderkey_checksum"),
            F.sum(F.coalesce(F.col("bal_cents"), F.lit(0))).alias("bal_cents"),
        )
        .orderBy("segment")
    )


# ----------------------------------------- deletion-vector merge-on-read
@register(
    "c_mor_delete_read",
    oracle="""
WITH live AS (
  SELECT * FROM orders
  WHERE NOT o_orderstatus = 'F'
    AND NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0)),
agg AS (
  SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS revenue_cents
  FROM live GROUP BY 1)
SELECT * FROM agg
ORDER BY priority
""",
    doc="deletion-vector merge-on-read lifecycle end-to-end "
    "(cdc/deletes.py): orders land as an immutable parquet base, then "
    "TWO delete batches append keys-only sidecars (all 'F'-status "
    "orders; then every third urgent order) — O(deleted keys) each, no "
    "base rewrite — and the MOR view (base LEFT ANTI broadcast-join "
    "the union of delete keys) is aggregated per priority.  The oracle "
    "replays the deletes as predicates on the source table, so the "
    "hash check proves the sidecar subtraction equals the logical "
    "delete.  This is the delete half of the CDC lifecycle the "
    "reference's change tracking lacks (its change_tracking.py only "
    "upserts); compaction is exercised in tests/test_deletes.py.",
)
def c_mor_delete_read(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import mor_delete, mor_read, mor_write

    orders = load_table(spark, sf, "orders")
    target = tempfile.mkdtemp(prefix="mor_q_") + "/t"
    mor_write(orders, target)
    mor_delete(
        orders.where(F.col("o_orderstatus") == "F").select("o_orderkey"),
        target,
        ["o_orderkey"],
    )
    mor_delete(
        orders.where(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 3 == 0)
        ).select("o_orderkey"),
        target,
        ["o_orderkey"],
    )
    live = mor_read(spark, target, ["o_orderkey"])
    return (
        live.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("revenue_cents"),
        )
        .orderBy("priority")
    )


@register(
    "c_mor_upsert_read",
    oracle="""
WITH eff AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS status,
         CASE WHEN o_orderkey % 7 = 0
              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 10000
              ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM eff GROUP BY status
ORDER BY status
""",
    doc="merge-on-read UPSERT lifecycle end-to-end (cdc/deletes.py "
    "sequence-numbered segments): orders land as segment 0, then a "
    "correction batch (every 7th order re-priced +100.00 and "
    "re-statused 'X') arrives as ONE keys-only delete sidecar + ONE "
    "appended segment — O(batch), no base rewrite; the sequence rule "
    "(sidecar applies only to earlier segments) keeps the corrected "
    "rows alive.  The MOR view aggregates per status and the oracle "
    "replays the correction as a CASE over the source, so the hash "
    "check proves sidecar+append == logical merge.  The Iceberg-style "
    "cheap-upsert complement to c_scd1_two_batch's full MERGE.",
)
def c_mor_upsert_read(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import mor_read, mor_upsert, mor_write

    orders = load_table(spark, sf, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    target = tempfile.mkdtemp(prefix="mor_u_") + "/t"
    mor_write(orders, target)
    correction = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("X").alias("status"),
        (F.col("cents") + 10000).alias("cents"),
    )
    mor_upsert(correction, target, ["o_orderkey"])
    live = mor_read(spark, target, ["o_orderkey"])
    return (
        live.groupBy("status")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("status")
    )


# --------------------------------------------- schema evolution e2e
@register(
    "c_schema_evolution",
    oracle="""
WITH live AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 4 = 0
              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders)
SELECT o_orderpriority AS priority,
       CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_legacy,
       CAST(SUM(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_evolved,
       CAST(SUM(COALESCE(cents, 0)) AS BIGINT) AS sum_cents
FROM live
GROUP BY o_orderpriority
ORDER BY priority
""",
    doc="schema evolution on the versioned store, end to end: v1 commits "
    "the NARROW schema (3/4 of orders, no cents column), a "
    "merge_schema append lands the widened batch (the remaining 1/4 "
    "with integer cents), and the live read surfaces the evolved "
    "column null-filled on legacy segments — the manifest records the "
    "union schema plus a sticky evolved flag, so the reader "
    "footer-merges instead of silently dropping the new column (the "
    "classic parquet-union trap this module guards with a loud "
    "ValueError when evolution wasn't requested).  The oracle replays "
    "the logical outcome straight from the source table, so the hash "
    "check proves physical evolution == logical widening.  Scale: "
    "evolution costs ZERO data rewrite — one appended segment + one "
    "manifest; the read-side mergeSchema is a footer union, not a "
    "data pass.",
)
def c_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc import VersionedParquetStore

    store = VersionedParquetStore()
    orders = load_table(spark, sf, "orders")
    target = tempfile.mkdtemp(prefix="evo_q_") + "/t"
    narrow = orders.where(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_orderpriority"
    )
    widened = orders.where(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    store.overwrite(narrow, target)
    store.append(widened, target, merge_schema=True)
    live = store.read(spark, target)
    return (
        live.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_legacy"),
            F.sum(F.when(F.col("cents").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_evolved"),
            F.sum(F.coalesce(F.col("cents"), F.lit(0))).cast("long").alias("sum_cents"),
        )
        .orderBy("priority")
    )
