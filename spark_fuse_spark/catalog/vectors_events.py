"""Vector-search, event/streaming-shaped, SCD, and multimodal queries.

Event queries run the streaming operators' *batch twins*: Spark executes
``F.window`` / ``F.session_window`` identically over batch and stream
inputs, so the oracle-checked batch results certify the streaming
semantics (the actual ``readStream`` wiring lives in
``spark_fuse_spark.streaming`` and is exercised in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.multimodal import attach_binary_payload, binary_metadata
from ..operators.similarity import _approx_topk, _top_k, brute_force_topk
from ..tables import load_table
from . import register

_TS = "yyyy-MM-dd HH:mm:ss"
_TS_SQL = "%Y-%m-%d %H:%M:%S"


# ------------------------------------------------------------------ vectors
@register(
    "v_ann_bruteforce",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_cosine_similarity(cv, qv), 6) AS cosine
  FROM c CROSS JOIN q)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored)
WHERE rk <= 5
""",
    doc="exact cosine top-5 per query vector. Queries broadcast; corpus "
    "scanned once with zero corpus shuffle. Ranking uses the ROUNDED "
    "cosine + id tie-break so ordering is engine-deterministic.",
)
def v_ann(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(emb, queries, k=5, corpus_id="vec_id", corpus_vec="embedding")


def _sq8_oracle(dims: int, k: int, rerank: int) -> str:
    """DuckDB twin of the full SQ8 path: normalize → per-dim min/max
    panel → floor-encode → midpoint-dequantized ADC → exact re-rank.
    Every step is closed-form IEEE arithmetic, so unlike PQ/IVF (sampled
    k-means, engine-specific) the scalar quantizer replays exactly."""
    dequant = (
        "(p.mins[i + 1] + (CAST(LEAST(255, GREATEST(0, "
        "CAST(FLOOR((c.cu[i + 1] - p.mins[i + 1]) "
        "/ p.spans[i + 1] * 256.0) AS INT))) AS DOUBLE) + 0.5) "
        "* p.spans[i + 1] / 256.0)"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
u AS (SELECT vec_id,
             CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
                  ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
             END AS cu
      FROM e),
d AS (SELECT UNNEST(range(1, {dims + 1})) AS dim),
mm AS (SELECT dim, MIN(cu[dim]) AS mn, MAX(cu[dim]) AS mx
       FROM u CROSS JOIN d GROUP BY dim),
p AS (SELECT list(mn ORDER BY dim) AS mins,
             list(CASE WHEN mx - mn > 0 THEN mx - mn ELSE 1.0 END ORDER BY dim) AS spans
      FROM mm),
q AS (SELECT vec_id AS query_id, cu AS qu FROM u WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, cu FROM u),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(list_sum(list_transform(range(0, {dims}),
               i -> q.qu[i + 1] * {dequant})), 6) AS adc
  FROM c CROSS JOIN q CROSS JOIN p),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, neighbor_id) AS rk
        FROM scored)
  WHERE rk <= {rerank}),
exact AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_cosine_similarity(cv.v, qv.v), 6) AS cosine
  FROM cand
  JOIN e cv ON cand.neighbor_id = cv.vec_id
  JOIN e qv ON cand.query_id = qv.vec_id)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM exact)
WHERE rk <= {k}
"""


@register(
    "v_sq8_topk",
    oracle=_sq8_oracle(dims=64, k=5, rerank=25),
    doc="scalar-quantized (SQ8) ANN with exact re-rank — the FAISS SQ8 "
    "shape: per-dim min/max trained in ONE corpus aggregate (2x64 "
    "map-side-partial scalar aggs, no explode, no driver action), codes "
    "are floor((x-min)/span*256) clamped bytes (4x smaller than "
    "float32), queries score codes through midpoint dequantization in a "
    "whole-stage-codegen fold (broadcast query panel x one corpus scan, "
    "zero corpus shuffle), top-25 candidates re-ranked with exact "
    "cosine.  Fully closed-form, so the DuckDB oracle replays training, "
    "encoding, ADC and re-rank bit-for-bit — the only ANN family where "
    "the ENTIRE approximate path is differentially verified, not just "
    "row counts.",
)
def v_sq8(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.quantization import sq8_adc_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sq8_adc_topk(emb, queries, dims=64, k=5, rerank=25,
                        corpus_id="vec_id", corpus_vec="embedding")


def _rp_base_cte(dims: int, m: int, seed: int) -> str:
    """Shared DuckDB CTE prefix for the random-projection family:
    unit-normalize → signed projection (identical md5-sign literals from
    the SAME generator the Spark side uses) → projected-cosine scores for
    the vec_id<10 query panel (CTEs ``e``/``u``/``pr``/``q``/``c``/
    ``scored``)."""
    from ..operators.quantization import rp_signs

    rows = rp_signs(dims, m, seed)
    sm = "[" + ", ".join(
        "[" + ", ".join(f"{x:.1f}" for x in row) + "]" for row in rows
    ) + "]"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
u AS (SELECT vec_id,
             CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
                  ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
             END AS cu
      FROM e),
pr AS (SELECT vec_id,
              list_transform({sm}, row ->
                list_sum(list_transform(range(1, {dims + 1}), i -> row[i] * cu[i]))) AS pv
       FROM u),
q AS (SELECT vec_id AS query_id, pv AS qp FROM pr WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, pv AS cp FROM pr),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(CASE WHEN sqrt(list_sum(list_transform(qp, x -> x * x))) > 0
                     AND sqrt(list_sum(list_transform(cp, x -> x * x))) > 0
                    THEN list_sum(list_transform(range(1, {m + 1}), j -> qp[j] * cp[j]))
                         / (sqrt(list_sum(list_transform(qp, x -> x * x)))
                            * sqrt(list_sum(list_transform(cp, x -> x * x))))
                    ELSE 0.0 END, 6) AS pc
  FROM c CROSS JOIN q)"""


def _rp_oracle(dims: int, m: int, k: int, rerank: int, seed: int) -> str:
    """DuckDB twin of the full random-projection path: projection +
    projected-cosine candidates (shared ``_rp_base_cte``) → exact
    re-rank.  Closed-form IEEE arithmetic end-to-end, so like SQ8 the
    ENTIRE approximate path replays, not just row counts."""
    return f"""{_rp_base_cte(dims, m, seed)},
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY pc DESC, neighbor_id) AS rk
        FROM scored)
  WHERE rk <= {rerank}),
exact AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_cosine_similarity(cv.v, qv.v), 6) AS cosine
  FROM cand
  JOIN e cv ON cand.neighbor_id = cv.vec_id
  JOIN e qv ON cand.query_id = qv.vec_id)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM exact)
WHERE rk <= {k}
"""


@register(
    "v_rp_topk",
    oracle=_rp_oracle(dims=64, m=32, k=5, rerank=50, seed=42),
    doc="random-projection (Johnson-Lindenstrauss) ANN with exact "
    "re-rank: vectors fold through a deterministic md5-parity ±1 sign "
    "matrix (Achlioptas 2003) from 64 to 32 dims in ONE "
    "whole-stage-codegen map — no training pass at all, the cheapest "
    "rung of the ANN ladder (below SQ8) — then candidates score by "
    "projected cosine (2× fewer multiply-adds per corpus row; the m "
    "knob trades recall for compute — the sign matrix performs on par "
    "with a true Gaussian JL projection, measured) and the "
    "top-50 re-rank with exact cosine over the original vectors.  "
    "Broadcast query panel × one corpus scan of 32-double projections, "
    "zero corpus shuffle; project once, persist, reuse across query "
    "batches.  Both the sign matrix and every fold are closed-form, so "
    "the DuckDB oracle replays the ENTIRE approximate path bit-for-bit "
    "(operators/quantization.rp_topk).",
)
def v_rp(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.quantization import rp_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return rp_topk(emb, queries, dims=64, m=32, k=5, rerank=50,
                   corpus_id="vec_id", corpus_vec="embedding")


def _rank_metrics_oracle(dims: int, m: int, k: int, seed: int) -> str:
    from ..operators.retrieval import ideal_dcg

    return f"""{_rp_base_cte(dims, m, seed)},
sys AS (
  SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY pc DESC, neighbor_id) AS rk
        FROM scored)
  WHERE rk <= {k}),
ex AS (
  SELECT q2.query_id, c2.neighbor_id,
         ROUND(list_cosine_similarity(c2.v, q2.v), 6) AS cosine
  FROM (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10) q2
  CROSS JOIN (SELECT vec_id AS neighbor_id, v FROM e) c2),
tru AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM ex)
  WHERE rk <= {k}),
rel AS (
  SELECT s.query_id, s.rank,
         CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM sys s LEFT JOIN tru t
    ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id)
SELECT query_id,
       CAST(SUM(rel) AS BIGINT) AS n_relevant,
       ROUND(SUM(rel) / {float(k)}, 6) AS precision_at_k,
       ROUND(COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rank END), 0.0), 6) AS mrr,
       ROUND(list_reduce(
               list_prepend(0.0,
                 list_transform(list({{'r': rank, 'rel': rel}} ORDER BY rank),
                                x -> x.rel / (ln(x.r + 1.0) / ln(2.0)))),
               (a, b) -> a + b) / {ideal_dcg(k)!r}, 6) AS ndcg
FROM rel GROUP BY query_id ORDER BY query_id
"""


@register(
    "v_rank_metrics",
    oracle=_rank_metrics_oracle(dims=64, m=32, k=10, seed=42),
    doc="in-engine retrieval-quality evaluation (operators/retrieval."
    "ranking_metrics): NDCG@10, MRR and precision@10 of the random-"
    "projection ranking (v_rp_topk's candidate stage, pre-re-rank) "
    "against exact-cosine ground truth, per query — binary relevance, "
    "IDCG normalization (Järvelin & Kekäläinen 2002).  This is the "
    "recall/quality audit loop a vector platform runs after every index "
    "build; both the system run and the truth set are deterministic "
    "closed-form rankings, so the WHOLE eval replays on the oracle — "
    "the metrics themselves are differentially verified, not just "
    "sampled.  Scale: metric cost is k-bounded per query (a join of two "
    "10-row-per-query relations); producing the rankings dominates, and "
    "the truth side is the one exact pass you amortize across every "
    "index variant under test.",
)
def v_rank_metrics(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.quantization import rp_topk
    from ..operators.retrieval import ranking_metrics

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    system = rp_topk(emb, queries, dims=64, m=32, k=10, rerank=0,
                     corpus_id="vec_id", corpus_vec="embedding")
    truth = brute_force_topk(emb, queries, k=10, corpus_id="vec_id",
                             corpus_vec="embedding")
    return ranking_metrics(system, truth, k=10)


@register(
    "v_ivf_topk",
    oracle=None,  # centroids come from MLlib KMeans — engine-specific
    doc="IVF approximate top-k (coarse KMeans centroids, nprobe=3). "
    "Rows-only driver check; recall vs the exact baseline is asserted in "
    "tests/test_similarity.py.",
)
def v_ivf(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import ivf_topk, train_ivf_centroids

    emb = load_table(spark, sf, "embeddings")
    centroids = train_ivf_centroids(emb, k=8, vec_col="embedding", seed=42)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(emb, queries, centroids, k=5, nprobe=3,
                    corpus_id="vec_id", corpus_vec="embedding")


@register(
    "v_pq_topk",
    oracle=None,  # codebooks come from sampled k-means — engine-specific
    doc="product-quantization ANN (Jegou et al. 2011): m=16 subspace "
    "codebooks of 64 centroids trained driver-side on a hash-gated "
    "sample, corpus encoded once to array<int> codes (Arrow-batched "
    "numpy), queries scored via broadcast ADC lookup tables folded in "
    "whole-stage codegen, then exact cosine re-rank of the top-25 "
    "candidates (operators/quantization.py).  Rows-only driver check; "
    "recall vs the exact baseline is asserted in tests/"
    "test_quantization.py.",
)
def v_pq(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.quantization import pq_adc_topk, train_pq_codebooks

    emb = load_table(spark, sf, "embeddings")
    books = train_pq_codebooks(emb, m=16, nbits=6, vec_col="embedding", seed=42)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_adc_topk(emb, queries, books, k=5, rerank=25,
                       corpus_id="vec_id", corpus_vec="embedding")


@register(
    "v_ivfpq_topk",
    oracle=None,  # centroids + codebooks from sampled k-means — engine-specific
    doc="IVF+PQ composed ANN (the FAISS IVFPQ shape): probe the 3 "
    "nearest of 8 coarse centroid lists, score ONLY probed rows via "
    "broadcast ADC lookup tables over 16x6-bit PQ codes, exact-cosine "
    "re-rank of the top-25 (operators/quantization.ivfpq_topk).  The "
    "two approximations multiply: IVF cuts WHICH rows are scored, PQ "
    "cuts WHAT each row costs.  Rows-only driver check; recall vs the "
    "exact baseline asserted in tests/test_quantization.py.",
)
def v_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.quantization import ivfpq_topk, train_pq_codebooks
    from ..operators.similarity import train_ivf_centroids

    emb = load_table(spark, sf, "embeddings")
    centroids = train_ivf_centroids(emb, k=8, vec_col="embedding", seed=42)
    books = train_pq_codebooks(emb, m=16, nbits=6, vec_col="embedding", seed=42)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfpq_topk(emb, queries, centroids, books, k=5, nprobe=3, rerank=25,
                      corpus_id="vec_id", corpus_vec="embedding")


def _lsh_bucket_oracle(num_planes: int, dims: int, seed: int) -> str:
    """DuckDB twin of ``hyperplane_lsh_bucket``: identical LCG plane
    literals; the sign test runs on the raw vector (sign is
    normalization-invariant)."""
    from ..operators.similarity import _pseudo_planes

    planes = _pseudo_planes(num_planes, dims, seed)
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, CAST([{', '.join(repr(x) for x in plane)}] AS DOUBLE[])) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return f"""
WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS (SELECT CAST({terms} AS BIGINT) AS lsh_bucket FROM v)
SELECT lsh_bucket, CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY lsh_bucket
ORDER BY lsh_bucket
"""


@register(
    "v_lsh_buckets",
    oracle=_lsh_bucket_oracle(num_planes=12, dims=64, seed=42),
    doc="random-hyperplane LSH bucket histogram (12 planes → ≤4096 "
    "buckets).  Fully oracle-checked: the planes are deterministic LCG "
    "unit vectors, so DuckDB replays the identical sign-bit assembly "
    "and the histograms must match bucket-for-bucket.",
)
def v_lsh(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import hyperplane_lsh_bucket

    emb = load_table(spark, sf, "embeddings")
    bucketed = hyperplane_lsh_bucket(emb, "embedding", num_planes=12, dims=64, seed=42)
    return (
        bucketed.groupBy("lsh_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lsh_bucket")
    )


@register(
    "v_vector_norms",
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(e, x -> x * x))), 6) AS l2,
       ROUND(list_sum(e), 6) AS comp_sum,
       CAST(len(e) AS INT) AS dims
FROM v
""",
    doc="vector math sanity surface: L2 norm, component sum, dims — all "
    "higher-order-function expressions (no UDF, no VectorUDT boxing).",
)
def v_norms(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.vectors import l2_norm

    emb = load_table(spark, sf, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("l2"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 6).alias("comp_sum"),
        F.size("embedding").cast("int").alias("dims"),
    )


# ------------------------------------------------------------------- events
@register(
    "e_tumbling_window",
    oracle=f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{_TS_SQL}') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc="tumbling 1-hour window aggregate — batch twin of the streaming "
    "windowed count (streaming/windows.py wires the same expression after "
    "readStream + withWatermark).",
)
def e_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", _TS).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "e_sliding_window",
    oracle=f"""
WITH buckets AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS window_start,
         event_type, value
  FROM events)
SELECT strftime(window_start, '{_TS_SQL}') AS window_start, event_type,
       COUNT(*) AS n_events, ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM buckets
GROUP BY 1, 2
""",
    doc="sliding window (1h length, 30m slide): each event lands in 2 "
    "windows. Oracle replays Spark's bucket-expansion semantics.",
)
def e_sliding(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", _TS).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "e_session_window",
    oracle=f"""
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
grp AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM gaps)
SELECT user_id,
       strftime(MIN(ts), '{_TS_SQL}') AS session_start,
       strftime(MAX(ts) + INTERVAL 10 MINUTE, '{_TS_SQL}') AS session_end,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM grp
GROUP BY user_id, g
""",
    doc="session windows (10-minute gap) — batch twin of the streaming "
    "session_window; oracle is the classic gaps-and-islands rewrite. "
    "Session end = last event + gap (Spark semantics).",
)
def e_session(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias("total_value"))
        .select(
            "user_id",
            F.date_format("w.start", _TS).alias("session_start"),
            F.date_format("w.end", _TS).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "e_first_event_dedup",
    oracle="""
SELECT user_id, event_type, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) = 1
""",
    doc="deterministic dedup (first event per user×type) — batch twin of "
    "dropDuplicatesWithinWatermark; ranking window instead of arbitrary-row "
    "dropDuplicates so results are engine-stable.",
)
def e_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.topk import keep_latest

    e = load_table(spark, sf, "events")
    first = keep_latest(e, ["user_id", "event_type"], ["ts", "event_id"], descending=False)
    return first.select(
        "user_id", "event_type", "event_id", F.date_format("ts", _TS).alias("first_ts")
    )


@register(
    "e_json_props",
    oracle="""
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events
""",
    doc="JSON extraction from the props column (reference F10 upgraded "
    "from Python-side json.loads to Catalyst get_json_object).",
)
def e_json(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )


# ---------------------------------------------------------------------- SCD
@register(
    "c_scd2_snapshot",
    oracle="""
SELECT o_custkey AS business_key, o_orderkey AS payload_key,
       CAST(o_orderdate AS DATE) AS effective_start,
       CAST(lead(o_orderdate) OVER w AS DATE) AS effective_end,
       lead(o_orderdate) OVER w IS NULL AS is_current,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    doc="SCD Type-2 effective-range snapshot expressed declaratively "
    "(lead/row_number windows) — the read-side twin of the Delta MERGE "
    "write protocol in operators/scd.py (reference C2 semantics: every "
    "intermediate version preserved, oldest→newest).",
)
def c_scd2(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").alias("business_key"),
        F.col("o_orderkey").alias("payload_key"),
        F.col("o_orderdate").cast("date").alias("effective_start"),
        F.lead("o_orderdate").over(w).cast("date").alias("effective_end"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )


# --------------------------------------------------------------- multimodal
@register(
    "m_binary_metadata",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS content_sha256
FROM documents
""",
    doc="multimodal plumbing: opaque binary payload column → Arrow-batched "
    "mapInPandas metadata extraction (byte count + content hash). The "
    "decode stage itself is stubbed (no codecs in container); schema/"
    "partitioning/batching are real.",
)
def m_binary_meta(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    with_payload = attach_binary_payload(d, "text", "payload")
    return binary_metadata(with_payload, "doc_id", "payload")


@register(
    "m_payload_features",
    oracle=None,  # histogram feature VECTOR — not SQL-expressible as a
    # whole (the per-bucket math IS oracle-checked via m_payload_histogram);
    # determinism is tested instead (tests/test_dedup_similarity.py)
    doc="multimodal feature extraction: binary payload → normalized "
    "byte-histogram feature vector (array<float>) via Arrow-batched "
    "mapInPandas; the real-codec version swaps in a CLIP/audio encoder "
    "with the identical schema/batch shape.  The operator API "
    "(operators/multimodal.extract_features) keeps the array<float> "
    "surface that feeds the similarity/ANN layer; THIS registered query "
    "projects the vector through a deterministic JSON serialization so "
    "the driver's rows-only harness (which hashes row values) gets a "
    "hashable scalar — values are float32-quantized before "
    "serialization, so the string is reproducible bit-for-bit.",
)
def m_payload_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import extract_features

    d = load_table(spark, sf, "documents")
    with_payload = attach_binary_payload(d, "text", "payload")
    feats = extract_features(with_payload, "doc_id", "payload", dim=16)
    return feats.select(
        "doc_id",
        F.size("features").cast("long").alias("dim"),
        F.to_json(F.col("features")).alias("features_json"),
    )


@register(
    "m_frame_sample",
    oracle="""
WITH t AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
p AS (SELECT doc_id, n, GREATEST(1, n // 8) AS step FROM t WHERE n > 0),
f AS (SELECT doc_id, step,
             unnest(generate_series(0, CAST(LEAST(n, 8 * step) // step AS BIGINT) - 1))
               AS frame_index
      FROM p)
SELECT doc_id, CAST(frame_index AS BIGINT) AS frame_index,
       CAST(step AS BIGINT) AS frame_len
FROM f
WHERE frame_index % 2 = 0
ORDER BY doc_id, frame_index
""",
    doc="multimodal frame sampling: payload -> decode_media (1-to-8 "
    "frames via Arrow-batched mapInPandas, deterministic fake codec) -> "
    "sample_frames stride-2 — which is a PURE Catalyst filter on "
    "frame_index, because sampling after decode needs no Python "
    "(sample-then-featurize ordering at scale).  The fake codec slices "
    "equal byte windows, so the oracle replays frame counts and lengths "
    "arithmetically from the text byte length.",
)
def m_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, decode_media, sample_frames

    d = load_table(spark, sf, "documents")
    frames = decode_media(
        attach_binary_payload(d, "text", "payload"), frames_per_doc=8, use_fake=True
    )
    return (
        sample_frames(frames, stride=2)
        .select(
            "doc_id",
            F.col("frame_index").cast("long").alias("frame_index"),
            F.octet_length("frame").cast("long").alias("frame_len"),
        )
        .orderBy("doc_id", "frame_index")
    )


@register(
    "m_payload_histogram",
    oracle="""
WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
ix AS (SELECT doc_id, text, unnest(generate_series(1, n)) AS i FROM b WHERE n > 0),
ex AS (SELECT doc_id, ascii(substring(text, i, 1)) % 16 AS bucket FROM ix),
h AS (SELECT doc_id, bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM ex GROUP BY 1, 2),
norm AS (SELECT doc_id, sqrt(SUM(c * c)) AS nn FROM h GROUP BY doc_id),
dense AS (
  SELECT d.doc_id, k.bucket, COALESCE(h.c, 0) AS c, norm.nn
  FROM (SELECT DISTINCT doc_id FROM h) d
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bucket) k
  LEFT JOIN h ON h.doc_id = d.doc_id AND h.bucket = k.bucket
  JOIN norm ON norm.doc_id = d.doc_id)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       ROUND(CAST(CAST(c / nn AS FLOAT) AS DOUBLE), 6) AS freq
FROM dense
ORDER BY doc_id, bucket
""",
    doc="the multimodal feature path, fully oracle-checked: payload bytes "
    "-> extract_features (Arrow-batched mapInPandas byte-histogram, the "
    "REAL operator) -> posexplode to (doc_id, bucket, freq) long format. "
    "The corpus is ASCII so DuckDB replays bytes via code points, and "
    "both engines quantize the normalized frequency through float32 "
    "(numpy astype == CAST AS FLOAT of the identical double), making "
    "the hash comparison exact — upgrading this family from the "
    "rows-only gate (m_payload_features keeps the array-typed surface).",
)
def m_payload_hist(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, extract_features

    d = load_table(spark, sf, "documents")
    feats = extract_features(attach_binary_payload(d, "text", "payload"), dim=16)
    return (
        feats.select("doc_id", F.posexplode("features").alias("bucket", "freq"))
        .select(
            "doc_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.round(F.col("freq").cast("double"), 6).alias("freq"),
        )
        .orderBy("doc_id", "bucket")
    )


def _mips_oracle(k: int, dims: int, tables: int, planes_per_table: int, seed: int) -> str:
    """DuckDB twin of ``mips_lsh_topk``: identical augmentation, plane
    literals, bucket joins, and exact inner-product ranking."""
    from ..operators.similarity import _pseudo_planes

    def bucket_terms(planes):
        return " + ".join(
            f"(CASE WHEN list_dot_product(aug, CAST([{', '.join(repr(x) for x in p)}] AS DOUBLE[])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    cb_selects, qb_selects = [], []
    for t in range(tables):
        planes = _pseudo_planes(planes_per_table, dims + 1, seed + t)
        cb_selects.append(
            f"SELECT vec_id, {t} AS t, CAST({bucket_terms(planes)} AS BIGINT) AS bkt FROM c"
        )
        qb_selects.append(
            f"SELECT query_id, {t} AS t, CAST({bucket_terms(planes)} AS BIGINT) AS bkt FROM q"
        )
    cb = "\nUNION ALL\n".join(cb_selects)
    qb = "\nUNION ALL\n".join(qb_selects)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
mm AS (SELECT MAX(sqrt(list_sum(list_transform(e, x -> x * x)))) AS M FROM v),
c AS (SELECT vec_id, e,
             list_concat(list_transform(e, x -> x / mm.M),
               [sqrt(greatest(0.0, 1.0 - list_dot_product(e, e) / (mm.M * mm.M)))]) AS aug
      FROM v CROSS JOIN mm),
q AS (SELECT vec_id AS query_id, e AS qe, list_concat(e, [0.0]) AS aug
      FROM v WHERE vec_id < 10),
cb AS ({cb}),
qb AS ({qb}),
cand AS (SELECT DISTINCT qb.query_id, cb.vec_id AS neighbor_id
         FROM cb JOIN qb ON cb.t = qb.t AND cb.bkt = qb.bkt),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_dot_product(cv.e, qv.qe), 6) AS inner_product
  FROM cand
  JOIN c cv ON cand.neighbor_id = cv.vec_id
  JOIN q qv ON cand.query_id = qv.query_id)
SELECT query_id, neighbor_id, inner_product, CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY inner_product DESC, neighbor_id) AS rk
      FROM scored)
WHERE rk <= {k}
ORDER BY query_id, rank
"""


@register(
    "v_mips_topk",
    oracle=_mips_oracle(k=5, dims=64, tables=8, planes_per_table=4, seed=42),
    doc="maximum inner-product search via asymmetric augmentation "
    "(Shrivastava & Li 2014): inner product is not a metric, so corpus "
    "vectors get one extra coordinate [x/M, sqrt(1-|x|^2/M^2)] (M = max "
    "corpus norm, folded in as a 1-row broadcast panel — no driver "
    "action) and queries [q, 0], after which augmented-cosine LSH "
    "buckets index inner-product order.  Candidates come from 8 "
    "deterministic hyperplane tables (bucket-equality joins, queries "
    "broadcast, never all-pairs); survivors are ranked by the EXACT "
    "inner product.  Fully oracle-checked: DuckDB replays augmentation, "
    "plane literals, bucket joins, and ranking.",
)
def v_mips(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import mips_lsh_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = mips_lsh_topk(
        emb, queries, k=5, dims=64, tables=8, planes_per_table=4, seed=42,
        corpus_id="vec_id", corpus_vec="embedding",
    )
    return out.orderBy("query_id", "rank")


@register(
    "e_variant_props",
    oracle="""
WITH v AS (SELECT event_type,
                  CAST(json_extract(props, '$.k') AS BIGINT) AS k
           FROM events)
SELECT event_type, CAST(FLOOR(k / 10) AS BIGINT) AS k_decade,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(k) AS BIGINT) AS k_min,
       CAST(MAX(k) AS BIGINT) AS k_max
FROM v
GROUP BY event_type, CAST(FLOOR(k / 10) AS BIGINT)
ORDER BY event_type, k_decade
""",
    doc="semi-structured analytics through the Spark 4 VARIANT type: "
    "props parses ONCE to a binary variant (parse_json), fields extract "
    "with typed variant_get — the open-schema ingestion shape (Parquet "
    "variant shredding makes this columnar at rest), upgraded from "
    "per-query string re-parsing (e_json_props / get_json_object).  The "
    "extracted measure then drives a normal grouped aggregate, showing "
    "variants compose with the relational layer.  Oracle extracts the "
    "same paths via DuckDB's JSON type.",
)
def e_variant(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events").select(
        "event_type", F.parse_json("props").alias("vp")
    )
    k = F.expr("variant_get(vp, '$.k', 'bigint')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type", F.floor(F.col("k") / 10).cast("long").alias("k_decade"))
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type", "k_decade")
    )


@register(
    "v_matryoshka_cascade",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
coarse AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(e.v[1:16], q.qv[1:16]), 6) AS c16
  FROM e CROSS JOIN q),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY c16 DESC, neighbor_id) AS rk
        FROM coarse)
  WHERE rk <= 50),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(list_cosine_similarity(ev.v, qv.v), 6) AS cosine
  FROM cand c
  JOIN e ev ON c.neighbor_id = ev.vec_id
  JOIN e qv ON c.query_id = qv.vec_id)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM exact)
WHERE rk <= 5
ORDER BY query_id, rank
""",
    doc="Matryoshka cascade retrieval (Kusupati et al. 2022 MRL): "
    "stage-1 ranks on the 16-dim embedding PREFIX (cosine is "
    "scale-invariant, so prefix cosine == truncate-renormalize cosine "
    "at a quarter of the fold cost), stage-2 re-scores only the top-50 "
    "candidates with the full 64-dim cosine — the modern two-stage "
    "pattern for MRL-trained encoders.  Fully closed-form, so the "
    "oracle replays both stages.  Scale: stage 1 is the "
    "broadcast-queries x one-corpus-scan shape at 1/4 the flops; stage "
    "2 touches 50 rows per query.",
)
def v_matryoshka_cascade(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    coarse = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "v")
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.slice("v", 1, 16), F.slice("qv", 1, 16)), 6
            ).alias("c16"),
        )
    )
    return _approx_topk(
        coarse, "c16", 5, 50, emb, q, "vec_id", "v", "query_id", "qv"
    ).orderBy("query_id", "rank")


def _ann_recall_oracle(dims: int, k: int) -> str:
    """Exact top-k vs raw SQ8 ADC top-k (no re-rank) per query — the
    quantization-loss measurement, sharing the _sq8_oracle arithmetic."""
    dequant = (
        "(p.mins[i + 1] + (CAST(LEAST(255, GREATEST(0, "
        "CAST(FLOOR((c.cu[i + 1] - p.mins[i + 1]) "
        "/ p.spans[i + 1] * 256.0) AS INT))) AS DOUBLE) + 0.5) "
        "* p.spans[i + 1] / 256.0)"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
u AS (SELECT vec_id,
             CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
                  ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
             END AS cu
      FROM e),
d AS (SELECT UNNEST(range(1, {dims + 1})) AS dim),
mm AS (SELECT dim, MIN(cu[dim]) AS mn, MAX(cu[dim]) AS mx
       FROM u CROSS JOIN d GROUP BY dim),
p AS (SELECT list(mn ORDER BY dim) AS mins,
             list(CASE WHEN mx - mn > 0 THEN mx - mn ELSE 1.0 END ORDER BY dim) AS spans
      FROM mm),
q AS (SELECT vec_id AS query_id, cu AS qu FROM u WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, cu FROM u),
adc AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(list_sum(list_transform(range(0, {dims}),
               i -> q.qu[i + 1] * {dequant})), 6) AS s
  FROM c CROSS JOIN q CROSS JOIN p),
sq8top AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id) AS rk FROM adc)
  WHERE rk <= {k}),
ex AS (
  SELECT qq.query_id, ee.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(ee.v, qv.v), 6) AS cosine
  FROM e ee CROSS JOIN q qq JOIN e qv ON qq.query_id = qv.vec_id),
extop AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk FROM ex)
  WHERE rk <= {k})
SELECT extop.query_id,
       CAST({k} AS BIGINT) AS k,
       CAST(COUNT(sq8top.neighbor_id) AS BIGINT) AS n_overlap,
       ROUND(COUNT(sq8top.neighbor_id) / {k}.0, 6) AS recall
FROM extop
LEFT JOIN sq8top ON extop.query_id = sq8top.query_id
                AND extop.neighbor_id = sq8top.neighbor_id
GROUP BY extop.query_id
ORDER BY extop.query_id
"""


@register(
    "v_ann_recall_audit",
    oracle=_ann_recall_oracle(dims=64, k=5),
    doc="in-engine ANN recall audit for the vector family: exact "
    "cosine top-5 vs the RAW SQ8 ADC top-5 (no re-rank) per query — "
    "the quantization-loss number that tells you whether a re-rank "
    "stage is needed and how big its candidate margin must be "
    "(compare d_lsh_recall_audit for the MinHash index).  Both "
    "rankings are closed-form, so even the recall measurement is "
    "differentially verified.  Scale: two broadcast-queries x "
    "corpus-scan rankings + a k-bounded overlap join.",
)
def v_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.quantization import sq8_adc_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(
        emb, queries, k=5, corpus_id="vec_id", corpus_vec="embedding"
    ).select("query_id", "neighbor_id")
    approx = sq8_adc_topk(
        emb, queries, dims=64, k=5, rerank=0, corpus_id="vec_id", corpus_vec="embedding"
    ).select(
        F.col("query_id").alias("__aq"), F.col("neighbor_id").alias("sq8_neighbor")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("__aq"))
            & (F.col("neighbor_id") == F.col("sq8_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(5).cast("long").alias("k"),
            F.count("sq8_neighbor").alias("n_overlap"),
            F.round(F.count("sq8_neighbor") / 5.0, 6).alias("recall"),
        )
        .orderBy("query_id")
    )


@register(
    "m_payload_neardup",
    oracle="""
WITH ch AS (
  SELECT doc_id, ascii(c) % 60 AS b
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
  WHERE c <> ''),
hist AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM ch GROUP BY doc_id, b),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY doc_id),
corpus AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM hist GROUP BY b),
nt AS (SELECT CAST(SUM(cb) AS BIGINT) AS ntot FROM corpus),
sig AS (
  SELECT hist.doc_id,
         CAST(SUM(CASE WHEN CAST(hist.c AS HUGEINT) * nt.ntot
                          > CAST(tot.n AS HUGEINT) * corpus.cb
                       THEN (CAST(1 AS BIGINT) << hist.b) ELSE 0 END) AS BIGINT)
           AS s
  FROM hist JOIN tot ON hist.doc_id = tot.doc_id
            JOIN corpus ON hist.b = corpus.b
            CROSS JOIN nt
  GROUP BY hist.doc_id),
blocks AS (
  SELECT doc_id, s, 0 AS blk, (((s >> 0) & 1) << 0) + (((s >> 4) & 1) << 1) + (((s >> 8) & 1) << 2) + (((s >> 12) & 1) << 3) + (((s >> 16) & 1) << 4) + (((s >> 20) & 1) << 5) + (((s >> 24) & 1) << 6) + (((s >> 28) & 1) << 7) + (((s >> 32) & 1) << 8) + (((s >> 36) & 1) << 9) + (((s >> 40) & 1) << 10) + (((s >> 44) & 1) << 11) + (((s >> 48) & 1) << 12) + (((s >> 52) & 1) << 13) + (((s >> 56) & 1) << 14) AS bv FROM sig
  UNION ALL
  SELECT doc_id, s, 1 AS blk, (((s >> 1) & 1) << 0) + (((s >> 5) & 1) << 1) + (((s >> 9) & 1) << 2) + (((s >> 13) & 1) << 3) + (((s >> 17) & 1) << 4) + (((s >> 21) & 1) << 5) + (((s >> 25) & 1) << 6) + (((s >> 29) & 1) << 7) + (((s >> 33) & 1) << 8) + (((s >> 37) & 1) << 9) + (((s >> 41) & 1) << 10) + (((s >> 45) & 1) << 11) + (((s >> 49) & 1) << 12) + (((s >> 53) & 1) << 13) + (((s >> 57) & 1) << 14) AS bv FROM sig
  UNION ALL
  SELECT doc_id, s, 2 AS blk, (((s >> 2) & 1) << 0) + (((s >> 6) & 1) << 1) + (((s >> 10) & 1) << 2) + (((s >> 14) & 1) << 3) + (((s >> 18) & 1) << 4) + (((s >> 22) & 1) << 5) + (((s >> 26) & 1) << 6) + (((s >> 30) & 1) << 7) + (((s >> 34) & 1) << 8) + (((s >> 38) & 1) << 9) + (((s >> 42) & 1) << 10) + (((s >> 46) & 1) << 11) + (((s >> 50) & 1) << 12) + (((s >> 54) & 1) << 13) + (((s >> 58) & 1) << 14) AS bv FROM sig
  UNION ALL
  SELECT doc_id, s, 3 AS blk, (((s >> 3) & 1) << 0) + (((s >> 7) & 1) << 1) + (((s >> 11) & 1) << 2) + (((s >> 15) & 1) << 3) + (((s >> 19) & 1) << 4) + (((s >> 23) & 1) << 5) + (((s >> 27) & 1) << 6) + (((s >> 31) & 1) << 7) + (((s >> 35) & 1) << 8) + (((s >> 39) & 1) << 9) + (((s >> 43) & 1) << 10) + (((s >> 47) & 1) << 11) + (((s >> 51) & 1) << 12) + (((s >> 55) & 1) << 13) + (((s >> 59) & 1) << 14) AS bv FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bv = b.bv
                              AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
""",
    doc="multimodal near-dup detection over binary payloads: 60-bit "
    "byte-histogram signature sign-quantized against the CORPUS "
    "distribution (the aHash/pHash recipe, centered so the shared "
    "language profile cancels — exact integer cross-multiply, 60-row "
    "broadcast panel), 4x15-bit pigeonhole blocks (hamming <= 3 "
    "cannot dirty all four), exact bit_count(xor) verify — dedup runs "
    "BEFORE any decode, the ordering that makes image/audio dedup "
    "affordable at corpus scale.  Pure Catalyst end-to-end; shuffle is "
    "O(total bytes) skinny histogram rows, then O(docs x 4 blocks).",
)
def m_payload_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import payload_signature_pairs

    return payload_signature_pairs(
        load_table(spark, sf, "documents"), max_hamming=3
    )


@register(
    "v_bq_topk",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT vec_id, unnest(v) AS x,
              unnest(generate_series(0, len(v) - 1)) AS pos FROM e),
words AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN pos < 32 AND x > 0
                  THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END) AS BIGINT) AS w0,
    CAST(SUM(CASE WHEN pos >= 32 AND x > 0
                  THEN (CAST(1 AS BIGINT) << (pos - 32)) ELSE 0 END) AS BIGINT) AS w1
  FROM ex GROUP BY vec_id),
q AS (SELECT w.vec_id AS query_id, w.w0 AS q0, w.w1 AS q1, e.v AS qv
      FROM words w JOIN e ON w.vec_id = e.vec_id WHERE w.vec_id < 8),
ham AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(c.w0, q.q0)) + bit_count(xor(c.w1, q.q1)) AS BIGINT)
           AS hamming
  FROM words c CROSS JOIN q),
cand AS (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY hamming, neighbor_id) AS crk
    FROM ham) __c WHERE crk <= 50),
rerank AS (
  SELECT cand.query_id, cand.neighbor_id, cand.hamming,
         ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine
  FROM cand JOIN e ON cand.neighbor_id = e.vec_id
            JOIN q ON cand.query_id = q.query_id)
SELECT query_id, neighbor_id, cosine, hamming, CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM rerank)
WHERE rk <= 10
ORDER BY query_id, rank
""",
    doc="binary-quantization ANN: sign-quantize each 64-dim embedding to "
    "TWO 32-bit words (1 bit/dim — a 32x memory cut, the BQ mode modern "
    "vector stores ship), score candidates by hamming distance in pure "
    "integer bit_count (SIMD-speed, zero float math in the coarse pass), "
    "take 50 coarse candidates per query, then exact-cosine re-rank to "
    "top-10.  Completes the quantization ladder: BQ (1 bit) / SQ8 "
    "(8 bits) / PQ (codebooks) / Matryoshka (prefix dims), every rung "
    "oracle-checked.  Determinism: sign bits and hamming are exact "
    "integers; the re-rank reuses the rounded-cosine + id tie-break "
    "convention.  Scale: the coarse pass broadcasts 8 query words over "
    "one corpus scan of 16-byte codes (no corpus shuffle); only the "
    "(|Q| x 50) candidate rows join back to full vectors.",
)
def v_bq_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity

    e = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = e.select("vec_id", F.posexplode("v").alias("pos", "x"))
    words = ex.groupBy("vec_id").agg(
        F.sum(
            F.when(
                (F.col("pos") < 32) & (F.col("x") > 0),
                F.expr("shiftleft(cast(1 as bigint), pos)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("w0"),
        F.sum(
            F.when(
                (F.col("pos") >= 32) & (F.col("x") > 0),
                F.expr("shiftleft(cast(1 as bigint), pos - 32)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("w1"),
    )
    q = (
        words.where(F.col("vec_id") < 8)
        .join(e, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("w0").alias("q0"),
            F.col("w1").alias("q1"),
            F.col("v").alias("qv"),
        )
    )
    ham = words.crossJoin(F.broadcast(q.select("query_id", "q0", "q1"))).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.expr("w0 ^ q0")) + F.bit_count(F.expr("w1 ^ q1"))
        ).cast("long").alias("hamming"),
    )
    cand = _top_k(ham, "query_id", F.col("hamming").asc(), 50).drop("rank")
    rerank = (
        cand.join(e.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(cosine_similarity(F.col("v"), F.col("qv")), 6).alias("cosine"),
        )
    )
    return (
        _top_k(rerank, "query_id", F.col("cosine").desc(), 10)
        .select("query_id", "neighbor_id", "cosine", "hamming", "rank")
        .orderBy("query_id", "rank")
    )


def _lsh_assign_sql(num_planes: int, dims: int, seed: int) -> str:
    """Per-row bucket assignment fragment (shares the plane literals with
    :func:`_lsh_bucket_oracle`)."""
    from ..operators.similarity import _pseudo_planes

    planes = _pseudo_planes(num_planes, dims, seed)
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, CAST([{', '.join(repr(x) for x in plane)}] AS DOUBLE[])) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return f"CAST({terms} AS BIGINT)"


@register(
    "v_cluster_nmi",
    oracle=f"""
WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
asg AS (SELECT {_lsh_assign_sql(4, 64, 42)} AS c, label AS l FROM v),
cells AS (SELECT c, l, CAST(COUNT(*) AS BIGINT) AS n_cl FROM asg GROUP BY c, l),
rowm AS (SELECT c, CAST(SUM(n_cl) AS BIGINT) AS n_c FROM cells GROUP BY c),
colm AS (SELECT l, CAST(SUM(n_cl) AS BIGINT) AS n_l FROM cells GROUP BY l),
tot AS (SELECT CAST(SUM(n_cl) AS BIGINT) AS n FROM cells),
mi AS (
  SELECT SUM(CAST(n_cl AS DOUBLE) / n
             * LN(CAST(n AS DOUBLE) * n_cl / (CAST(n_c AS DOUBLE) * n_l))) AS mi
  FROM cells JOIN rowm USING (c) JOIN colm USING (l) CROSS JOIN tot),
hc AS (SELECT -SUM(CAST(n_c AS DOUBLE) / n * LN(CAST(n_c AS DOUBLE) / n)) AS h_c
       FROM rowm CROSS JOIN tot),
hl AS (SELECT -SUM(CAST(n_l AS DOUBLE) / n * LN(CAST(n_l AS DOUBLE) / n)) AS h_l
       FROM colm CROSS JOIN tot),
pur AS (SELECT SUM(mx) AS hits FROM
        (SELECT c, MAX(n_cl) AS mx FROM cells GROUP BY c)),
panel AS (SELECT n,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM rowm) AS n_clusters,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM colm) AS n_labels
          FROM tot)
SELECT n AS n_vectors, n_clusters, n_labels,
       FLOOR(CAST(hits AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS purity,
       FLOOR(mi / SQRT(h_c * h_l) * 1000000 + 0.5) / 1000000 AS nmi
FROM panel, mi, hc, hl, pur
""",
    doc="clustering-quality audit: purity and normalized mutual "
    "information of the 4-plane hyperplane-LSH bucket assignment "
    "against the embeddings' ground-truth labels — the eval metric a "
    "semantic-dedup/clustering pipeline reports.  The contingency "
    "table, marginals, and purity hits are EXACT integer counts (one "
    "partial-agg'd groupBy + two marginal rollups of the ≤160-cell "
    "table); only the final entropy/MI fold is float, mirrored "
    "term-for-term on both engines and rounded at 1e-6.  Scale: one "
    "assignment scan + count shuffles bounded by clusters×labels, "
    "never by rows.",
)
def v_cluster_nmi(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import hyperplane_lsh_bucket

    emb = load_table(spark, sf, "embeddings")
    asg = hyperplane_lsh_bucket(emb, "embedding", num_planes=4, dims=64, seed=42)
    cells = asg.groupBy(
        F.col("lsh_bucket").alias("c"), F.col("label").alias("l")
    ).agg(F.count("*").alias("n_cl"))
    cells = cells.localCheckpoint()  # feeds 4 consumers; evaluate once
    rowm = cells.groupBy("c").agg(F.sum("n_cl").alias("n_c"))
    colm = cells.groupBy("l").agg(F.sum("n_cl").alias("n_l"))
    tot = cells.agg(F.sum("n_cl").alias("n"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mi = (
        cells.join(F.broadcast(rowm), "c")
        .join(F.broadcast(colm), "l")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                d("n_cl") / F.col("n")
                * F.log(d("n") * F.col("n_cl") / (d("n_c") * F.col("n_l")))
            ).alias("mi")
        )
    )
    hc = rowm.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(d("n_c") / F.col("n") * F.log(d("n_c") / F.col("n")))).alias("h_c")
    )
    hl = colm.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(d("n_l") / F.col("n") * F.log(d("n_l") / F.col("n")))).alias("h_l")
    )
    pur = cells.groupBy("c").agg(F.max("n_cl").alias("mx")).agg(
        F.sum("mx").alias("hits")
    )
    panel = tot.crossJoin(rowm.agg(F.count("*").alias("n_clusters"))).crossJoin(
        colm.agg(F.count("*").alias("n_labels"))
    )
    r6 = lambda c: F.floor(c * 1000000 + 0.5) / 1000000  # noqa: E731
    return (
        panel.crossJoin(mi).crossJoin(hc).crossJoin(hl).crossJoin(pur)
        .select(
            F.col("n").alias("n_vectors"),
            "n_clusters",
            "n_labels",
            r6(d("hits") / F.col("n")).alias("purity"),
            r6(F.col("mi") / F.sqrt(F.col("h_c") * F.col("h_l"))).alias("nmi"),
        )
    )


# ------------------------------------------------- MMR diversified top-k
_MMR_K = 8
_MMR_POOL = 25


def _mmr_round_sql(r: int) -> str:
    """One unrolled greedy MMR round: max-redundancy against the
    already-selected set, exact integer argmax of qs - red, id
    tie-break — the recurrence of operators/similarity.mmr_diversify."""
    return f""",
s{r} AS MATERIALIZED (
  SELECT * FROM s{r - 1}
  UNION ALL
  SELECT vec_id, qs, red, {r} AS rk FROM (
    SELECT vec_id, qs, red FROM (
      SELECT p.ai AS vec_id, p.aqs AS qs, MAX(p.ps) AS red
      FROM pair p
      WHERE p.bi IN (SELECT vec_id FROM s{r - 1})
        AND p.ai NOT IN (SELECT vec_id FROM s{r - 1})
      GROUP BY 1, 2) t
    ORDER BY qs - red DESC, vec_id LIMIT 1) z)"""


@register(
    "v_mmr_topk",
    oracle=f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
sc AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         CAST(FLOOR(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)
                    * 1000000 + 0.5) AS BIGINT) AS qs
  FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
cand AS MATERIALIZED (SELECT * FROM sc ORDER BY qs DESC, vec_id LIMIT {_MMR_POOL}),
pair AS MATERIALIZED (
  SELECT a.vec_id AS ai, a.qs AS aqs, b.vec_id AS bi,
         CAST(FLOOR(list_cosine_similarity(a.v, b.v) * 1000000 + 0.5) AS BIGINT) AS ps
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
s1 AS MATERIALIZED (
  SELECT vec_id, qs, CAST(NULL AS BIGINT) AS red, 1 AS rk
  FROM (SELECT * FROM cand ORDER BY qs DESC, vec_id LIMIT 1))
{"".join(_mmr_round_sql(r) for r in range(2, _MMR_K + 1))}
SELECT CAST(rk AS INT) AS rank, vec_id, qs AS qsim_micro, red AS redundancy_micro
FROM s{_MMR_K} ORDER BY rank
""",
    doc="Maximal Marginal Relevance diversified top-k (Carbonell & "
    "Goldstein, SIGIR 1998; lambda = 1/2) — the result-diversification "
    "re-rank RAG retrieval runs after ANN recall: greedily pick the "
    "candidate maximizing relevance minus max-similarity-to-selected.  "
    "Cosines quantize ONCE into integer micro-units, so the greedy "
    f"pick sequence is exact integer arithmetic and the {_MMR_K}-round "
    "recurrence replays bit-identically as unrolled SQL.  Scale: the "
    "only corpus-sized step is the broadcast-query relevance scan with "
    f"a distributed TakeOrdered cut to the {_MMR_POOL}-row pool; the "
    "pairwise panel and every greedy round run on checkpointed "
    "pool-bounded frames — never a corpus shuffle.  "
    "(operators/similarity.mmr_diversify)",
)
def v_mmr_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import mmr_diversify

    emb = load_table(spark, sf, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    out = mmr_diversify(
        emb.where(F.col("vec_id") != 0), qv, k=_MMR_K, pool=_MMR_POOL
    )
    return out.select(
        F.col("rank").cast("int").alias("rank"),
        F.col("id").alias("vec_id"),
        "qsim_micro",
        "redundancy_micro",
    ).orderBy("rank")


@register(
    "v_diversity_audit",
    oracle=f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
sc AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         CAST(FLOOR(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)
                    * 1000000 + 0.5) AS BIGINT) AS qs
  FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
cand AS MATERIALIZED (SELECT * FROM sc ORDER BY qs DESC, vec_id LIMIT {_MMR_POOL}),
pair AS MATERIALIZED (
  SELECT a.vec_id AS ai, a.qs AS aqs, b.vec_id AS bi,
         CAST(FLOOR(list_cosine_similarity(a.v, b.v) * 1000000 + 0.5) AS BIGINT) AS ps
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
s1 AS MATERIALIZED (
  SELECT vec_id, qs, CAST(NULL AS BIGINT) AS red, 1 AS rk
  FROM (SELECT * FROM cand ORDER BY qs DESC, vec_id LIMIT 1))
{"".join(_mmr_round_sql(r) for r in range(2, _MMR_K + 1))},
plain AS (SELECT vec_id, qs FROM cand ORDER BY qs DESC, vec_id LIMIT {_MMR_K}),
pl AS (SELECT COUNT(DISTINCT e.label) AS lab, SUM(p.qs) AS relsum
       FROM plain p JOIN embeddings e ON p.vec_id = e.vec_id),
mm AS (SELECT COUNT(DISTINCT e.label) AS lab, SUM(s.qs) AS relsum
       FROM s{_MMR_K} s JOIN embeddings e ON s.vec_id = e.vec_id)
SELECT {_MMR_K} AS k,
       CAST(pl.lab AS BIGINT) AS labels_plain,
       CAST(mm.lab AS BIGINT) AS labels_mmr,
       CAST(pl.relsum - mm.relsum AS BIGINT) AS relevance_cost_micro
FROM pl CROSS JOIN mm
""",
    doc="diversification audit — quantifies what v_mmr_topk buys and "
    "what it costs, in-engine: ground-truth label coverage@k of the "
    "MMR selection vs the plain relevance top-k, and the exact "
    "relevance mass (sum of micro-unit query cosines) given up for "
    "that coverage.  Both selections replay exactly (the MMR side is "
    "the same unrolled integer greedy recurrence as v_mmr_topk), so "
    "the audit row is bit-stable.  Scale: one broadcast-query corpus "
    "scan + TakeOrdered pool cut feeds BOTH arms; label joins "
    "broadcast the k-row selections onto the embeddings table.",
)
def v_diversity_audit(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import mmr_diversify

    emb = load_table(spark, sf, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    corpus = emb.where(F.col("vec_id") != 0)
    from ..functions.vectors import cosine_similarity

    # the SAME quantized-cosine tree as operators/similarity.mmr_diversify,
    # so both audit arms rank on identical integers
    micro = F.floor(
        cosine_similarity(F.col("embedding"), F.col("query_vec")) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    plain = (
        corpus.crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("id"), micro.alias("qs"))
        .orderBy(F.col("qs").desc(), "id")
        .limit(_MMR_K)
    )
    mmr = mmr_diversify(corpus, qv, k=_MMR_K, pool=_MMR_POOL).select(
        "id", F.col("qsim_micro").alias("qs")
    )
    labels = emb.select(F.col("vec_id").alias("id"), "label")
    pl = (
        labels.join(F.broadcast(plain), "id")
        .agg(F.countDistinct("label").alias("lab"), F.sum("qs").alias("relsum"))
    )
    mm = (
        labels.join(F.broadcast(mmr), "id")
        .agg(F.countDistinct("label").alias("lab"), F.sum("qs").alias("relsum"))
    )
    return (
        pl.crossJoin(F.broadcast(mm.select(F.col("lab").alias("m_lab"), F.col("relsum").alias("m_relsum"))))
        .select(
            F.lit(_MMR_K).alias("k"),
            F.col("lab").cast("long").alias("labels_plain"),
            F.col("m_lab").cast("long").alias("labels_mmr"),
            (F.col("relsum") - F.col("m_relsum")).cast("long").alias("relevance_cost_micro"),
        )
    )


# ------------------------------------------------- per-frame energy panel
@register(
    "m_frame_energy",
    oracle="""
WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
p AS (SELECT doc_id, text, n, GREATEST(1, n // 8) AS step FROM t WHERE n > 0),
f AS (SELECT doc_id, text, step,
             UNNEST(generate_series(0, CAST(LEAST(n, 8 * step) // step AS BIGINT) - 1))
               AS frame_index
      FROM p),
ix AS (SELECT doc_id, frame_index, step, text,
              UNNEST(generate_series(1, step)) AS j
       FROM f),
e AS (SELECT doc_id, frame_index, step,
             CAST(SUM(ascii(substring(text, CAST(frame_index * step + j AS INT), 1)))
                  AS BIGINT) AS energy,
             CAST(MAX(ascii(substring(text, CAST(frame_index * step + j AS INT), 1)))
                  AS INT) AS peak
      FROM ix GROUP BY 1, 2, 3)
SELECT doc_id, CAST(frame_index AS BIGINT) AS frame_index,
       CAST(step AS BIGINT) AS frame_len, energy, peak
FROM e
ORDER BY doc_id, frame_index
""",
    doc="per-frame signal features (the audio-RMS/loudness analog): "
    "payload -> decode_media (Arrow-batched mapInPandas, deterministic "
    "fake codec slicing equal byte windows) -> per-frame byte ENERGY "
    "(sum) and PEAK (max), computed as pure Catalyst higher-order "
    "aggregates over the frame bytes — after the decode explode, no "
    "Python touches the hot path.  The real-codec version swaps the "
    "decoder and computes RMS over PCM samples with the identical "
    "schema/batch shape.  The payloads are ASCII text bytes, so the "
    "oracle replays frame windows and byte sums arithmetically with "
    "substring/ascii.  Scale: decode is 1-to-8 rows per doc; the "
    "energy fold is per-row JVM compute with zero extra shuffle.",
)
def m_frame_energy(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, decode_media

    d = load_table(spark, sf, "documents")
    frames = decode_media(
        attach_binary_payload(d, "text", "payload"), frames_per_doc=8, use_fake=True
    )
    fs = F.col("frame").cast("string")
    return (
        frames.select(
            "doc_id",
            F.col("frame_index").cast("long").alias("frame_index"),
            F.octet_length("frame").cast("long").alias("frame_len"),
            fs.alias("fs"),
        )
        .select(
            "doc_id",
            "frame_index",
            "frame_len",
            F.expr(
                "aggregate(sequence(1, char_length(fs)), 0L,"
                " (acc, i) -> acc + ascii(substring(fs, i, 1)))"
            ).alias("energy"),
            F.expr(
                "aggregate(sequence(1, char_length(fs)), 0,"
                " (acc, i) -> greatest(acc, ascii(substring(fs, i, 1))))"
            ).alias("peak"),
        )
        .orderBy("doc_id", "frame_index")
    )


# --------------------------------------------- within-shard kNN graph
_KNN_GRAPH_K = 3


@register(
    "v_label_knn_graph",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
             ROUND(list_cosine_similarity(b.v, a.v), 6) AS cosine
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
t AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                   ORDER BY cosine DESC, dst_id) AS rk
      FROM p),
k AS (SELECT src_id, dst_id, cosine, rk FROM t WHERE rk <= {_KNN_GRAPH_K})
SELECT k.src_id, k.dst_id, k.cosine, CAST(k.rk AS INT) AS rank,
       m.src_id IS NOT NULL AS mutual
FROM k LEFT JOIN (SELECT src_id, dst_id FROM k) m
  ON m.src_id = k.dst_id AND m.dst_id = k.src_id
ORDER BY k.src_id, k.rk
""",
    doc="within-shard exact kNN graph with mutual-edge detection: top-3 "
    "cosine neighbors per vector among vectors sharing its label, plus "
    "the mutual flag (dst also ranks src in ITS top-3) — the "
    "mutual-kNN graph is the standard input to graph-based semantic "
    "dedup and agglomerative clustering.  Ranking uses the ROUNDED "
    "cosine + id tie-break for cross-engine determinism; the Spark "
    "pair join folds dot products in the same argument order as the "
    "oracle.  Scale: operators.similarity.mutual_knn_graph hash-splits "
    "each label shard into ceil(n/cap) blocks and joins on (label, "
    "src_block, dst_block), so no task compares more than cap x cap "
    "vectors even when shard size grows with the corpus (labels do — "
    "a label-keyed equi-join alone would make each shard a quadratic "
    "straggler at 100x); top-k is hierarchical (per (src, dst_block), "
    "then per src over block winners), which equals the global top-k "
    "exactly because a global winner must win its own block.",
)
def v_label_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import mutual_knn_graph

    emb = load_table(spark, sf, "embeddings")
    return mutual_knn_graph(
        emb, shard_col="label", id_col="vec_id", vec_col="embedding", k=_KNN_GRAPH_K
    ).orderBy("src_id", "rank")


# --------------------------------------------- payload compressibility
@register(
    "m_rle_profile",
    oracle="""
WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
           WHERE octet_length(encode(text)) > 0),
ix AS (SELECT doc_id, n, UNNEST(generate_series(1, n)) AS i, text FROM t),
b AS (SELECT doc_id, n, i, ascii(substring(text, CAST(i AS INT), 1)) AS byte,
             CASE WHEN i >= 2 AND ascii(substring(text, CAST(i AS INT), 1))
                       <> ascii(substring(text, CAST(i - 1 AS INT), 1))
                  THEN 1 ELSE 0 END AS flip
      FROM ix),
agg AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_bytes,
               CAST(COUNT(DISTINCT byte) AS BIGINT) AS distinct_bytes,
               CAST(1 + SUM(flip) AS BIGINT) AS rle_runs
        FROM b GROUP BY doc_id)
SELECT doc_id, n_bytes, distinct_bytes, rle_runs,
       FLOOR(CAST(rle_runs AS DOUBLE) / n_bytes * 1000000 + 0.5) / 1000000
         AS rle_ratio
FROM agg
ORDER BY doc_id
""",
    doc="payload compressibility profile: per binary payload, the byte "
    "count, distinct-byte alphabet size, run-length-encoding run count "
    "(1 + adjacent-byte flips) and the RLE compression ratio — the "
    "planning statistic a lakehouse writer needs to pick encodings "
    "(low distinct_bytes -> dictionary; low rle_ratio -> RLE) before "
    "committing a 100 TB layout, same family as x_zorder_layout / "
    "x_compaction_plan.  Computed as pure Catalyst higher-order folds "
    "over the payload bytes (zero Python, zero extra shuffle — "
    "per-row JVM compute at scan speed); the ASCII payloads let the "
    "oracle replay the byte walk with substring arithmetic.",
)
def m_rle_profile(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload

    d = attach_binary_payload(load_table(spark, sf, "documents"), "text", "payload")
    s = F.col("payload").cast("string")
    base = d.select("doc_id", s.alias("s")).where(F.length("s") > 0)
    # one O(n) char-array materialization per row; per-char substring()
    # folds would be O(n^2) on UTF8String (charAt walks the bytes) —
    # measured 10.5 s -> ~1 s at sf0.1 for this rewrite
    arr = base.select(
        "doc_id", F.split("s", "").alias("a"), F.length("s").cast("long").alias("n_bytes")
    )
    runs = F.expr(
        "1L + aggregate(zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),"
        " (x, y) -> IF(x <> y, 1L, 0L)), 0L, (acc, v) -> acc + v)"
    )
    prof = arr.select(
        "doc_id",
        "n_bytes",
        F.size(F.array_distinct("a")).cast("long").alias("distinct_bytes"),
        runs.alias("rle_runs"),
    )
    return prof.select(
        "doc_id",
        "n_bytes",
        "distinct_bytes",
        "rle_runs",
        (
            F.floor(F.col("rle_runs").cast("double") / F.col("n_bytes") * 1000000 + 0.5)
            / 1000000
        ).alias("rle_ratio"),
    ).orderBy("doc_id")


# ------------------------------------------------ in-engine PCA (power iteration)
_PCA_DIMS = 64
_PCA_SCALE = 1_048_576  # 2^20: quantized units keep the moment matrix integer
_PCA_ITERS = 6


def _pca_oracle() -> str:
    d = _PCA_DIMS
    it = []
    for t in range(1, _PCA_ITERS + 1):
        it.append(
            f"w{t} AS (SELECT m.i, list_sum(list_transform(range(1, {d + 1}),"
            f" k -> m.carr[k] * v.varr[k])) AS w"
            f" FROM mat m CROSS JOIN v{t - 1} v),\n"
            f"wp{t} AS (SELECT LIST(w ORDER BY i) AS warr FROM w{t}),\n"
            f"v{t} AS (SELECT list_transform(warr, x -> x /"
            f" sqrt(list_sum(list_transform(warr, y -> y * y)))) AS varr"
            f" FROM wp{t})"
        )
    iters = ",\n".join(it)
    return f"""
WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(floor(x * {_PCA_SCALE}.0 + 0.5) AS BIGINT)) AS q
           FROM embeddings),
n_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
cells AS (SELECT t1.i, t2.j, SUM(CAST(q[t1.i] AS HUGEINT) * q[t2.j]) AS s
          FROM e, range(1, {d + 1}) AS t1(i), range(1, {d + 1}) AS t2(j)
          WHERE t2.j >= t1.i GROUP BY t1.i, t2.j),
means AS (SELECT t.i, SUM(CAST(q[t.i] AS HUGEINT)) AS m
          FROM e, range(1, {d + 1}) AS t(i) GROUP BY t.i),
cn AS (SELECT c.i, c.j, CAST(n.n * c.s - mi.m * mj.m AS DOUBLE) AS c
       FROM cells c JOIN means mi ON mi.i = c.i JOIN means mj ON mj.i = c.j
       CROSS JOIN n_t n),
fullm AS (SELECT i, j, c FROM cn
          UNION ALL SELECT j AS i, i AS j, c FROM cn WHERE i < j),
mat AS (SELECT i, LIST(c ORDER BY j) AS carr FROM fullm GROUP BY i),
v0 AS (SELECT list_transform(range(1, {d + 1}), k -> 0.125) AS varr),
{iters},
lam AS (SELECT list_sum(list_transform(range(1, {d + 1}),
                k -> v.varr[k] * w.warr[k])) AS lam_raw
        FROM v{_PCA_ITERS - 1} v CROSS JOIN wp{_PCA_ITERS} w)
SELECT CAST(t.k - 1 AS BIGINT) AS dim,
       FLOOR(v.varr[t.k] * 1000000 + 0.5) / 1000000 AS loading,
       FLOOR(l.lam_raw / (CAST(n.n AS DOUBLE) * n.n * 1099511627776.0)
             * 10000 + 0.5) / 10000 AS eigenvalue
FROM v{_PCA_ITERS} v CROSS JOIN lam l CROSS JOIN n_t n,
     range(1, {d + 1}) AS t(k)
ORDER BY dim
"""


@register(
    "v_pca_power",
    oracle=_pca_oracle(),
    doc="in-engine PCA: dominant principal component of the embedding "
    "corpus by power iteration — distributed where it matters, exact "
    "where it must be.  Stage 1 quantizes to integer 2^-20 units and "
    "reduces the 64x64 second-moment matrix with ONE corpus pass "
    "(upper-triangle posexplode -> map-side-combined partial agg to "
    "2,080 cells; widened-integer sums, so the centered moment matrix "
    "n*S - m*m^T is EXACT and engine-identical down to the final "
    "decimal->double cast).  Stage 2 runs 6 power-iteration rounds as "
    "pure panel algebra on 64-row/1-row frames with every float fold "
    "in explicit written order (zip_with + left aggregate == DuckDB "
    "list_sum in list order), so both engines walk bit-identical IEEE "
    "trajectories — eigenvalue via the Rayleigh quotient at the last "
    "matvec.  BOUNDED-ROUND semantics (same contract as x_kcore/LPA): "
    "the report is the 6-round state, converging to lambda_max from "
    "below as rounds grow — the caller budgets rounds, the engine "
    "never loops to an unbounded fixpoint (tests/test_pca.py replays "
    "the rounds in numpy and pins the trajectory).  Scale: the corpus "
    "pass is O(rows x d^2/2) partial-agg'd "
    "shuffle to a CONSTANT 2,080 cells; iterations touch only d-sized "
    "panels (no corpus re-scan, no driver collect).  The deterministic "
    "all-positive start vector fixes the eigenvector sign.",
)
def v_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.pca import pca_dominant_component

    emb = load_table(spark, sf, "embeddings").select("embedding")
    return pca_dominant_component(
        spark, emb, "embedding", dims=_PCA_DIMS, scale=_PCA_SCALE, iters=_PCA_ITERS
    )


def _pca_project_oracle() -> str:
    d = _PCA_DIMS
    base = _pca_oracle()
    # reuse everything up to the final SELECT of the component query
    chain = base[: base.rindex("SELECT CAST(t.k - 1")].rstrip().rstrip(",")
    return f"""{chain},
scores AS (
  SELECT e2.vec_id,
         list_sum(list_transform(range(1, {d + 1}),
                  k -> CAST(n.n * e2.q[k] - mm.marr[k] AS DOUBLE) * v.varr[k]))
           / (CAST(n.n AS DOUBLE) * n.n * {_PCA_SCALE}.0) AS score
  FROM (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * {_PCA_SCALE}.0 + 0.5) AS BIGINT)) AS q
        FROM embeddings) e2
  CROSS JOIN (SELECT LIST(m ORDER BY i) AS marr FROM means) mm
  CROSS JOIN v{_PCA_ITERS} v CROSS JOIN n_t n)
SELECT vec_id, FLOOR(score * 1000000 + 0.5) / 1000000 AS score,
       CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(score) DESC, vec_id) AS rk
      FROM scores)
WHERE rk <= 10
ORDER BY rank
"""


@register(
    "v_pca_project",
    oracle=_pca_project_oracle(),
    doc="PCA projection + extremes: every embedding's CENTERED score "
    "along v_pca_power's dominant component, top-10 by |score| — the "
    "one-dimensional reduction that surfaces the corpus' most extreme "
    "members along its main axis of variation (the cheap first look "
    "before v_centroid_outliers' per-cluster view).  Centering stays "
    "exact: score folds (n*x_q - m) — integers — against the component "
    "in written order, one mirrored display division at the end.  "
    "Scale: the component comes from the same constant-size panel "
    "iteration; scoring is ONE corpus scan against a broadcast "
    "(component, means, n) panel; the cut is a distributed "
    "TakeOrdered, never a global window over the corpus.",
)
def v_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.pca import pca_projection_scores

    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    scores = pca_projection_scores(
        spark, emb, "vec_id", "embedding", dims=_PCA_DIMS, scale=_PCA_SCALE, iters=_PCA_ITERS
    )
    top = scores.orderBy(F.abs(F.col("score")).desc(), F.col("vec_id")).limit(10)
    w10 = Window.orderBy(F.abs(F.col("score")).desc(), F.col("vec_id"))
    return (
        top.withColumn("rank", F.row_number().over(w10))
        .select(
            "vec_id",
            (F.floor(F.col("score") * 1000000 + 0.5) / 1000000).alias("score"),
            "rank",
        )
        .orderBy("rank")
    )


# --------------------------------------------------- 2-D tile energies
@register(
    "m_tile_energy",
    oracle="""
WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
           WHERE octet_length(encode(text)) > 0),
h AS (SELECT doc_id, text, n, (n + 31) // 32 AS rows FROM t),
ix AS (SELECT doc_id, text, n, rows, UNNEST(generate_series(0, n - 1)) AS p FROM h),
cell AS (SELECT doc_id,
                LEAST(3, (p // 32) * 4 // rows) * 4 + LEAST(3, (p % 32) // 8)
                  AS tile_id,
                ascii(substring(text, CAST(p + 1 AS INT), 1)) AS byte
         FROM ix)
SELECT doc_id, CAST(tile_id AS BIGINT) AS tile_id,
       CAST(COUNT(*) AS BIGINT) AS n_bytes,
       CAST(SUM(byte) AS BIGINT) AS energy,
       CAST(MAX(byte) AS INT) AS peak
FROM cell
GROUP BY doc_id, tile_id
ORDER BY doc_id, tile_id
""",
    doc="2-D tile feature extraction (the image-patch analog of "
    "m_frame_energy's 1-D frames): the payload is interpreted as a "
    "32-byte-wide row-major grid, partitioned into a 4x4 tile lattice "
    "(integer index arithmetic only — tile = (row*4//H, col//8)), and "
    "each tile reports byte count, energy and peak — the patchify "
    "step a ViT-style preprocessor runs, with the real decoder swapped "
    "in over the identical explode/groupBy shape.  Spark materializes "
    "the char array ONCE per row (split) and posexplodes it, so byte "
    "access is O(1) per position — never per-position substring "
    "(O(n^2) on UTF8String).  Scale: one 1-to-n explode into a "
    "map-side-combined (doc, tile) rollup; 16 rows max per doc.",
)
def m_tile_energy(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload

    d = attach_binary_payload(load_table(spark, sf, "documents"), "text", "payload")
    base = (
        d.select("doc_id", F.col("payload").cast("string").alias("s"))
        .where(F.length("s") > 0)
        .select(
            "doc_id",
            F.split("s", "").alias("arr"),
            F.floor((F.length("s") + 31) / 32).alias("rows"),
        )
    )
    cell = base.select(
        "doc_id", "rows", F.posexplode("arr").alias("p", "ch")
    ).select(
        "doc_id",
        (
            F.least(F.lit(3).cast("long"), F.expr("(p div 32) * 4 div rows")) * 4
            + F.least(F.lit(3).cast("long"), F.expr("(p % 32) div 8"))
        ).alias("tile_id"),
        F.ascii("ch").alias("byte"),
    )
    return (
        cell.groupBy("doc_id", "tile_id")
        .agg(
            F.count("*").alias("n_bytes"),
            F.sum("byte").cast("long").alias("energy"),
            F.max("byte").cast("int").alias("peak"),
        )
        .orderBy("doc_id", "tile_id")
    )


# ----------------------------------------- embedding separation audit
@register(
    "v_embedding_separation",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
intra AS (
  SELECT a.label,
         CAST(COUNT(*) AS BIGINT) AS n_intra,
         CAST(SUM(CAST(FLOOR(ROUND(list_cosine_similarity(b.v, a.v), 6) * 1000000
                             + 0.5) AS BIGINT)) AS BIGINT) AS s_intra
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  GROUP BY a.label),
rk AS (SELECT vec_id, label, v,
              ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS r
       FROM e),
inter AS (
  SELECT a.label,
         CAST(COUNT(*) AS BIGINT) AS n_inter,
         CAST(SUM(CAST(FLOOR(ROUND(list_cosine_similarity(b.v, a.v), 6) * 1000000
                             + 0.5) AS BIGINT)) AS BIGINT) AS s_inter
  FROM rk a JOIN rk b ON b.label = (a.label + 1) % 10 AND b.r = a.r
  GROUP BY a.label)
SELECT i.label, i.n_intra,
       FLOOR(CAST(i.s_intra AS DOUBLE) / i.n_intra + 0.5) / 1000000
         AS avg_intra_cos,
       x.n_inter,
       FLOOR(CAST(x.s_inter AS DOUBLE) / x.n_inter + 0.5) / 1000000
         AS avg_inter_cos,
       FLOOR((CAST(i.s_intra AS DOUBLE) / i.n_intra
              - CAST(x.s_inter AS DOUBLE) / x.n_inter) + 0.5) / 1000000
         AS separation
FROM intra i JOIN inter x ON x.label = i.label
ORDER BY i.label
""",
    doc="embedding-space separation audit: per label, the average cosine "
    "among same-label pairs (exact within the bounded label shards — "
    "the SemDeDup cluster contract) versus a deterministic rank-matched "
    "pairing into the NEXT label (each vector meets exactly ONE "
    "cross-label partner, so the inter estimate is O(n), never the "
    "inter-label pair square), and the gap — the go/no-go metric for "
    "whether an embedding model separates classes well enough for "
    "label-blocked dedup and kNN graphs to be trustworthy.  "
    "Determinism: every cosine is rounded to millionths and QUANTIZED "
    "TO INTEGER micro-units before summation, so group sums are exact "
    "integers on both engines regardless of aggregation order; the "
    "three displayed means are mirrored single divisions.  Scale: one "
    "label-keyed self-join over bounded shards, one label-partitioned "
    "rank window, one rank-equi join.",
)
def v_embedding_separation(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf, "embeddings").select("vec_id", "label", "embedding")
    a = emb.select("label", F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select("label", F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    cos_q = lambda vb, va: F.floor(  # noqa: E731
        F.round(cosine_similarity(vb, va), 6) * 1000000 + 0.5
    ).cast("long")
    intra = (
        a.join(b, "label")
        .where(F.col("ia") < F.col("ib"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_intra"),
            F.sum(cos_q(F.col("vb"), F.col("va"))).alias("s_intra"),
        )
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    rk = emb.withColumn("r", F.row_number().over(w)).localCheckpoint()
    ra = rk.select("label", "r", F.col("embedding").alias("va"))
    rb = rk.select(
        F.col("label").alias("lb"), F.col("r").alias("rb"), F.col("embedding").alias("vb")
    )
    inter = (
        ra.join(
            rb,
            (F.col("lb") == (F.col("label") + 1) % 10) & (F.col("rb") == F.col("r")),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_inter"),
            F.sum(cos_q(F.col("vb"), F.col("va"))).alias("s_inter"),
        )
    )
    mean_i = F.col("s_intra").cast("double") / F.col("n_intra")
    mean_x = F.col("s_inter").cast("double") / F.col("n_inter")
    return (
        intra.join(inter, "label")
        .select(
            "label",
            "n_intra",
            (F.floor(mean_i + 0.5) / 1000000).alias("avg_intra_cos"),
            "n_inter",
            (F.floor(mean_x + 0.5) / 1000000).alias("avg_inter_cos"),
            (F.floor(mean_i - mean_x + 0.5) / 1000000).alias("separation"),
        )
        .orderBy("label")
    )


# --------------------------------------------- perceptual-hash near-dup
def _dhash_bits_sql(g) -> str:
    """24-bit dHash from a 4x4 tile-mean grid: 12 horizontal + 12 vertical
    gradient sign bits.  ``g(i)`` renders the SQL for tile i's mean (row-
    major, 0-based); the generated CASE chain is shared verbatim in shape
    by the Spark plan and the DuckDB oracle."""
    terms = []
    kbit = 0
    for r in range(4):
        for c in range(3):
            terms.append(
                f"CASE WHEN {g(r * 4 + c)} > {g(r * 4 + c + 1)}"
                f" THEN {1 << kbit} ELSE 0 END"
            )
            kbit += 1
    for c in range(4):
        for r in range(3):
            terms.append(
                f"CASE WHEN {g(r * 4 + c)} > {g((r + 1) * 4 + c)}"
                f" THEN {1 << kbit} ELSE 0 END"
            )
            kbit += 1
    return " + ".join(terms)


_DHASH_MAX_HAMMING = 2


@register(
    "m_dhash_neardup",
    oracle=f"""
WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
           WHERE octet_length(encode(text)) > 0),
h AS (SELECT doc_id, text, n, (n + 31) // 32 AS rows FROM t),
ix AS (SELECT doc_id, text, n, rows, UNNEST(generate_series(0, n - 1)) AS p FROM h),
cell AS (SELECT doc_id,
                LEAST(3, (p // 32) * 4 // rows) * 4 + LEAST(3, (p % 32) // 8)
                  AS tile_id,
                ascii(substring(text, CAST(p + 1 AS INT), 1)) AS byte
         FROM ix),
tile AS (SELECT doc_id, tile_id,
                (CAST(SUM(byte) AS BIGINT) * 1000000) // COUNT(*) AS avgm
         FROM cell GROUP BY doc_id, tile_id),
grid AS (SELECT d.doc_id, k.tile_id, COALESCE(tl.avgm, 0) AS avgm
         FROM (SELECT DISTINCT doc_id FROM tile) d
         CROSS JOIN (SELECT UNNEST(generate_series(0, 15)) AS tile_id) k
         LEFT JOIN tile tl ON tl.doc_id = d.doc_id AND tl.tile_id = k.tile_id),
arr AS (SELECT doc_id, LIST(avgm ORDER BY tile_id) AS a FROM grid GROUP BY doc_id),
sig AS (SELECT doc_id,
               CAST({_dhash_bits_sql(lambda i: f"a[{i + 1}]")} AS BIGINT) AS dh
        FROM arr),
p AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
             CAST(({" + ".join(f"CASE WHEN ((x.dh >> {b}) & 1) <> ((y.dh >> {b}) & 1) THEN 1 ELSE 0 END" for b in range(24))}) AS INT)
               AS hamming
      FROM sig x JOIN sig y ON x.doc_id < y.doc_id)
SELECT id_a, id_b, hamming
FROM p WHERE hamming <= {_DHASH_MAX_HAMMING}
ORDER BY id_a, id_b
""",
    doc="perceptual-hash payload near-dup (dHash, the standard image "
    "near-dup technique): the payload's 4x4 tile-mean grid (the "
    "m_tile_energy lattice; integer micro-unit means, so both engines "
    "agree exactly) is reduced to a 24-bit gradient-sign fingerprint "
    "— 12 horizontal + 12 vertical brightness-gradient bits, the "
    "standard dHash construction — and pairs within Hamming distance "
    f"{_DHASH_MAX_HAMMING} are reported.  A real image pipeline swaps "
    "the fake decode for a decoder + downscale and keeps the IDENTICAL "
    "grid/hash/banding plan.  Scale: candidates come from a "
    "(max_hamming+1)-block pigeonhole equi-join on 8-bit signature "
    "blocks — the simhash_pairs shape, O(docs x blocks) shuffle, never "
    "all-pairs (the oracle's quadratic join is the REPLAY, not the "
    "plan) — then exact bit_count(xor) verification.",
)
def m_dhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload

    d = attach_binary_payload(load_table(spark, sf, "documents"), "text", "payload")
    base = (
        d.select("doc_id", F.col("payload").cast("string").alias("s"))
        .where(F.length("s") > 0)
        .select(
            "doc_id",
            F.split("s", "").alias("arr"),
            F.floor((F.length("s") + 31) / 32).alias("rows"),
        )
    )
    cell = base.select("doc_id", "rows", F.posexplode("arr").alias("p", "ch")).select(
        "doc_id",
        (
            F.least(F.lit(3).cast("long"), F.expr("(p div 32) * 4 div rows")) * 4
            + F.least(F.lit(3).cast("long"), F.expr("(p % 32) div 8"))
        ).alias("tile_id"),
        F.ascii("ch").alias("byte"),
    )
    tile = (
        cell.groupBy("doc_id", "tile_id")
        .agg(F.sum("byte").cast("long").alias("e"), F.count("*").alias("n"))
        .select("doc_id", "tile_id", F.expr("(e * 1000000) div n").alias("avgm"))
    )
    mp = tile.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("tile_id", "avgm"))).alias("mp")
    )
    dh_sql = _dhash_bits_sql(lambda i: f"coalesce(element_at(mp, CAST({i} AS BIGINT)), 0L)")
    sig = mp.select("doc_id", F.expr(f"CAST({dh_sql} AS BIGINT)").alias("dh"))
    # pigeonhole banding: 3 x 8-bit blocks; hamming <= 2 guarantees >= 1
    # exact block match, so candidates ride an equi-join, never all-pairs
    blocks = _DHASH_MAX_HAMMING + 1
    block_rows = sig.select(
        "doc_id",
        "dh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("dh"), i * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("bv"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "dh", "b.blk", "b.bv")
    left = block_rows.select(
        F.col("doc_id").alias("id_a"), F.col("dh").alias("ha"), "blk", "bv"
    )
    right = block_rows.select(
        F.col("doc_id").alias("id_b"), F.col("dh").alias("hb"), "blk", "bv"
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    return (
        left.join(right, ["blk", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= _DHASH_MAX_HAMMING)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------- Goertzel tone detection
_GOERTZEL_C = repr(2.0 * 0.7071067811865476)  # 2cos(2*pi*4/32) = sqrt(2), exact IEEE


@register(
    "m_goertzel_tone",
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
  WHERE octet_length(encode(text)) > 0),
f AS (SELECT doc_id, n,
             UNNEST(generate_series(0, (n + 31) // 32 - 1)) AS frame_index,
             text
      FROM t),
fr AS (SELECT doc_id, frame_index,
              substring(text, CAST(frame_index * 32 + 1 AS INT), 32) AS fs,
              LEAST(32, n - frame_index * 32) AS fl
       FROM f),
step AS (
  SELECT doc_id, frame_index, fl, fs, 0 AS j,
         CAST(0 AS DOUBLE) AS s1, CAST(0 AS DOUBLE) AS s2
  FROM fr
  UNION ALL
  SELECT doc_id, frame_index, fl, fs, j + 1,
         (CASE WHEN j + 1 <= fl
               THEN CAST(ascii(substring(fs, CAST(j + 1 AS INT), 1)) AS DOUBLE) - 64
               ELSE 0.0 END) + {_GOERTZEL_C} * s1 - s2,
         s1
  FROM step WHERE j < 32)
SELECT doc_id, CAST(frame_index AS BIGINT) AS frame_index,
       CAST(fl AS BIGINT) AS n_samples,
       FLOOR((s1 * s1 + s2 * s2 - {_GOERTZEL_C} * s1 * s2) * 1000 + 0.5) / 1000
         AS tone_power
FROM step WHERE j = 32
ORDER BY doc_id, frame_index
""",
    doc="Goertzel single-bin tone energy per 32-byte frame (the DSP "
    "primitive behind DTMF/pilot-tone detection and cheap band "
    "features — what an audio pipeline runs when a full FFT is "
    "overkill): bytes center to x = byte - 64, and the classic "
    "second-order recurrence s[n] = x[n] + 2cos(w)s[n-1] - s[n-2] "
    "folds over each frame with the detection bin pinned at k=4 of "
    "N=32 so the coefficient is EXACTLY sqrt(2) — no cos() libm call "
    "on either engine — and short tail frames zero-pad to the fixed "
    "32 steps so both engines walk the identical 32-step IEEE "
    "trajectory (Spark: one sequential aggregate() fold per frame; "
    "oracle: the same 32 steps as a recursive-CTE replay — an "
    "unrolled alias chain would blow up exponentially under alias "
    "substitution).  "
    "The real-audio version swaps byte windows for PCM samples over "
    "the identical frame/fold shape.  Scale: one 1-to-ceil(n/32) "
    "frame explode, then per-row JVM arithmetic — zero extra "
    "shuffles beyond the final presentation sort.",
)
def m_goertzel_tone(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload

    d = attach_binary_payload(load_table(spark, sf, "documents"), "text", "payload")
    base = (
        d.select("doc_id", F.col("payload").cast("string").alias("s"))
        .where(F.length("s") > 0)
        .select(
            "doc_id",
            "s",
            F.length("s").alias("n"),
            F.explode(
                F.sequence(F.lit(0), F.ceil(F.length("s") / 32).cast("long") - 1)
            ).alias("frame_index"),
        )
    )
    fr = base.select(
        "doc_id",
        "frame_index",
        F.expr("substring(s, CAST(frame_index * 32 + 1 AS INT), 32)").alias("fs"),
        F.least(F.lit(32).cast("long"), F.col("n") - F.col("frame_index") * 32).alias(
            "fl"
        ),
    )
    xs = (
        "transform(sequence(1, 32), j -> CASE WHEN j <= fl"
        " THEN CAST(ascii(substring(fs, j, 1)) AS DOUBLE) - 64 ELSE 0.0D END)"
    )
    fold = (
        f"aggregate({xs}, struct(CAST(0.0 AS DOUBLE) AS s1, CAST(0.0 AS DOUBLE) AS s2),"
        f" (acc, x) -> struct(x + {_GOERTZEL_C}D * acc.s1 - acc.s2, acc.s1))"
    )
    power = (
        f"FLOOR((__g.s1 * __g.s1 + __g.s2 * __g.s2 - {_GOERTZEL_C}D * __g.s1 * __g.s2)"
        " * 1000 + 0.5) / 1000"
    )
    return (
        fr.withColumn("__g", F.expr(fold))
        .select(
            "doc_id",
            F.col("frame_index").cast("long").alias("frame_index"),
            F.col("fl").cast("long").alias("n_samples"),
            F.expr(power).alias("tone_power"),
        )
        .orderBy("doc_id", "frame_index")
    )


# --------------------------------------------- embedding distribution drift
_DRIFT_SCALE = 1_000_000  # micro-unit quantization -> exact integer moments


@register(
    "v_embedding_drift",
    oracle=f"""
WITH e AS (
  SELECT vec_id, vec_id % 2 = 0 AS ref,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {_DRIFT_SCALE} + 0.5) AS BIGINT)) AS v
  FROM embeddings),
ex AS (SELECT vec_id, ref, unnest(v) AS x,
              unnest(generate_series(1, len(v))) AS dim FROM e),
m AS (SELECT dim,
             CAST(SUM(CASE WHEN ref THEN x ELSE 0 END) AS BIGINT) AS sx_ref,
             CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             SUM(CASE WHEN ref THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxx_ref,
             CAST(SUM(CASE WHEN ref THEN 0 ELSE x END) AS BIGINT) AS sx_cur,
             CAST(SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
      FROM ex GROUP BY dim),
z AS (SELECT dim, n_ref, n_cur,
             sx_ref * 1.0 / n_ref / {_DRIFT_SCALE} AS mean_ref,
             sx_cur * 1.0 / n_cur / {_DRIFT_SCALE} AS mean_cur,
             sqrt(GREATEST(CAST(sxx_ref AS DOUBLE) / n_ref
                           - (sx_ref * 1.0 / n_ref) * (sx_ref * 1.0 / n_ref),
                           0.0)) / {_DRIFT_SCALE} AS sd_ref
      FROM m)
SELECT CAST(dim AS INT) AS dim, n_ref, n_cur,
       FLOOR(mean_ref * 1000000 + 0.5) / 1000000 AS mean_ref,
       FLOOR(mean_cur * 1000000 + 0.5) / 1000000 AS mean_cur,
       FLOOR((mean_cur - mean_ref) / (CASE WHEN sd_ref > 0 THEN sd_ref ELSE 1.0 END)
             * 1000000 + 0.5) / 1000000 AS z_shift
FROM z
ORDER BY dim
""",
    doc="per-dimension embedding drift monitor: split the corpus into a "
    "reference and a current half (vec_id parity — in production, "
    "yesterday's snapshot vs today's), and report each dimension's "
    "mean under both plus the standardized mean shift "
    "(mean_cur - mean_ref)/sd_ref — the embedding-space analog of "
    "q_psi_drift's scalar-feature monitor, catching encoder or corpus "
    "regressions before they silently rot a vector index.  "
    "Determinism: components quantize to micro-unit BIGINTs up front "
    "(the v_kmeans_step discipline), so every per-dim sum and "
    "sum-of-squares is an exact integer on both engines; means, one "
    "sqrt and one division happen once per dim at the end.  Scale: one "
    "posexplode scan partial-aggregated straight to 64 (dim) cells — "
    "state is three integers per dimension, no window, no join, no "
    "second pass over the corpus.",
)
def v_embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    ex = emb.select(
        (F.col("vec_id") % 2 == 0).alias("ref"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "xd"),
    ).select(
        "ref",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("xd") * _DRIFT_SCALE + 0.5).cast("long").alias("x"),
    )
    m = ex.groupBy("dim").agg(
        F.sum(F.when(F.col("ref"), F.col("x")).otherwise(0)).cast("long").alias("sx_ref"),
        F.sum(F.when(F.col("ref"), 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(
            F.when(F.col("ref"), F.col("x").cast("decimal(38,0)") * F.col("x")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("sxx_ref"),
        F.sum(F.when(F.col("ref"), 0).otherwise(F.col("x"))).cast("long").alias("sx_cur"),
        F.sum(F.when(F.col("ref"), 0).otherwise(1)).cast("long").alias("n_cur"),
    )
    mean_ref = F.col("sx_ref") * 1.0 / F.col("n_ref") / _DRIFT_SCALE
    mean_cur = F.col("sx_cur") * 1.0 / F.col("n_cur") / _DRIFT_SCALE
    sd_ref = (
        F.sqrt(
            F.greatest(
                F.col("sxx_ref").cast("double") / F.col("n_ref")
                - (F.col("sx_ref") * 1.0 / F.col("n_ref"))
                * (F.col("sx_ref") * 1.0 / F.col("n_ref")),
                F.lit(0.0),
            )
        )
        / _DRIFT_SCALE
    )
    return m.select(
        F.col("dim").cast("int").alias("dim"),
        "n_ref",
        "n_cur",
        (F.floor(mean_ref * 1000000 + 0.5) / 1000000).alias("mean_ref"),
        (F.floor(mean_cur * 1000000 + 0.5) / 1000000).alias("mean_cur"),
        (
            F.floor(
                (mean_cur - mean_ref)
                / F.when(sd_ref > 0, sd_ref).otherwise(F.lit(1.0))
                * 1000000
                + 0.5
            )
            / 1000000
        ).alias("z_shift"),
    ).orderBy("dim")


# --------------------------------------------- energy-threshold VAD islands
_VAD_MEAN_BYTE = 100  # active frame: mean byte value > 100 (exact integers)


@register(
    "m_vad_segments",
    oracle=f"""
WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
p AS (SELECT doc_id, text, n, GREATEST(1, n // 8) AS step FROM t WHERE n > 0),
f AS (SELECT doc_id, text, step,
             UNNEST(generate_series(0, CAST(LEAST(n, 8 * step) // step AS BIGINT) - 1))
               AS frame_index
      FROM p),
ix AS (SELECT doc_id, frame_index, step, text,
              UNNEST(generate_series(1, step)) AS j
       FROM f),
e AS (SELECT doc_id, frame_index, CAST(step AS BIGINT) AS frame_len,
             CAST(SUM(ascii(substring(text, CAST(frame_index * step + j AS INT), 1)))
                  AS BIGINT) AS energy
      FROM ix GROUP BY 1, 2, 3),
act AS (SELECT *, frame_index - ROW_NUMBER() OVER (PARTITION BY doc_id
                                                   ORDER BY frame_index) AS grp
        FROM e WHERE energy > {_VAD_MEAN_BYTE} * frame_len)
SELECT doc_id,
       CAST(MIN(frame_index) AS BIGINT) AS seg_start,
       CAST(MAX(frame_index) AS BIGINT) AS seg_end,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(energy) AS BIGINT) AS energy_sum
FROM act GROUP BY doc_id, grp
ORDER BY doc_id, seg_start
""",
    doc="voice-activity-detection segments (the classic energy-gate VAD, "
    "e.g. the G.729B/webrtc-vad shape): decode payloads to frames "
    "(deterministic fake codec — equal byte windows via the SAME "
    "Arrow-batched mapInPandas plumbing as m_frame_energy), gate each "
    "frame on exact integer energy (> mean-byte threshold x frame_len, "
    "no float RMS needed for the gate), then stitch consecutive active "
    "frames into segments with the gaps-and-islands idiom "
    "(frame_index - row_number over a doc-partitioned window).  "
    "PRECONDITION (pinned, both engines): payloads are ASCII — the "
    "energy sum is character-indexed ascii() while the frame gate "
    "uses byte length, and the two indexings only coincide for "
    "single-byte text (the generated corpus is ASCII; the oracle "
    "below makes the same assumption, so parity is by construction). "
    "The real-codec version swaps the decoder, gates on PCM RMS over "
    "raw bytes with the identical schema and island logic, and has "
    "no such aliasing.  Scale: decode is 1-to-8 "
    "rows per doc, the island window is partitioned per doc (<=8 rows "
    "per partition — never global), and the segment rollup is one "
    "partial-agg'd groupBy.",
)
def m_vad_segments(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, decode_media

    d = load_table(spark, sf, "documents")
    frames = decode_media(
        attach_binary_payload(d, "text", "payload"), frames_per_doc=8, use_fake=True
    )
    e = frames.select(
        "doc_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.octet_length("frame").cast("long").alias("frame_len"),
        F.expr(
            "aggregate(sequence(1, char_length(cast(frame as string))), 0L,"
            " (acc, i) -> acc + ascii(substring(cast(frame as string), i, 1)))"
        ).alias("energy"),
    )
    act = e.where(F.col("energy") > _VAD_MEAN_BYTE * F.col("frame_len")).withColumn(
        "grp",
        F.col("frame_index")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("frame_index")),
    )
    return (
        act.groupBy("doc_id", "grp")
        .agg(
            F.min("frame_index").alias("seg_start"),
            F.max("frame_index").alias("seg_end"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("energy").cast("long").alias("energy_sum"),
        )
        .select("doc_id", "seg_start", "seg_end", "n_frames", "energy_sum")
        .orderBy("doc_id", "seg_start")
    )


# --------------------------------------------- centroid silhouette score
_SIL_SCALE = 1_000_000  # micro-unit quantization -> exact integer geometry


@register(
    "v_silhouette",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {_SIL_SCALE} + 0.5) AS BIGINT)) AS v
  FROM embeddings),
ex AS (SELECT vec_id, label, unnest(v) AS x,
              unnest(generate_series(1, len(v))) AS pos FROM e),
sums AS (SELECT label AS lb, pos, CAST(SUM(x) AS BIGINT) AS s,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM ex GROUP BY label, pos),
d2 AS (SELECT ex.vec_id, ex.label, sums.lb, MAX(sums.n) AS n_lb,
              SUM(CAST(sums.n * ex.x - sums.s AS HUGEINT)
                  * (sums.n * ex.x - sums.s)) AS dd
       FROM ex JOIN sums ON ex.pos = sums.pos
       GROUP BY ex.vec_id, ex.label, sums.lb),
dist AS (SELECT vec_id, label, lb,
                SQRT(CAST(dd AS DOUBLE)) / n_lb AS d
         FROM d2),
ab AS (SELECT vec_id, label,
              MAX(CASE WHEN lb = label THEN d END) AS a,
              MIN(CASE WHEN lb <> label THEN d END) AS b
       FROM dist GROUP BY vec_id, label),
s AS (SELECT vec_id, label,
             CAST(FLOOR((b - a) / GREATEST(a, b) * 1000000 + 0.5) AS BIGINT)
               AS s_micro
      FROM ab)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       FLOOR(SUM(s_micro) * 1.0 / COUNT(*) + 0.5) / 1000000 AS mean_silhouette
FROM s GROUP BY label ORDER BY label
""",
    doc="simplified (centroid) silhouette score per label (Rousseeuw "
    "1987; the medoid-free variant every clustering dashboard ships): "
    "a = distance to the OWN label centroid, b = distance to the "
    "nearest OTHER centroid, s = (b-a)/max(a,b), averaged per label — "
    "the normalized [-1,1] companion to v_embedding_separation's raw "
    "intra/inter gap and v_cluster_nmi's label agreement.  Exactness: "
    "components quantize to micro-unit BIGINTs; the point-to-centroid "
    "distance is computed n_c-SCALED (sum((n_c*x - S)^2), HUGEINT/"
    "decimal — the centroid mean is never a float mid-plan), b is a "
    "MIN over doubles (order-free), and per-point s quantizes to "
    "micro-units before the per-label mean so aggregation order "
    "cannot move it.  Full silhouette is O(n^2); the centroid form is "
    "O(n * dims * k) — the one that scales.  Scale: the k x dims "
    "centroid panel broadcasts against the skinny exploded stream; "
    "every groupBy is partial-agg'd.",
)
def v_silhouette(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _SIL_SCALE + 0.5).cast("long"),
        ).alias("v"),
    )
    ex = e.select("vec_id", "label", F.posexplode("v").alias("pos", "x"))
    sums = ex.groupBy(F.col("label").alias("lb"), "pos").agg(
        F.sum("x").cast("long").alias("s"), F.count(F.lit(1)).alias("n")
    )
    diff = (F.col("n") * F.col("x") - F.col("s")).cast("decimal(38,0)")
    d2 = (
        ex.join(F.broadcast(sums), "pos")
        .groupBy("vec_id", "label", "lb")
        .agg(F.max("n").alias("n_lb"), F.sum(diff * diff).alias("dd"))
    )
    dist = d2.select(
        "vec_id",
        "label",
        "lb",
        (F.sqrt(F.col("dd").cast("double")) / F.col("n_lb")).alias("d"),
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("lb") == F.col("label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("lb") != F.col("label"), F.col("d"))).alias("b"),
    )
    s = ab.select(
        "label",
        F.floor(
            (F.col("b") - F.col("a")) / F.greatest("a", "b") * 1000000 + 0.5
        )
        .cast("long")
        .alias("s_micro"),
    )
    return (
        s.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("s_micro").alias("sm"))
        .select(
            "label",
            "n_vecs",
            (F.floor(F.col("sm") * 1.0 / F.col("n_vecs") + 0.5) / 1000000).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )


# ------------------------------------------ autocorrelation pitch detection
_PITCH_MIN_LAG, _PITCH_MAX_LAG = 2, 12
_PITCH_MIN_LEN = 24  # need n > 2 * max_lag for a meaningful peak


@register(
    "m_pitch_autocorr",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE length(text) >= {_PITCH_MIN_LEN}),
ex AS (SELECT doc_id, n, UNNEST(generate_series(1, n)) AS i, text FROM t),
b AS (SELECT doc_id, n, i, ascii(substring(text, CAST(i AS INT), 1)) AS x
      FROM ex),
r0 AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
              CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS r_zero
       FROM b GROUP BY doc_id),
lags AS (SELECT UNNEST(generate_series({_PITCH_MIN_LAG}, {_PITCH_MAX_LAG}))
           AS lag),
rl AS (SELECT a.doc_id, l.lag,
              CAST(SUM(CAST(a.x AS BIGINT) * c.x) AS BIGINT) AS r
       FROM b a JOIN lags l ON TRUE
                JOIN b c ON c.doc_id = a.doc_id AND c.i = a.i + l.lag
       GROUP BY a.doc_id, l.lag),
best AS (SELECT doc_id, lag, r FROM (
           SELECT doc_id, lag, r,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY r DESC, lag) AS rk
           FROM rl) __r WHERE rk = 1)
SELECT r0.doc_id AS doc_id, r0.n_samples,
       CAST(best.lag AS BIGINT) AS best_lag, best.r AS r_best,
       FLOOR(CAST(best.r AS DOUBLE) / r0.r_zero * 1000000 + 0.5) / 1000000
         AS acf_peak
FROM r0 JOIN best ON r0.doc_id = best.doc_id
ORDER BY r0.doc_id
""",
    doc="autocorrelation pitch detection per payload (the classic "
    "time-domain F0 estimator — what a speech pipeline runs before "
    "anything spectral; complements m_goertzel_tone's single-bin "
    "energy): R(lag) = sum(x_i * x_(i+lag)) over byte samples for lags "
    f"{_PITCH_MIN_LAG}..{_PITCH_MAX_LAG}, the arg-max lag IS the "
    "dominant period, reported with its normalized peak R(best)/R(0). "
    "PRECONDITION (pinned, both engines): payloads are ASCII — byte "
    "samples read through character-indexed ascii(), same as "
    "m_vad_segments; the real-codec version swaps PCM samples over "
    "the identical lag machinery.  Exactness: every R is an exact "
    "int64 (bytes <= 127, products bounded), the arg-max tie-breaks "
    "to the smallest lag, and only the final normalization divides.  "
    "Two-formulation proof: Spark folds the lag sums INSIDE one "
    "let-bound per-row expression (zero joins, zero extra shuffles — "
    "embarrassingly parallel); the oracle builds the same sums "
    "relationally via a positional self-join.  Scale: per-row JVM "
    "arithmetic, O(n_bytes x n_lags) per document, nothing global but "
    "the presentation sort.",
)
def m_pitch_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import _bind

    d = (
        load_table(spark, sf, "documents")
        .where(F.length("text") >= _PITCH_MIN_LEN)
        .select("doc_id", F.col("text").alias("s"), F.length("text").alias("n"))
    )
    bytes_arr = F.expr(
        "transform(sequence(1, char_length(s)), i -> ascii(substring(s, i, 1)))"
    )

    def per_doc(bs):
        r_zero = F.aggregate(
            F.transform(bs, lambda x: x.cast("long") * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        lag_sums = F.transform(
            F.sequence(F.lit(_PITCH_MIN_LAG), F.lit(_PITCH_MAX_LAG)),
            lambda lag: F.struct(
                lag.cast("long").alias("lag"),
                F.aggregate(
                    F.sequence(F.lit(1), F.size(bs) - lag),
                    F.lit(0).cast("long"),
                    lambda acc, i: acc
                    + F.element_at(bs, i).cast("long")
                    * F.element_at(bs, (i + lag).cast("int")),
                ).alias("r"),
            ),
        )
        # arg-max fold: highest r, ties to the SMALLEST lag (array order)
        best = F.aggregate(
            lag_sums,
            F.struct(
                F.lit(-1).cast("long").alias("lag"), F.lit(-1).cast("long").alias("r")
            ),
            lambda acc, x: F.when(x["r"] > acc["r"], x).otherwise(acc),
        )
        return F.struct(r_zero.alias("r_zero"), best.alias("best"))

    out = d.select(
        "doc_id",
        F.col("n").alias("n_samples"),
        _bind(bytes_arr, per_doc).alias("p"),
    )
    return out.select(
        "doc_id",
        "n_samples",
        F.col("p.best.lag").alias("best_lag"),
        F.col("p.best.r").alias("r_best"),
        (
            F.floor(
                F.col("p.best.r").cast("double") / F.col("p.r_zero") * 1000000 + 0.5
            )
            / 1000000
        ).alias("acf_peak"),
    ).orderBy("doc_id")
