"""Round-3 curation suite: profiling, imputation, span-level dedup,
record linkage, interval analytics, and embedding outliers.

These widen the training-data-pipeline surface beyond round 2's
clustering/packing/contamination set: the operations a data engineer
runs BEFORE committing a 100 TB corpus to training — profile the
columns, impute gaps, find verbatim repeated spans (Lee et al. 2022
exact-substring dedup, n-gram formulation), link entities across
tables, bucket by length for batch shaping, and drop embedding
outliers.

Registered after ``pipeline`` in ``load_all`` so the driver's budgeted
walk reaches older queries first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..functions.text import token_count, tokens
from ..tables import load_table
from . import register

_TS_SQL = "%Y-%m-%d %H:%M:%S"
_TS_SPARK = "yyyy-MM-dd HH:mm:ss"


# ------------------------------------------------------------- profiling
_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _profile_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       ROUND(CAST(MIN({c}) AS DOUBLE), 4) AS min_val,
       ROUND(CAST(MAX({c}) AS DOUBLE), 4) AS max_val,
       ROUND(CAST(SUM(CAST({c} AS DECIMAL(28,6))) / COUNT({c}) AS DOUBLE), 4)
         AS avg_val
FROM lineitem"""


@register(
    "q_profile_stats",
    oracle=" UNION ALL ".join(_profile_col_sql(c) for c in _PROFILE_COLS)
    + "\nORDER BY col_name",
    doc="one-pass column profiler (rows / nulls / distinct / min / max / "
    "avg) over the lineitem measures, long format — the `DESCRIBE "
    "EXTENDED`-style summary a corpus audit starts with.  All metrics for "
    "all columns come from a SINGLE aggregate over ONE scan (Catalyst "
    "plans the multi-distinct via Expand), then unpivot via stack.  The "
    "mean sums exact decimals so partial-agg order can't wiggle the "
    "rounding.  Scale: one shuffle; at 100 TB swap COUNT(DISTINCT) for "
    "approx_count_distinct to drop the Expand multiplier — the exact "
    "variant here is what the oracle can replay.",
)
def q_profile(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(col)).alias(f"{c}__nulls"),
            F.countDistinct(col).alias(f"{c}__distinct"),
            F.round(F.min(col).cast("double"), 4).alias(f"{c}__min"),
            F.round(F.max(col).cast("double"), 4).alias(f"{c}__max"),
            F.round(
                (F.sum(col.cast("decimal(28,6)")) / F.count(col)).cast("double"), 4
            ).alias(f"{c}__avg"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max, {c}__avg"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val, avg_val)"
        )
    ).orderBy("col_name")


# ------------------------------------------------------------ forward fill
@register(
    "q_forward_fill",
    oracle=f"""
SELECT event_id, user_id,
       ROUND(CASE WHEN event_type <> 'error' THEN value END, 2) AS raw_value,
       ROUND(LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS filled_value
FROM events
ORDER BY event_id
""",
    doc="forward-fill imputation: error readings are masked to NULL and "
    "repaired with the user's last good value in event-time order — "
    "`last(..., ignorenulls=True)` over a running row frame, the standard "
    "gap-repair before feature extraction.  Scale: one hash-partition "
    "shuffle on user_id, in-partition sort, no Python.",
)
def q_ffill(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    masked = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(masked, 2).alias("raw_value"),
        F.round(F.last(masked, ignorenulls=True).over(w), 2).alias("filled_value"),
    ).orderBy("event_id")


# -------------------------------------------------------- duplicate spans
@register(
    "d_duplicate_spans",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
           AS t
  FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t)-7),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                    t[i+4], t[i+5], t[i+6], t[i+7]))) AS gram
  FROM toks WHERE len(t) >= 8),
h AS (SELECT doc_id, {portable_hash64_sql("gram")} AS gram_hash FROM g)
SELECT gram_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM h
GROUP BY gram_hash
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY gram_hash
""",
    doc="exact-substring (span) dedup, n-gram formulation of Lee et al. "
    "2022: every 8-token window is hashed and windows occurring in >= 2 "
    "distinct documents are reported with document and occurrence counts "
    "— the curation step that finds boilerplate/licence blocks verbatim-"
    "repeated across a corpus (pair-level MinHash can't see spans).  "
    "Scale: explode is O(total tokens) rows but each carries only "
    "(doc_id, 8-byte hash); one hash-partition shuffle on the gram hash "
    "with map-side partial aggregation — the same shape as the MinHash "
    "shingle stage, no self-join.",
)
def d_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    t = docs.select("doc_id", tokens("text").alias("t")).where(F.size("t") >= 8)
    grams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t)-7), i -> concat_ws(' ', slice(t, i, 8)))"
            )
        ).alias("gram"),
    )
    return (
        grams.select("doc_id", portable_hash64("gram").alias("gram_hash"))
        .groupBy("gram_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("gram_hash")
    )


# -------------------------------------------------------- record linkage
@register(
    "d_record_linkage",
    oracle="""
SELECT c.c_custkey, s.s_suppkey,
       CAST(levenshtein(right(c.c_name, 9), right(s.s_name, 9)) AS INT)
         AS name_dist
FROM customer c
JOIN supplier s
  ON c.c_nationkey = s.s_nationkey
WHERE levenshtein(right(c.c_name, 9), right(s.s_name, 9)) <= 1
ORDER BY c_custkey, s_suppkey
""",
    doc="blocked record linkage (entity resolution): candidate pairs are "
    "generated ONLY within a blocking key (nation), then scored with "
    "edit distance on the entity-id suffix and kept at distance <= 1.  "
    "Blocking is what makes fuzzy matching feasible at scale: the join "
    "is a plain equi-join on the block key (small side broadcast), with "
    "levenshtein as a post-join filter — never an all-pairs cross join.  "
    "Swap the block key for soundex/prefix buckets on real names.",
)
def d_linkage(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    dist = F.levenshtein(F.expr("right(c_name, 9)"), F.expr("right(s_name, 9)"))
    return (
        c.join(F.broadcast(s), c.c_nationkey == s.s_nationkey)
        .where(dist <= 1)
        .select("c_custkey", "s_suppkey", dist.cast("int").alias("name_dist"))
        .orderBy("c_custkey", "s_suppkey")
    )


# -------------------------------------------------------- length buckets
_CUTS = [i / 10.0 for i in range(1, 10)]


@register(
    "t_length_buckets",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
           AS n_tokens
  FROM documents),
q AS (SELECT quantile_cont(n_tokens, {_CUTS}) AS cuts FROM t),
b AS (
  SELECT t.doc_id, t.n_tokens,
         CAST(1 + len(list_filter(q.cuts, c -> CAST(t.n_tokens AS DOUBLE) > c)) AS INT)
           AS bucket
  FROM t, q)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM b
GROUP BY bucket
ORDER BY bucket
""",
    doc="decile length-bucketing for batch shaping: exact token-count "
    "deciles (percentile with linear interpolation, identical to "
    "quantile_cont) become cutoffs; each document lands in the bucket of "
    "cutoffs it exceeds; per-bucket count/min/max/token-mass comes out.  "
    "Deliberately NOT ntile() — a global ntile window collapses to a "
    "single partition at scale, while this is one aggregate for the "
    "cutoffs, a broadcast of 9 doubles back over the corpus, and one "
    "grouped aggregate: all narrow or map-side-combinable.",
)
def t_buckets(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    cuts = d.agg(
        F.expr(
            f"percentile(n_tokens, array({', '.join(str(c) for c in _CUTS)}))"
        ).alias("cuts")
    )
    bucketed = d.crossJoin(F.broadcast(cuts)).select(
        "n_tokens",
        (
            F.lit(1)
            + F.aggregate(
                F.col("cuts"),
                F.lit(0),
                lambda acc, c: acc
                + F.when(F.col("n_tokens").cast("double") > c, 1).otherwise(0),
            )
        )
        .cast("int")
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------- winsorization
@register(
    "t_winsorize",
    oracle="""
WITH q AS (
  SELECT source,
         quantile_cont(n_chars, 0.05) AS p05,
         quantile_cont(n_chars, 0.95) AS p95
  FROM documents GROUP BY source)
SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
       ROUND(q.p05, 2) AS p05, ROUND(q.p95, 2) AS p95,
       ROUND(LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), q.p05), q.p95), 2)
         AS winsorized
FROM documents d JOIN q ON d.source = q.source
ORDER BY doc_id
""",
    doc="per-source winsorization: clamp document lengths to each "
    "source's exact [p05, p95] band — outlier taming before length "
    "features enter a quality model.  Spark `percentile` and DuckDB "
    "quantile_cont share linear interpolation, so the band is bit-"
    "comparable.  Scale: one grouped aggregate over sources (small "
    "cardinality) broadcast back onto the fact scan — no second shuffle "
    "of the corpus.",
)
def t_winsor(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    q = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    j = d.join(F.broadcast(q), "source")
    clamped = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("p05")), F.col("p95")
    )
    return j.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round("p05", 2).alias("p05"),
        F.round("p95", 2).alias("p95"),
        F.round(clamped, 2).alias("winsorized"),
    ).orderBy("doc_id")


# ---------------------------------------------------- embedding outliers
@register(
    "v_centroid_outliers",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT vec_id, label, unnest(v) AS x,
              unnest(generate_series(1, len(v))) AS pos
       FROM e),
cent AS (SELECT label, pos, AVG(x) AS c FROM ex GROUP BY label, pos),
d AS (SELECT ex.vec_id, ex.label,
             ROUND(sqrt(SUM((ex.x - cent.c) * (ex.x - cent.c))), 6) AS dist
      FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
      GROUP BY ex.vec_id, ex.label),
r AS (SELECT vec_id, label, dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist DESC, vec_id)
                  AS INT) AS rk
      FROM d)
SELECT label, vec_id, dist, rk FROM r WHERE rk <= 5
ORDER BY label, rk
""",
    doc="embedding outlier detection: per-class centroid (component-wise "
    "mean), euclidean distance of every vector to its class centroid, "
    "top-5 farthest per class — the mislabeled-example / contamination "
    "sweep run before embeddings feed retrieval or training.  Scale: "
    "posexplode is O(n x dims) skinny rows; centroid is a grouped "
    "aggregate with map-side combine; the distance join is co-"
    "partitioned on (label, pos) against a dims x classes (tiny, "
    "broadcast) centroid table; top-k per class is the standard "
    "row_number window.  No driver-side vectors, no UDF.",
)
def v_outliers(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = emb.select("vec_id", "label", F.posexplode("v").alias("pos", "x"))
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    d = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.round(F.sqrt(F.sum((F.col("x") - F.col("c")) ** 2)), 6).alias("dist"))
    )
    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return (
        d.select("label", "vec_id", "dist", F.row_number().over(w).cast("int").alias("rk"))
        .where(F.col("rk") <= 5)
        .orderBy("label", "rk")
    )


# ------------------------------------------------------- vocab coverage
_TOKS_SQL = (
    "regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
)


@register(
    "t_vocab_coverage",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
f AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM f),
r AS (SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rn FROM f)
SELECT v.k,
       CAST(COUNT(*) AS BIGINT) AS vocab_words,
       CAST(SUM(cnt) AS BIGINT) AS covered_tokens,
       (SELECT total FROM tot) AS total_tokens,
       ROUND(SUM(cnt) / (SELECT CAST(total AS DOUBLE) FROM tot), 6) AS coverage
FROM r CROSS JOIN (VALUES (100), (1000)) v(k)
WHERE r.rn <= v.k
GROUP BY v.k
ORDER BY k
""",
    doc="tokenizer-budget planning: what fraction of the corpus token "
    "mass does a top-K word vocabulary cover?  One corpus shuffle builds "
    "the frequency table; each K is then a distributed top-K "
    "(TakeOrdered, deterministic count-desc/token-asc tie-break) over "
    "the VOCAB-sized table — never a global sort of the corpus, and no "
    "single-partition window: the rank cutoff is equivalent to "
    "orderBy().limit(K), which Spark executes as per-partition top-K + "
    "driver merge of K rows.",
)
def t_vocab(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    # total token mass needs no per-token table: a narrow count, no shuffle
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("total"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # one distributed top-K over the vocab table; the top-100 cutoff is a
    # prefix of the same ordering, so both K values read this ONE result.
    # The row_number window runs over max(K)=1000 rows — bounded by the
    # constant K, never by vocab size.
    top = freq.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(1000)
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = top.select(
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.explode(F.array(F.lit(100), F.lit(1000))).alias("k"),
    )
    cov = (
        ranked.where(F.col("rn") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("vocab_words"),
            F.sum("cnt").cast("long").alias("covered_tokens"),
        )
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "vocab_words",
            "covered_tokens",
            F.col("total").alias("total_tokens"),
            F.round(
                F.col("covered_tokens").cast("double") / F.col("total").cast("double"), 6
            ).alias("coverage"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------- bigram LM surprisal
@register(
    "t_bigram_surprisal",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
uni AS (SELECT tok, COUNT(*) AS cw
        FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM toks WHERE len(t) >= 2),
bg AS (SELECT doc_id, t[i] AS w1, concat_ws(' ', t[i], t[i+1]) AS b FROM idx),
cb AS (SELECT b, COUNT(*) AS cnt FROM bg GROUP BY b),
sc AS (SELECT bg.doc_id, -ln(cb.cnt / CAST(uni.cw AS DOUBLE)) AS lp
       FROM bg JOIN cb ON bg.b = cb.b JOIN uni ON bg.w1 = uni.tok)
SELECT doc_id,
       ROUND(AVG(lp), 6) AS avg_bigram_surprisal,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams
FROM sc
GROUP BY doc_id
ORDER BY doc_id
""",
    doc="bigram conditional surprisal -ln(c(w1 w2)/c(w1)) averaged per "
    "document — one order up from t_unigram_surprisal: catches texts "
    "whose words are common but whose TRANSITIONS are not (shuffled or "
    "machine-mangled text scores high while keyword-stuffed boilerplate "
    "scores low).  c(w1) is the plain unigram count (documented "
    "convention, same on both engines).  Scale: two corpus-shuffled "
    "frequency tables (bigram, unigram) joined back onto the exploded "
    "bigram stream, then a per-doc rollup — every join key is an 8-ish "
    "byte token/bigram string, no self-joins.",
)
def t_bigram(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    t = d.select("doc_id", tokens("text").alias("t")).where(F.size("t") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t)-1), "
                "i -> struct(element_at(t, i) AS w1, "
                "concat_ws(' ', slice(t, i, 2)) AS b))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.b")
    uni = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    cb = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    lp = -F.log(F.col("cnt") / F.col("cw").cast("double"))
    return (
        bg.join(F.broadcast(cb), "b")
        .join(F.broadcast(uni), bg.w1 == uni.tok)
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(lp), 6).alias("avg_bigram_surprisal"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------- key-skew profile
@register(
    "x_key_skew_profile",
    oracle="""
WITH c AS (SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys FROM c),
r AS (SELECT key, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rn FROM c)
SELECT CAST(rn AS INT) AS rank, key, CAST(cnt AS BIGINT) AS cnt,
       ROUND(cnt / (SELECT CAST(total_rows AS DOUBLE) FROM t), 6) AS share,
       ROUND(cnt * (SELECT CAST(n_keys AS DOUBLE) FROM t)
                 / (SELECT CAST(total_rows AS DOUBLE) FROM t), 6) AS skew_ratio
FROM r WHERE rn <= 10
ORDER BY rank
""",
    doc="join-key skew diagnostic: the 10 heaviest o_custkey values with "
    "row share and skew ratio (x hotter than a uniform key) — the "
    "measurement that decides between a plain shuffle, AQE skew-join, "
    "and the salted rewrites (operators/skew.py).  Scale notes in "
    "key_skew_profile: count agg + 1-row stats + distributed top-N; the "
    "rank window is bounded by N.",
)
def x_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.skew import key_skew_profile

    return key_skew_profile(load_table(spark, sf, "orders"), "o_custkey", top_n=10)


# ------------------------------------------------------------- unpivot
@register(
    "q_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, measure, ROUND(val, 2) AS val
FROM (
  SELECT l_orderkey, l_linenumber,
         unnest(['quantity', 'extendedprice', 'discount']) AS measure,
         unnest([l_quantity, l_extendedprice, l_discount]) AS val
  FROM lineitem WHERE l_orderkey < 100)
ORDER BY l_orderkey, l_linenumber, measure
""",
    doc="wide-to-long reshape via the DataFrame ``unpivot``/``melt`` API "
    "(Spark 3.4+; the relational UNPIVOT) — three measure columns become "
    "(measure, value) rows keyed by the line item.  Narrow, zero-shuffle "
    "until the output sort; the filter is pushed to the scan.",
)
def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").where(F.col("l_orderkey") < 100)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "val",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.regexp_replace("measure", "^l_", "").alias("measure"),
            F.round("val", 2).alias("val"),
        )
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


# --------------------------------------------------------- lateral top-k
@register(
    "q_lateral_topk",
    oracle="""
SELECT n.n_name, t.o_orderkey, ROUND(t.o_totalprice, 2) AS totalprice
FROM nation n, LATERAL (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 2) t
ORDER BY n_name, totalprice DESC, o_orderkey
""",
    doc="correlated LATERAL subquery through plain SQL: the 2 largest "
    "orders per nation, expressed as a per-nation dependent subquery — "
    "the ANSI shape Spark decorrelates into the same window/top-k plan a "
    "DataFrame author writes by hand (q_topk_per_group is the window "
    "twin).  Registered through ``spark.sql`` over temp views to prove "
    "the engine's SQL front door end-to-end.",
)
def q_lateral(spark: SparkSession, sf: str) -> DataFrame:
    for t in ("nation", "orders", "customer"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(
        """
SELECT n.n_name, t.o_orderkey, ROUND(t.o_totalprice, 2) AS totalprice
FROM nation n, LATERAL (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 2) t
ORDER BY n_name, totalprice DESC, o_orderkey
"""
    )


# --------------------------------------------------------- dataset card
@register(
    "t_dataset_card",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         len(regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
           AS n_tokens
  FROM documents)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       arg_max(lang, printf('%015d|%s', cnt_lang, lang)) AS top_lang,
       ROUND(MAX(cnt_lang) / CAST(COUNT(*) AS DOUBLE), 6) AS top_lang_share
FROM (
  SELECT *, COUNT(*) OVER (PARTITION BY lang) AS cnt_lang FROM t)
""",
    doc="one-row dataset card: corpus size, token/char mass, language "
    "and source cardinality, dominant language and its share — the "
    "summary block of a dataset datasheet, via max_by/arg_max "
    "(argmax aggregate, identical semantics both engines with the "
    "deterministic per-lang count as the ordering value).  Scale: one "
    "aggregate; the per-lang counts ride a window over the lang "
    "partition (bounded cardinality).",
)
def t_card(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars", token_count("text").alias("n_tokens")
    )
    w = Window.partitionBy("lang")
    t = d.select("*", F.count(F.lit(1)).over(w).alias("cnt_lang"))
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        # zero-padded (count, lang) composite so equal counts break the
        # argmax tie identically on both engines (lexicographically-last)
        F.expr("max_by(lang, format_string('%015d|%s', cnt_lang, lang))").alias(
            "top_lang"
        ),
        F.round(F.max("cnt_lang") / F.count(F.lit(1)).cast("double"), 6).alias(
            "top_lang_share"
        ),
    )


# ------------------------------------------------- matryoshka truncation
@register(
    "v_matryoshka_truncate",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT vec_id, v, v[1:16] AS pre FROM e),
n AS (SELECT vec_id, v, pre,
             sqrt(list_sum(list_transform(pre, x -> x * x))) AS pn FROM p)
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2_full,
       ROUND(pn, 6) AS l2_prefix,
       ROUND(CASE WHEN pn > 0 THEN pre[1] / pn END, 6) AS c0_renormed,
       CAST(16 AS INT) AS dims_kept
FROM n
ORDER BY vec_id
""",
    doc="Matryoshka-style embedding compression probe: truncate 64-dim "
    "vectors to their 16-dim prefix and L2-renormalize "
    "(functions/vectors.py truncate_renormalize) — the 4x storage/ANN-"
    "cost reduction MRL-trained encoders support.  Output carries full "
    "and prefix norms plus the first renormalized component so the "
    "oracle checks the slice+fold+divide arithmetic end-to-end.  Scale: "
    "pure codegen expressions, one scan, the only exchange is the "
    "output sort.",
)
def v_matryoshka(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.vectors import l2_norm, truncate_renormalize

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    trunc = truncate_renormalize("v", 16)
    pre = F.slice(F.col("v"), 1, 16)
    pn = F.sqrt(F.aggregate(pre, F.lit(0.0), lambda a, x: a + x * x))
    return emb.select(
        "vec_id",
        F.round(l2_norm("v"), 6).alias("l2_full"),
        F.round(pn, 6).alias("l2_prefix"),
        F.round(F.element_at(trunc, 1), 6).alias("c0_renormed"),
        F.lit(16).cast("int").alias("dims_kept"),
    ).orderBy("vec_id")


# --------------------------------------------------- data-quality checks
@register(
    "q_data_checks",
    oracle="""
SELECT 'in_range:l_discount[0.0,0.1]' AS check_name,
       CAST(SUM(CASE WHEN l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       SUM(CASE WHEN l_discount IS NOT NULL
                 AND (l_discount < 0.0 OR l_discount > 0.1)
                THEN 1 ELSE 0 END) = 0 AS passed
FROM lineitem
UNION ALL
SELECT 'in_set:l_returnflag',
       CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
                      AND l_returnflag NOT IN ('A', 'N', 'R')
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       SUM(CASE WHEN l_returnflag IS NOT NULL
                 AND l_returnflag NOT IN ('A', 'N', 'R')
                THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'not_null:l_orderkey',
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'ref_integrity:l_orderkey->o_orderkey',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)),
       CAST(COUNT(*) AS BIGINT),
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) = 0
FROM lineitem
UNION ALL
SELECT 'unique:l_orderkey,l_linenumber',
       (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT)
        FROM (SELECT COUNT(*) AS cnt FROM lineitem
              GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)),
       CAST(COUNT(*) AS BIGINT),
       (SELECT COALESCE(SUM(cnt), 0)
        FROM (SELECT COUNT(*) AS cnt FROM lineitem
              GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)) = 0
FROM lineitem
ORDER BY check_name
""",
    doc="declarative data-quality suite (deequ/dbt-test style, "
    "operators/checks.py): not-null, range, and set-membership checks "
    "fold into ONE conditional aggregate over ONE lineitem scan; the "
    "composite-key uniqueness check is one map-side-combined groupBy; "
    "referential integrity lineitem->orders is one left-anti join.  "
    "Adding a row-level rule to a 100 TB audit costs nothing once the "
    "scan is paid for — that single-pass property is the design.",
)
def q_checks(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.checks import InRange, InSet, NotNull, RefIntegrity, Unique, run_checks

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    return run_checks(
        li,
        [
            NotNull("l_orderkey"),
            InRange("l_discount", 0.0, 0.1),
            InSet("l_returnflag", ("A", "N", "R")),
            Unique(("l_orderkey", "l_linenumber")),
            RefIntegrity("l_orderkey", orders, "o_orderkey"),
        ],
    )


# ----------------------------------------------------------- salted join
@register(
    "x_salted_join",
    oracle="""
SELECT c.c_mktsegment AS segment,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY segment
""",
    doc="skew-mitigation rewrite #2: the replicate-salted join "
    "(operators/skew.py salted_join) — probe rows get a deterministic "
    "salt, the small build side is exploded once per salt, and the join "
    "key becomes (key, salt) so a hot key spreads over n_salts tasks.  "
    "The oracle is the PLAIN join + rollup, asserting the rewrite is "
    "result-identical (the same contract x_salted_agg pins for the "
    "aggregation rewrite).",
)
def x_salted_join_q(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.skew import salted_join

    orders = load_table(spark, sf, "orders").selectExpr(
        "o_custkey AS custkey", "o_totalprice"
    )
    customer = load_table(spark, sf, "customer").selectExpr(
        "c_custkey AS custkey", "c_mktsegment"
    )
    joined = salted_join(orders, customer, ["custkey"], n_salts=8)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 2
            ).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("segment")
    )


# -------------------------------------------------------- shard planning
@register(
    "t_shard_manifest",
    oracle=f"""
WITH a AS (
  SELECT CAST({portable_hash64_sql("CAST(doc_id AS VARCHAR) || 'epoch0'")} % 16 AS INT)
           AS shard_id,
         n_chars
  FROM documents),
per AS (SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(n_chars) AS BIGINT) AS total_weight
        FROM a GROUP BY shard_id)
SELECT shard_id, n_rows, total_weight,
       ROUND(total_weight / SUM(total_weight) OVER (), 6) AS load_share,
       ROUND(total_weight * 16 / SUM(total_weight) OVER (), 4) AS skew_ratio
FROM per
ORDER BY shard_id
""",
    doc="training-shard planning (operators/layout.assign_shards + "
    "shard_manifest): deterministic portable-hash shard assignment (16 "
    "shards, salt 'epoch0') decorrelates source order without a global "
    "sort, then a per-shard row/char manifest with load share and skew "
    "vs the ideal 1/16 — the go/no-go audit before a multi-hour sharded "
    "write.  One partial-agg'd hash shuffle over one scan; the "
    "share/skew window runs over the 16-row manifest only.  Stable "
    "across engines/re-runs: the oracle replays the identical md5 "
    "assignment.",
)
def t_shards(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.layout import shard_manifest

    docs = load_table(spark, sf, "documents")
    return shard_manifest(docs, "doc_id", 16, weight_col="n_chars", salt="epoch0")


# ------------------------------------------------------ span-cut regions
@register(
    "d_span_regions",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
           AS t
  FROM documents),
pos AS (
  SELECT doc_id, t, len(t) AS n_tokens,
         unnest(generate_series(1, len(t)-7)) AS i
  FROM toks WHERE len(t) >= 8),
g AS (
  SELECT doc_id, n_tokens, i AS s, i + 7 AS e,
         {portable_hash64_sql("concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7])")}
           AS h
  FROM pos),
dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT g.doc_id, g.n_tokens, g.s, g.e FROM g JOIN dup ON g.h = dup.h),
isl AS (
  SELECT doc_id, n_tokens, s, e,
         CASE WHEN s > COALESCE(MAX(e + 1) OVER (
                PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newf
  FROM hits),
lab AS (
  SELECT doc_id, n_tokens, s, e,
         SUM(newf) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
  FROM isl),
reg AS (
  SELECT doc_id, MAX(n_tokens) AS n_tokens, isle,
         MIN(s) AS rs, MAX(e) AS re
  FROM lab GROUP BY doc_id, isle)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_regions,
       CAST(SUM(re - rs + 1) AS BIGINT) AS dup_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(SUM(re - rs + 1) / MAX(n_tokens), 6) AS dup_fraction
FROM reg
GROUP BY doc_id
ORDER BY doc_id
""",
    doc="actionable exact-substring dedup (the cut list, not just the "
    "report): duplicated 8-token windows (>= 2 distinct docs, as "
    "d_duplicate_spans) are mapped back to their token positions and "
    "coalesced per document into maximal disjoint cut regions "
    "(operators/timeseries.merge_intervals island detection), with "
    "per-doc duplicated-token totals and fraction — exactly what a "
    "span-removal pass consumes (Lee et al. 2022 'Deduplicating "
    "Training Data Makes Language Models Better').  Scale: gram "
    "explode carries (doc, pos, 8-byte hash) only; dup filter is one "
    "partial-agg'd hash shuffle + equi-join back (inverted-index "
    "shape, never a self-join); merging is two windows over one "
    "doc_id sort shuffle.",
)
def d_span_regions(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.timeseries import merge_intervals

    docs = load_table(spark, sf, "documents")
    t = docs.select("doc_id", tokens("text").alias("t")).where(F.size("t") >= 8)
    occ = t.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t)-7), i -> concat_ws(' ', slice(t, i, 8)))"
            )
        ).alias("i0", "gram"),
    )
    spans = occ.select(
        "doc_id",
        "n_tokens",
        (F.col("i0") + 1).alias("start"),
        (F.col("i0") + 8).alias("end"),
        portable_hash64("gram").alias("h"),
    )
    dup = spans.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd")
    ).where(F.col("nd") >= 2).select("h")
    hits = spans.join(dup, "h")
    regions = merge_intervals(hits.select("doc_id", "start", "end"), "doc_id")
    per_doc = regions.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_regions"),
        F.sum(F.col("region_end") - F.col("region_start") + 1).alias("dup_tokens"),
    )
    totals = t.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return (
        per_doc.join(totals, "doc_id")
        .select(
            "doc_id",
            "n_regions",
            "dup_tokens",
            "n_tokens",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------- DSIR domain weights
_DSIR_B = 1024


_DSIR_TOK = (
    "unnest(string_split_regex(trim(lower("
    "regexp_replace(text, '\\s+', ' ', 'g'))), ' '))"
)
_DSIR_HASH = portable_hash64_sql(_DSIR_TOK)


@register(
    "t_dsir_weights",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang,
         {_DSIR_HASH} % {_DSIR_B}
           AS b
  FROM documents),
stats AS (
  SELECT b,
         COUNT(*) FILTER (WHERE lang = 'en') AS ct,
         COUNT(*) FILTER (WHERE lang <> 'en') AS cs
  FROM toks GROUP BY b),
tot AS (SELECT SUM(ct) AS t, SUM(cs) AS s FROM stats),
lr AS (
  SELECT b, ln(((ct + 1) / (tot.t + {_DSIR_B})) / ((cs + 1) / (tot.s + {_DSIR_B})))
           AS lr
  FROM stats CROSS JOIN tot)
SELECT tk.doc_id, MAX(tk.lang) AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(lr.lr), 6) AS dsir_score
FROM toks tk JOIN lr ON tk.b = lr.b
GROUP BY tk.doc_id
ORDER BY doc_id
""",
    doc="DSIR importance weights (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): hashed unigram "
    "features (portable hash mod 1024 buckets), smoothed "
    "target/source log-likelihood ratio per bucket with target = "
    "English docs, per-document score = sum of its tokens' bucket "
    "log-ratios — rank by score and hash-gate-sample to select "
    "target-domain-like data from a raw corpus.  Scale: the bucket "
    "stats table is <= 1024 rows broadcast back onto the token "
    "stream; the corpus shuffles once by bucket (partial-agg'd) and "
    "once by doc_id for the rollup — independent of vocabulary size, "
    "which is the point of hashed features.",
)
def t_dsir(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    ).select("doc_id", "lang", (portable_hash64("tok") % _DSIR_B).alias("b"))
    stats = toks.groupBy("b").agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("ct"),
        F.sum((F.col("lang") != "en").cast("long")).alias("cs"),
    )
    tot = stats.agg(F.sum("ct").alias("t"), F.sum("cs").alias("s"))
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.log(
            ((F.col("ct") + 1) / (F.col("t") + _DSIR_B))
            / ((F.col("cs") + 1) / (F.col("s") + _DSIR_B))
        ).alias("lr"),
    )
    return (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("lr"), 6).alias("dsir_score"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------- pagerank
@register(
    "x_pagerank_suppliers",
    oracle=None,  # 10 float power iterations — validated vs numpy in tests
    doc="PageRank (Brin & Page 1998) over the distinct customer->supplier "
    "order graph: which suppliers sit at the center of purchasing flow.  "
    "The iterative-Spark discipline showcase (operators/graph.pagerank): "
    "per round exactly two partial-agg'd shuffles (rank join on src, "
    "contribution groupBy on dst), edge list persisted once, dangling "
    "mass read as an observe() metric of the round's checkpoint job (no "
    "separate scalar job), and an eager localCheckpoint in each of the "
    "rounds so lineage stays bounded.  Rows-only driver check; the "
    "numerics are pinned against a numpy power iteration in "
    "tests/test_graph_pagerank.py.",
)
def x_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import pagerank

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), (F.col("l_suppkey") + 1_000_000).alias("dst"))
        .distinct()
    )
    ranks = pagerank(edges, iterations=10, damping=0.85)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
    )


# ------------------------------------------------- parquet layout audit
@register(
    "q_parquet_meta",
    oracle=None,  # footer paths differ per SF dir; differential parity vs
    # DuckDB parquet_metadata() is asserted in tests/test_parquet_meta.py
    doc="parquet-footer layout audit (sources/parquet_meta.py, format "
    "fuse-parquet-meta): row-group/column-chunk stats — value counts, "
    "nulls, min/max, compressed/uncompressed bytes, codec — for the "
    "lineitem key/date/flag columns, read from footers ONLY (no data "
    "pages).  This is what scan planning runs on: disjoint min/max "
    "ranges under the intended sort = row-group pruning works; the "
    "compression ratio column prices the layout.  One partition per "
    "file — auditing a million-file lake fans the footer reads across "
    "the cluster.  Rows-only driver check; column-for-column parity vs "
    "DuckDB's parquet_metadata() is pinned in tests.",
)
def q_pq_meta(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.parquet_meta import FORMAT_NAME, register as reg_src

    reg_src(spark)
    meta = (
        spark.read.format(FORMAT_NAME)
        .option("path", f"{sf.rstrip('/')}/lineitem.parquet")
        .load()
    )
    return (
        meta.where(
            F.col("path_in_schema").isin("l_orderkey", "l_returnflag", "l_shipdate")
        )
        .select(
            "row_group_id",
            "row_group_num_rows",
            "path_in_schema",
            "num_values",
            "null_count",
            "min_value",
            "max_value",
            "compressed_bytes",
            "uncompressed_bytes",
            "codec",
            F.round(
                F.col("uncompressed_bytes") / F.col("compressed_bytes"), 4
            ).alias("compression_ratio"),
        )
        .orderBy("row_group_id", "path_in_schema")
    )


# ---------------------------------------------------- JSONL ingestion
@register(
    "q_json_roundtrip",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len,
       CAST(MIN(doc_id) AS BIGINT) AS min_id, CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM documents
GROUP BY lang
ORDER BY lang
""",
    doc="JSONL ingestion path, proved lossless end-to-end: the documents "
    "table is written to JSON-lines and read back with an EXPLICIT "
    "schema in FAILFAST mode (schema-on-write discipline — no "
    "inference pass over the data, malformed rows abort instead of "
    "nulling out silently); the oracle aggregates the ORIGINAL table "
    "directly, so any row lost or any text/unicode mangled in the "
    "round trip breaks counts, lengths, or id ranges.  Scale: "
    "explicit schema means a single scan (inference would add a full "
    "pre-pass), and JSONL splits by line so reads parallelize per "
    "block.",
)
def q_json_rt(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    docs = load_table(spark, sf, "documents")
    path = _tf.mkdtemp(prefix="jsonl_rt_") + "/docs"
    docs.write.mode("overwrite").json(path)
    back = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("mode", "FAILFAST")
        .json(path)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------ provenance stamp
@register(
    "q_provenance_stamp",
    oracle=None,  # needs read_parquet(file_row_number=true) on a literal
    # path, which differs per SF dir; full differential parity vs DuckDB
    # is pinned in tests/test_parquet_meta.py at two SFs
    doc="row-level provenance from the scan itself: Spark's hidden "
    "_metadata columns (file_name, row_index) stamp every row with "
    "exactly where it came from — no synthetic ids, no zipWithIndex "
    "shuffle, stable across re-reads.  The stamp is what incremental "
    "reprocessing (skip files already ingested), debugging (jump to "
    "the offending row), and audit trails key on.  Aggregated here per "
    "(file, returnflag) with row-index ranges; at scale the same "
    "column drives per-file watermarking in fuse-files manifests.",
)
def q_provenance(spark: SparkSession, sf: str) -> DataFrame:
    li = spark.read.parquet(f"{sf.rstrip('/')}/lineitem.parquet")
    return (
        li.select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("row_index"),
            "l_returnflag",
        )
        .groupBy("file_name", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("row_index").alias("min_idx"),
            F.max("row_index").alias("max_idx"),
        )
        .orderBy("file_name", "l_returnflag")
    )


# ----------------------------------------------------- count-min sketch
_CMS_D, _CMS_W = 4, 256


def _cms_hash_sql(row: int) -> str:
    return (
        portable_hash64_sql(f"CAST(user_id AS VARCHAR) || '#cms{row}'")
        + f" % {_CMS_W}"
    )


@register(
    "x_count_min_sketch",
    oracle=f"""
WITH rows_ AS (
  {" UNION ALL ".join(f"SELECT user_id, {r} AS r, {_cms_hash_sql(r)} AS col FROM events" for r in range(_CMS_D))}),
cms AS (SELECT r, col, CAST(COUNT(*) AS BIGINT) AS c FROM rows_ GROUP BY r, col),
exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
          FROM events GROUP BY user_id),
probe AS (
  {" UNION ALL ".join(f"SELECT user_id, {r} AS r, {_cms_hash_sql(r)} AS col FROM exact" for r in range(_CMS_D))}),
est AS (
  SELECT p.user_id, MIN(cms.c) AS cms_estimate
  FROM probe p JOIN cms ON p.r = cms.r AND p.col = cms.col
  GROUP BY p.user_id)
SELECT e.user_id, e.exact_count, est.cms_estimate,
       est.cms_estimate >= e.exact_count AS never_undercounts
FROM exact e JOIN est ON e.user_id = est.user_id
ORDER BY e.exact_count DESC, e.user_id
LIMIT 10
""",
    doc="Count-Min Sketch heavy hitters (Cormode & Muthukrishnan 2005) "
    "with engine-portable hashes: a 4x256 counter grid built in ONE "
    "partial-agg'd pass (each event lands in d=4 cells), point queries "
    "read back min-over-rows — the mergeable frequency sketch that "
    "answers 'how often did key X appear' over a 100 TB stream in "
    "O(d x w) memory, overcounting but NEVER undercounting (asserted "
    "per row).  The sketch table is 1 KB — broadcast; per-shard "
    "sketches merge by cell-wise addition (same contract as the HLL "
    "query's sketch union).  Top-10 exact-vs-estimate comparison, "
    "fully oracle-replayed.",
)
def x_cms(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sketches import count_min_cells, count_min_probe

    ev = load_table(spark, sf, "events")
    cms = count_min_cells(ev, "user_id", _CMS_D, _CMS_W)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    est = count_min_probe(cms, exact, "user_id", _CMS_D, _CMS_W)
    return (
        est.select(
            "user_id",
            "exact_count",
            F.col("cms_est").alias("cms_estimate"),
            (F.col("cms_est") >= F.col("exact_count")).alias("never_undercounts"),
        )
        .orderBy(F.col("exact_count").desc(), "user_id")
        .limit(10)
    )


# ------------------------------------------------------ association rules
@register(
    "q_market_basket",
    oracle="""
WITH items AS (SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
pairs AS (SELECT a.item AS item_a, b.item AS item_b,
                 CAST(COUNT(*) AS BIGINT) AS pair_count
          FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
          GROUP BY 1, 2 HAVING COUNT(*) >= 50),
ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY item),
tot AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM items)
SELECT item_a, item_b, pair_count, ca.n AS count_a, cb.n AS count_b,
       ROUND(pair_count / n_baskets, 6) AS support,
       ROUND(pair_count / ca.n, 6) AS confidence_a_to_b,
       ROUND(pair_count * n_baskets / (ca.n * cb.n), 6) AS lift
FROM pairs
JOIN ic ca ON item_a = ca.item
JOIN ic cb ON item_b = cb.item
CROSS JOIN tot
ORDER BY lift DESC, item_a, item_b
LIMIT 50
""",
    doc="market-basket association rules (Agrawal-Srikant counting step) "
    "over order baskets of part brands: support / confidence / lift per "
    "co-occurring brand pair, top-50 by lift.  Scale shape "
    "(operators/basket.py): distinct (basket, item) first, inverted-"
    "index self-join equi on the basket key (pair expansion only within "
    "a basket, item_a < item_b halves it), per-item counts and the "
    "basket total broadcast back — never an all-pairs join; a "
    "max_basket_size guard bounds pathological mega-baskets.  The same "
    "operator profiles co-occurring sources within near-dup clusters in "
    "a curation pipeline.",
)
def q_basket(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.basket import association_rules

    line = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    baskets = line.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        line["l_partkey"] == part["p_partkey"],
    ).select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
    rules = association_rules(baskets, "basket", "item", min_support=50)
    return rules.orderBy(
        F.col("lift").desc(), F.col("item_a"), F.col("item_b")
    ).limit(50)


# ------------------------------------------------------ weighted sampling
@register(
    "t_weighted_sample",
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, n_chars,
         ln((({portable_hash64_sql("CAST(doc_id AS VARCHAR) || 'aes'")} % 1000000) + 1)
            / 1000000.0) / n_chars AS sk
  FROM documents WHERE n_chars > 0)
SELECT doc_id, lang, n_chars, ROUND(sk, 6) AS sample_key
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY sk DESC, doc_id) AS rk
      FROM w)
WHERE rk <= 20
ORDER BY lang, sample_key DESC, doc_id
""",
    doc="weighted sampling without replacement (Efraimidis-Spirakis A-ES "
    "exponential sort keys): top-20 documents per language where "
    "selection probability is proportional to n_chars — the weighted "
    "eval-slice draw.  The uniform comes from the portable md5 gate "
    "(operators/sampling.weighted_sample_topk), so there is NO RNG "
    "state: reruns, retries, and the SQL oracle pick the identical "
    "sample.  Scale: narrow per-row keying + one top-k window per "
    "stratum — never a global sort of the corpus.",
)
def t_wsample(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf, "documents").where(F.col("n_chars") > 0)
    out = weighted_sample_topk(
        docs, "doc_id", "n_chars", k=20, strata_cols=["lang"], salt="aes"
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.round("sample_key", 6).alias("sample_key")
    ).orderBy("lang", F.col("sample_key").desc(), "doc_id")


# ------------------------------------------------------------- retrieval
_BM25_TERMS = ["join", "shuffle", "broadcast"]


def _bm25_cte(terms: list[str]) -> str:
    """DuckDB CTE chain replaying operators/retrieval.bm25_scores with
    the IDENTICAL expression tree (literals written as the same
    arithmetic, per-term MAX pivots summed in fixed order)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    pivots = ",\n         ".join(
        f"MAX(CASE WHEN tk = '{t}' THEN sc END) AS s_{i}"
        for i, t in enumerate(terms)
    )
    total = " + ".join(f"COALESCE(s_{i}, 0.0)" for i in range(len(terms)))
    return f"""toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS N, SUM(dl) / COUNT(*) AS avgdl FROM dl),
hits AS (SELECT doc_id, tk, CAST(COUNT(*) AS DOUBLE) AS tf
         FROM (SELECT doc_id, UNNEST(t) AS tk FROM toks)
         WHERE tk IN ({in_list}) GROUP BY doc_id, tk),
dfreq AS (SELECT tk, CAST(COUNT(*) AS DOUBLE) AS df FROM hits GROUP BY tk),
per AS (SELECT h.doc_id, h.tk,
               ln(1.0 + (s.N - f.df + 0.5) / (f.df + 0.5))
               * (h.tf * (1.2 + 1.0))
               / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) AS sc
        FROM hits h
        JOIN dfreq f ON h.tk = f.tk
        JOIN dl d ON h.doc_id = d.doc_id
        CROSS JOIN stats s),
pvt AS (SELECT doc_id, {pivots}
        FROM per GROUP BY doc_id),
bm25 AS (SELECT doc_id, ROUND({total}, 6) AS score FROM pvt)"""


@register(
    "t_bm25_topk",
    oracle=f"""
WITH {_bm25_cte(_BM25_TERMS)}
SELECT doc_id, score, CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk FROM bm25)
WHERE rk <= 20
ORDER BY rank
""",
    doc="Okapi BM25 top-20 for a 3-term query (Lucene idf variant) — "
    "the lexical-retrieval scorer (operators/retrieval.bm25_scores).  "
    "Scale: the exploded token stream is pruned to the query terms "
    "BEFORE any shuffle (survivors are a sliver of the corpus), df and "
    "the avgdl panel broadcast back, and each document's score adds its "
    "per-term MAX-pivot columns in FIXED order — float row-SUMs whose "
    "order the engine picks would be irreproducible.  Determinism: tf/"
    "df/dl are exact counts; idf and the saturation term are identical "
    "IEEE expression trees on both engines (literals written as the "
    "same arithmetic, e.g. (1.2 + 1.0), never a pre-folded 2.2).",
)
def t_bm25(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    docs = load_table(spark, sf, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20).orderBy("rank")


@register(
    "v_hybrid_rrf",
    oracle=f"""
WITH {_bm25_cte(_BM25_TERMS)},
lex AS (SELECT doc_id, CAST(rk AS INT) AS rank_0
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
              FROM bm25)
        WHERE rk <= 100),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT v FROM e WHERE vec_id = 0),
sem AS (SELECT vec_id AS doc_id, CAST(rk AS INT) AS rank_1
        FROM (SELECT e.vec_id,
                     ROW_NUMBER() OVER (
                       ORDER BY ROUND(list_cosine_similarity(e.v, qv.v), 6) DESC,
                                e.vec_id) AS rk
              FROM e CROSS JOIN qv)
        WHERE rk <= 100)
SELECT lex.doc_id,
       ROUND(1.0 / (60 + rank_0) + 1.0 / (60 + rank_1), 6) AS rrf_score,
       rank_0, rank_1
FROM lex JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf_score DESC, lex.doc_id
LIMIT 20
""",
    doc="hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
    "2009): BM25 top-100 fused with embedding-cosine top-100 (query = "
    "vector 0, ids aligned doc_id == vec_id) by sum(1/(60+rank)) — the "
    "calibration-free way to combine lexical and semantic rankings.  "
    "Scale: both input rankings are k-bounded relations, so the fusion "
    "joins touch ≤100 rows regardless of corpus size; the expensive "
    "parts (BM25 term prune, ANN scan) each keep their own optimal "
    "shape and are reused unchanged (operators/retrieval.rrf_fuse).",
)
def v_rrf(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import brute_force_topk

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    lex = bm25_topk(docs, _BM25_TERMS, k=100)
    qv = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sem = brute_force_topk(
        emb, qv, k=100, corpus_id="vec_id", corpus_vec="embedding"
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    fused = rrf_fuse([lex.select("doc_id", "rank"), sem], id_col="doc_id")
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(20)


# ------------------------------------------------------ drift detection
@register(
    "q_psi_drift",
    oracle="""
WITH bins AS (SELECT UNNEST(range(0, 10)) AS bin),
e AS (SELECT CAST(LEAST(9, FLOOR(value / 50)) AS BIGINT) AS bin,
             user_id % 2 = 0 AS is_ref
      FROM events),
c AS (SELECT b.bin,
             CAST(COALESCE(SUM(CASE WHEN is_ref THEN 1 END), 0) AS BIGINT) AS n_ref,
             CAST(COALESCE(SUM(CASE WHEN NOT is_ref THEN 1 END), 0) AS BIGINT) AS n_cur
      FROM bins b LEFT JOIN e ON b.bin = e.bin GROUP BY b.bin),
t AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS nr, CAST(SUM(n_cur) AS DOUBLE) AS nc FROM c),
m AS (SELECT c.bin, c.n_ref, c.n_cur,
             (CAST(c.n_ref AS DOUBLE) + 1.0) / (t.nr + 10.0) AS p,
             (CAST(c.n_cur AS DOUBLE) + 1.0) / (t.nc + 10.0) AS q
      FROM c CROSS JOIN t),
terms AS (SELECT bin, n_ref, n_cur, p, q, (p - q) * ln(p / q) AS term FROM m),
total AS (SELECT list_sum(list(term ORDER BY bin)) AS psi FROM terms)
SELECT bin, n_ref, n_cur,
       ROUND(p, 6) AS p, ROUND(q, 6) AS q, ROUND(term, 6) AS psi_term,
       ROUND(total.psi, 6) AS psi_total
FROM terms CROSS JOIN total
ORDER BY bin
""",
    doc="population stability index (PSI) drift report between two "
    "deterministic event cohorts (user_id parity) over 10 fixed-width "
    "value bins with Laplace smoothing — the standard "
    "feature/score-drift monitor (PSI > 0.2 = investigate).  "
    "Determinism: bin counts are exact; p/q/term derive in identical "
    "IEEE trees; the PSI total folds the per-bin terms IN BIN ORDER "
    "(sort_array + aggregate on Spark, list(ORDER BY) + list_sum in "
    "DuckDB) — a bare float SUM would be reduction-order-dependent.  "
    "Scale: one partial-agg'd shuffle to 10x2 counts; everything after "
    "is constant-size.",
)
def q_psi(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select(
        F.least(F.lit(9), F.floor(F.col("value") / 50)).cast("long").alias("bin"),
        (F.col("user_id") % 2 == 0).alias("is_ref"),
    )
    bins = spark.range(10).select(F.col("id").alias("bin"))
    counts = (
        bins.join(ev, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(F.sum(F.when(F.col("is_ref"), 1)), F.lit(0)).alias("n_ref"),
            F.coalesce(F.sum(F.when(~F.col("is_ref"), 1)), F.lit(0)).alias("n_cur"),
        )
    )
    totals = counts.agg(
        F.sum("n_ref").cast("double").alias("nr"),
        F.sum("n_cur").cast("double").alias("nc"),
    )
    m = counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_ref",
        "n_cur",
        ((F.col("n_ref").cast("double") + 1.0) / (F.col("nr") + 10.0)).alias("p"),
        ((F.col("n_cur").cast("double") + 1.0) / (F.col("nc") + 10.0)).alias("q"),
    )
    terms = m.withColumn("term", (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))
    total = terms.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("bin", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("psi")
    )
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round("p", 6).alias("p"),
            F.round("q", 6).alias("q"),
            F.round("term", 6).alias("psi_term"),
            F.round("psi", 6).alias("psi_total"),
        )
        .orderBy("bin")
    )


# ------------------------------------------------------ k-fold assignment
@register(
    "t_kfold_assign",
    oracle=f"""
WITH f AS (
  SELECT lang,
         CAST({portable_hash64_sql("CAST(doc_id AS VARCHAR) || 'fold'")} % 5 AS INT) AS fold,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
  FROM documents),
t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM f)
SELECT fold, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(COUNT(*) / t.total, 6) AS doc_share
FROM f CROSS JOIN t
GROUP BY fold, lang, t.total
ORDER BY fold, lang
""",
    doc="deterministic 5-fold cross-validation assignment "
    "(operators/sampling.kfold_assign): every doc_id hashes to exactly "
    "one fold, stable across runs/engines/row order, so duplicated "
    "documents can never straddle train/eval.  The report shows "
    "per-(fold, lang) doc counts, token mass, and share — the balance "
    "check before training.  Scale: the assignment is a pure per-row "
    "expression (no shuffle, no RNG); the report is one partial-agg'd "
    "groupBy to 5 x |langs| rows.",
)
def t_kfold(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sampling import kfold_assign

    docs = kfold_assign(load_table(spark, sf, "documents"), "doc_id", k=5)
    withtok = docs.select("fold", "lang", token_count("text").alias("n_tokens"))
    total = withtok.agg(F.count("*").cast("double").alias("total"))
    return (
        withtok.crossJoin(F.broadcast(total))
        .groupBy("fold", "lang", "total")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "fold",
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("doc_share"),
        )
        .orderBy("fold", "lang")
    )


# ------------------------------------------------------ recursive CTE
# One SQL text, two engines: the dialect-shared subset (WITH RECURSIVE,
# UNION ALL, FLOOR division) runs verbatim on Spark 4 and DuckDB.
_RECURSIVE_SQL = """
WITH RECURSIVE walk AS (
  SELECT o_orderkey, o_orderkey AS node, 0 AS depth
  FROM orders WHERE o_orderkey < 1000
  UNION ALL
  SELECT o_orderkey, CAST(FLOOR(node / 2) AS BIGINT) AS node, depth + 1 AS depth
  FROM walk WHERE node > 1
)
SELECT o_orderkey, CAST(MAX(depth) AS INT) AS depth_to_root
FROM walk
GROUP BY o_orderkey
ORDER BY o_orderkey
"""


@register(
    "q_recursive_hierarchy",
    oracle=_RECURSIVE_SQL,
    doc="recursive CTE hierarchy walk (Spark 4 WITH RECURSIVE): each "
    "order key climbs its synthetic binary-tree ancestry (parent = "
    "floor(key/2)) to the root, reporting depth — the BOM/org-chart "
    "traversal shape SQL engines are asked for daily, newly expressible "
    "in Spark 4 without iterative driver loops.  The SAME SQL text runs "
    "verbatim on both engines (dialect-shared subset: UNION ALL "
    "recursion, FLOOR division), so the oracle is literally the query.  "
    "Scale: recursion depth is log2(max key); each round is one "
    "self-join shuffle on the frontier — for unbounded-depth graphs "
    "prefer the dedicated CC/PageRank operators (operators/graph.py), "
    "which add convergence checks and lineage truncation.",
)
def q_recursive(spark: SparkSession, sf: str) -> DataFrame:
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_SQL)


# ------------------------------------------------------ SQL-defined UDFs
@register(
    "q_sql_udf",
    oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
             AS DOUBLE), 2) AS net_revenue,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
             AS DECIMAL(18,6))) AS DOUBLE), 2) AS charged_revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="SQL-defined scalar functions (Spark 4 CREATE FUNCTION ... "
    "RETURN): net_price/charged_price declared ONCE in SQL and reused "
    "across the aggregate.  Unlike Python UDFs, SQL UDFs INLINE into "
    "the Catalyst plan — whole-stage codegen, pushdown, and partial "
    "aggregation all still apply, so shared business logic costs "
    "nothing at 100 TB.  The oracle inlines the same expressions "
    "(that inlining IS the semantics); sums ride decimals per the "
    "catalog's money convention.",
)
def q_sqludf(spark: SparkSession, sf: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged_price(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    load_table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(net_price(l_extendedprice, l_discount) AS DECIMAL(18,6)))
             AS DOUBLE), 2) AS net_revenue,
       ROUND(CAST(SUM(CAST(charged_price(l_extendedprice, l_discount, l_tax)
             AS DECIMAL(18,6))) AS DOUBLE), 2) AS charged_revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""")


# ------------------------------------------------------ char entropy
@register(
    "t_char_entropy",
    oracle="""
WITH c AS (SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM documents),
cnt AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM c WHERE ch <> '' GROUP BY doc_id, ch),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id),
term AS (SELECT cnt.doc_id, cnt.ch, tot.n,
                (CAST(cnt.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                * ln(CAST(cnt.c AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS t
         FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id)
SELECT doc_id, MAX(n) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS distinct_chars,
       ROUND(-list_sum(list(t ORDER BY ch)), 6) AS char_entropy
FROM term
GROUP BY doc_id
ORDER BY doc_id
""",
    doc="per-document character-level Shannon entropy — the CCNet/"
    "Gopher-family garbage detector (binary blobs and keyboard-mash "
    "score far from natural-language entropy; near-constant text "
    "scores near 0).  Determinism: per-char counts are exact; each "
    "p·ln(p) term derives from an exact integer ratio, and the per-doc "
    "fold runs IN CHARACTER ORDER on both engines (sort_array + "
    "aggregate vs list(ORDER BY) + list_sum) — never an order-free "
    "float SUM.  Scale: the explode is O(total chars) of (doc_id, "
    "1-char) rows — the same cost class as the shingle stages — with "
    "ONE doc-keyed shuffle; alphabet size bounds per-doc state.",
)
def t_entropy(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("ch", "c"))).alias("lst"),
        F.count("*").alias("distinct_chars"),
    )
    n = F.aggregate(F.col("lst"), F.lit(0).cast("long"), lambda a, x: a + x["c"])
    ent = F.aggregate(
        F.col("lst"),
        F.lit(0.0),
        lambda a, x: a
        + (x["c"].cast("double") / F.col("n_chars").cast("double"))
        * F.log(x["c"].cast("double") / F.col("n_chars").cast("double")),
    )
    return (
        per_doc.withColumn("n_chars", n)
        .withColumn("char_entropy", F.round(-ent, 6))
        .select("doc_id", "n_chars", "distinct_chars", "char_entropy")
        .orderBy("doc_id")
    )


# ------------------------------------------------------ span-cut APPLY
@register(
    "t_span_cut_apply",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
           AS t
  FROM documents),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t)-7)) AS i
  FROM toks WHERE len(t) >= 8),
g AS (
  SELECT doc_id, i AS s, i + 7 AS e,
         {portable_hash64_sql("concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7])")}
           AS h
  FROM pos),
dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT g.doc_id, g.s, g.e FROM g JOIN dup ON g.h = dup.h),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e + 1) OVER (
                PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newf
  FROM hits),
lab AS (
  SELECT doc_id, s, e,
         SUM(newf) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
  FROM lab_src),
reg AS (
  SELECT doc_id, isle, CAST(MIN(s) AS BIGINT) AS rs, CAST(MAX(e) AS BIGINT) AS re
  FROM lab GROUP BY doc_id, isle),
regs AS (SELECT doc_id, list({{'rs': rs, 're': re}} ORDER BY rs) AS regs
         FROM reg GROUP BY doc_id),
app AS (
  SELECT tk.doc_id, tk.t,
         COALESCE(r.regs, CAST([] AS STRUCT(rs BIGINT, re BIGINT)[])) AS regs
  FROM toks tk LEFT JOIN regs r ON tk.doc_id = r.doc_id),
cut AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         list_filter(list_transform(t, (x, i) -> {{'tok': x, 'p': i}}),
                     sp -> len(list_filter(regs,
                             rg -> sp.p >= rg.rs AND sp.p <= rg.re)) = 0) AS kept
  FROM app)
SELECT doc_id, n_tokens,
       CAST(n_tokens - len(kept) AS BIGINT) AS removed_tokens,
       COALESCE(array_to_string(list_transform(kept, sp -> sp.tok), ' '), '')
         AS cleaned_text
FROM cut
ORDER BY doc_id
""".replace("lab_src", "isl"),
    doc="APPLY the exact-substring cut list (the step after "
    "d_span_regions reports it): duplicated 8-token regions are merged "
    "per doc and the tokens inside them are REMOVED, emitting the "
    "cleaned text plus removal accounting — Lee et al. 2022's "
    "deduplicate-the-span policy made executable.  Scale: region lists "
    "per doc are tiny (collect_list of merged islands) and join back "
    "broadcast-ably; the cut itself is a per-row higher-order filter — "
    "per-token x per-region work bounded by the island count, no "
    "shuffle beyond the region pipeline's own.",
)
def t_span_cut(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.timeseries import merge_intervals

    docs = load_table(spark, sf, "documents")
    t_all = docs.select("doc_id", tokens("text").alias("t"))
    t8 = t_all.where(F.size("t") >= 8)
    occ = t8.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t)-7), i -> concat_ws(' ', slice(t, i, 8)))"
            )
        ).alias("i0", "gram"),
    )
    spans = occ.select(
        "doc_id",
        (F.col("i0") + 1).alias("start"),
        (F.col("i0") + 8).alias("end"),
        portable_hash64("gram").alias("h"),
    )
    dup = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    hits = spans.join(dup, "h")
    regions = merge_intervals(hits.select("doc_id", "start", "end"), "doc_id")
    from ..operators.timeseries import apply_span_cuts

    return apply_span_cuts(t_all, regions).orderBy("doc_id")


# ------------------------------------------------------ class rebalancing
@register(
    "t_class_balance",
    oracle=f"""
WITH counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                FROM documents GROUP BY lang),
m AS (SELECT MIN(n) AS target FROM counts),
gated AS (
  SELECT d.doc_id, d.lang, c.n, m.target,
         ({portable_hash64_sql("CAST(d.doc_id AS VARCHAR) || 'balance'")} % 1000000)
           < CAST(FLOOR(CAST(m.target AS DOUBLE) / CAST(c.n AS DOUBLE) * 1000000) AS BIGINT)
           AS keep
  FROM documents d JOIN counts c ON d.lang = c.lang CROSS JOIN m)
SELECT lang, MAX(n) AS n_docs, MAX(target) AS target_per_class,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM gated
GROUP BY lang
ORDER BY lang
""",
    doc="deterministic class rebalancing: every language is "
    "down-sampled toward the MINORITY class size via the portable hash "
    "gate with a per-class fraction (target/n, quantized to millionths "
    "exactly like sample_gate) — the imbalanced-training fix that "
    "stays reproducible across runs, engines and row order, unlike "
    "df.sampleBy's RNG.  Scale: one count aggregate, a broadcast "
    "(class, fraction) panel, and a narrow per-row gate; the minority "
    "target is a 1-row panel, never a driver action.",
)
def t_balance(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    docs = load_table(spark, sf, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    m = counts.agg(F.min("n").alias("target"))
    h = portable_hash64(F.concat(F.col("doc_id").cast("string"), F.lit("balance")))
    gated = (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(m))
        .withColumn(
            "keep",
            # FLOOR on both engines — a bare BIGINT cast truncates in Spark
            # but rounds in DuckDB, so the gates would differ by one bucket
            # whenever the fraction's millionths part is >= .5
            (h % 1000000)
            < F.floor(
                F.col("target").cast("double") / F.col("n").cast("double") * 1000000
            ).cast("long"),
        )
    )
    return (
        gated.groupBy("lang")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("target").alias("target_per_class"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------ nearest as-of join
@register(
    "q_asof_nearest",
    oracle="""
WITH marks AS (SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-01-01',
                                             INTERVAL 1 YEAR)) AS mark_ts)
SELECT o_orderkey, strftime(mark_ts, '%Y-%m-%d') AS nearest_mark,
       CAST(ABS(date_diff('day', mark_ts, o_orderdate)) AS BIGINT) AS days_away
FROM orders
CROSS JOIN marks
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey
                           ORDER BY ABS(date_diff('day', mark_ts, o_orderdate)),
                                    mark_ts) = 1
ORDER BY o_orderkey
""",
    doc="NEAREST-direction as-of join (pandas merge_asof "
    "direction='nearest'): each event pairs with the closest calendar "
    "mark in EITHER direction, tie-broken toward the earlier mark — "
    "the sensor-fusion/alignment semantics the backward-only as-of "
    "(q_asof_join) can't express.  Scale: marks are a tiny broadcast "
    "panel, the per-event choice is one keep-nearest window on the "
    "event key (already the join's output partitioning) — never an "
    "event x event join.",
)
def q_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    marks = spark.createDataFrame(
        [(f"{y}-01-01 00:00:00",) for y in range(1995, 2002)], "mark string"
    ).select(F.to_timestamp("mark").alias("mark_ts"))
    joined = o.crossJoin(F.broadcast(marks)).withColumn(
        "days_away", F.abs(F.datediff(F.col("mark_ts"), F.col("o_orderdate"))).cast("long")
    )
    w = Window.partitionBy("o_orderkey").orderBy("days_away", "mark_ts")
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "o_orderkey",
            F.date_format("mark_ts", "yyyy-MM-dd").alias("nearest_mark"),
            "days_away",
        )
        .orderBy("o_orderkey")
    )


# ------------------------------------------------------ gaps and islands
@register(
    "q_order_streaks",
    oracle="""
WITH months AS (
  SELECT DISTINCT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) * 12 + EXTRACT(month FROM o_orderdate) - 1
              AS BIGINT) AS m
  FROM orders),
isl AS (
  SELECT o_custkey, m,
         m - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
  FROM months),
streaks AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS streak_months,
         CAST(MIN(m) AS BIGINT) AS start_m
  FROM isl GROUP BY o_custkey, grp),
best AS (
  SELECT o_custkey, streak_months, start_m
  FROM streaks
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY streak_months DESC, start_m) = 1)
SELECT o_custkey, streak_months,
       CAST(start_m // 12 AS BIGINT) AS start_year,
       CAST(start_m % 12 + 1 AS BIGINT) AS start_month
FROM best
ORDER BY streak_months DESC, o_custkey
LIMIT 25
""",
    doc="gaps-and-islands: each customer's LONGEST streak of "
    "consecutive order months, via the classic month-minus-row_number "
    "grouping (consecutive months share a constant difference) — the "
    "subscription/engagement-streak shape that needs no self-join and "
    "no recursion.  Scale: one distinct on (cust, month) — O(rows) "
    "with map-side partial — then two windows over the same "
    "customer-key sort shuffle; top-25 by TakeOrdered.",
)
def q_streaks(spark: SparkSession, sf: str) -> DataFrame:
    months = (
        load_table(spark, sf, "orders")
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("m"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("m")
    isl = months.withColumn("grp", F.col("m") - F.row_number().over(w))
    streaks = isl.groupBy("o_custkey", "grp").agg(
        F.count("*").alias("streak_months"), F.min("m").alias("start_m")
    )
    wb = Window.partitionBy("o_custkey").orderBy(
        F.col("streak_months").desc(), F.col("start_m")
    )
    return (
        streaks.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") == 1)
        .select(
            "o_custkey",
            "streak_months",
            F.expr("start_m DIV 12").alias("start_year"),
            (F.col("start_m") % 12 + 1).alias("start_month"),
        )
        .orderBy(F.col("streak_months").desc(), "o_custkey")
        .limit(25)
    )


# ------------------------------------------------------ skyline operator
@register(
    "q_skyline_parts",
    oracle="""
WITH pp AS (SELECT p_retailprice AS price, CAST(MAX(p_size) AS BIGINT) AS best_size
            FROM part GROUP BY p_retailprice),
r AS (SELECT price, best_size,
             MAX(best_size) OVER (ORDER BY price
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM pp)
SELECT price, best_size
FROM r
WHERE prev_max IS NULL OR best_size > prev_max
ORDER BY price
""",
    doc="skyline (Pareto frontier) over parts: minimize price, maximize "
    "size — a point survives iff NO strictly cheaper point matches its "
    "size (Borzsony et al. 2001's operator).  The naive formulation is "
    "an O(n^2) dominance self-join; this one is per-price max + a "
    "running max over the distinct-price relation — O(n log n) with "
    "small-key shuffles, the window-replaces-quadratic pattern this "
    "engine uses everywhere (cf. gaps-and-islands, keep-latest).  The "
    "running max itself is the two-phase distributed prefix max "
    "(operators/packing.with_prefix_max: range partition + local "
    "windows + bounded offsets broadcast), NOT an unpartitioned "
    "window — so no single task ever sorts the whole price domain.  "
    "The result is frame-identical to the oracle's exclusive running "
    "max, so the frontier is hash-checked point-for-point.",
)
def q_skyline(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.packing import with_prefix_max

    pp = (
        load_table(spark, sf, "part")
        .groupBy(F.col("p_retailprice").alias("price"))
        .agg(F.max("p_size").cast("long").alias("best_size"))
    )
    r = with_prefix_max(pp, "price", "best_size", out_col="prev_max")
    return (
        r.where(F.col("prev_max").isNull() | (F.col("best_size") > F.col("prev_max")))
        .select("price", "best_size")
        .orderBy("price")
    )


# --------------------------------------------------- second-stage rerank
_RERANK_FIRST_K = 50
_RERANK_K = 10
_QTOKS_SQL = "['join', 'shuffle', 'broadcast']"


@register(
    "t_rerank_topk",
    oracle=f"""
WITH {_bm25_cte(_BM25_TERMS)},
braw AS (SELECT doc_id,
                COALESCE(s_0, 0.0) + COALESCE(s_1, 0.0) + COALESCE(s_2, 0.0)
                  AS bm25_raw
         FROM pvt),
first AS (SELECT doc_id, bm25_raw
          FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY bm25_raw DESC, doc_id)
                            AS rk FROM braw)
          WHERE rk <= {_RERANK_FIRST_K}),
qd AS (SELECT f.doc_id, f.bm25_raw,
              list_distinct({_TOKS_SQL}) AS dt
       FROM first f JOIN documents d USING (doc_id)),
scored AS (SELECT doc_id, bm25_raw,
                  CAST(len(list_intersect(dt, {_QTOKS_SQL})) AS DOUBLE)
                  / (len(dt) + 3 - len(list_intersect(dt, {_QTOKS_SQL})))
                    AS rr
           FROM qd)
SELECT doc_id,
       ROUND(bm25_raw, 6) AS bm25_score,
       ROUND(rr, 6) AS rerank_score,
       CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rr DESC, bm25_raw DESC, doc_id)
                  AS rk
      FROM scored)
WHERE rk <= {_RERANK_K}
ORDER BY rank
""",
    doc="two-stage retrieval: BM25 recall (top-50) → cross-encoder-style "
    "RERANK → top-10 (ai/rerank.rerank_topk).  The rerank stage runs "
    "the REAL provider plumbing — Arrow-batched mapInPandas, one "
    "provider call per batch, executor-local client cache — with the "
    "deterministic token-overlap provider standing in for a hosted "
    "cross-encoder (HttpReranker speaks the Cohere-style /rerank "
    "contract, mock-HTTP e2e-tested).  Jaccard is an exact small-int "
    "division (IEEE-identical ordering on both engines); ties break on "
    "the raw BM25 sum (identical expression trees) then doc id.  "
    "Scale: rerank touches exactly first-stage-k rows; both cutoffs "
    "are distributed TakeOrdered, never a global window.",
)
def t_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..ai.rerank import TokenOverlapReranker, rerank_topk

    docs = load_table(spark, sf, "documents")
    top = rerank_topk(
        docs,
        _BM25_TERMS,
        TokenOverlapReranker,
        first_stage_k=_RERANK_FIRST_K,
        k=_RERANK_K,
    )
    return top.select(
        "doc_id",
        F.round("bm25_score", 6).alias("bm25_score"),
        F.round("rerank_score", 6).alias("rerank_score"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("rank")


# --------------------------------------------- skip-gram co-occurrence
_SKIPGRAM_WINDOW = 3


@register(
    "e_skipgram_pairs",
    oracle=f"""
WITH seqd AS MATERIALIZED (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events),
fwd AS MATERIALIZED (
  SELECT a.event_type AS c1, b.event_type AS c2
  FROM seqd a JOIN seqd b
    ON a.user_id = b.user_id
   AND b.seq - a.seq BETWEEN 1 AND {_SKIPGRAM_WINDOW}),
sym AS (SELECT c1 AS center, c2 AS context FROM fwd
        UNION ALL
        SELECT c2 AS center, c1 AS context FROM fwd),
agg AS MATERIALIZED (
  SELECT center, context, COUNT(*) AS pair_cnt FROM sym GROUP BY 1, 2),
tot AS (SELECT SUM(pair_cnt) AS t FROM agg),
cm AS (SELECT center, SUM(pair_cnt) AS ccnt FROM agg GROUP BY 1),
xm AS (SELECT context, SUM(pair_cnt) AS xcnt FROM agg GROUP BY 1)
SELECT a.center, a.context, CAST(a.pair_cnt AS BIGINT) AS pair_cnt,
       CAST((a.pair_cnt * t.t * 1000000) // (cm.ccnt * xm.xcnt) AS BIGINT)
         AS lift_micro
FROM agg a
JOIN cm USING (center) JOIN xm USING (context) CROSS JOIN tot t
ORDER BY pair_cnt DESC, center, context
""",
    doc="skip-gram (word2vec/SGNS) co-occurrence pair extraction over "
    f"per-user event sequences with a symmetric +-{_SKIPGRAM_WINDOW} "
    "window — the training-pair prep stage of every embedding "
    "pipeline — plus the PMI-style association lift each pair carries, "
    "in exact integer micro-units (pair_cnt*total*1e6 floor-divided by "
    "the margin product; products ride decimal(38,0)/HUGEINT so "
    "nothing overflows and no float enters a shuffle).  Scale: the "
    "context window is materialized as an exploded-OFFSET equi-join on "
    "(user_id, seq+off) — O(rows x window), never the quadratic "
    "per-user range self-join; one user-keyed sort shuffle for the "
    "sequence window; the pair table collapses to |types|^2 rows "
    "before the margin joins, which broadcast; the total is a 1-row "
    "panel.",
)
def e_skipgram_pairs(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    seqd = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("seq"),
    )
    offs = F.array(*[F.lit(i) for i in range(1, _SKIPGRAM_WINDOW + 1)])
    left = seqd.select(
        "user_id",
        F.col("event_type").alias("c1"),
        "seq",
        F.explode(offs).alias("off"),
    ).select("user_id", "c1", (F.col("seq") + F.col("off")).alias("tgt_seq"))
    right = seqd.select("user_id", F.col("event_type").alias("c2"), F.col("seq").alias("tgt_seq"))
    fwd = left.join(right, ["user_id", "tgt_seq"]).select("c1", "c2")
    sym = fwd.select(F.col("c1").alias("center"), F.col("c2").alias("context")).unionAll(
        fwd.select(F.col("c2").alias("center"), F.col("c1").alias("context"))
    )
    # |types|^2 rows; consumed by four plan branches (itself, two
    # margins, the total) -> checkpoint per the 3+-branch convention
    agg = (
        sym.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .localCheckpoint()
    )
    tot = agg.agg(F.sum("pair_cnt").alias("t"))
    cm = agg.groupBy("center").agg(F.sum("pair_cnt").alias("ccnt"))
    xm = agg.groupBy("context").agg(F.sum("pair_cnt").alias("xcnt"))
    dec = "decimal(38,0)"
    num = (
        F.col("pair_cnt").cast(dec) * F.col("t").cast(dec) * F.lit(1_000_000).cast(dec)
    )
    den = F.col("ccnt").cast(dec) * F.col("xcnt").cast(dec)
    return (
        agg.join(F.broadcast(cm), "center")
        .join(F.broadcast(xm), "context")
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            F.col("pair_cnt").cast("long").alias("pair_cnt"),
            ((num - num % den) / den).cast("long").alias("lift_micro"),
        )
        .orderBy(F.col("pair_cnt").desc(), "center", "context")
    )


@register(
    "e_next_event_accuracy",
    oracle="""
WITH seq AS MATERIALIZED (
  SELECT user_id, event_type, ts,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
bounds AS (
  SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2
           AS split_us FROM events),
labeled AS MATERIALIZED (
  SELECT s.prev, s.event_type AS next, epoch_us(s.ts) >= b.split_us AS is_eval
  FROM seq s CROSS JOIN bounds b WHERE s.prev IS NOT NULL),
train AS (
  SELECT prev, next, COUNT(*) AS n FROM labeled WHERE NOT is_eval GROUP BY 1, 2),
pred AS MATERIALIZED (
  SELECT prev, next AS predicted FROM (
    SELECT prev, next,
           ROW_NUMBER() OVER (PARTITION BY prev ORDER BY n DESC, next) AS rk
    FROM train) WHERE rk = 1),
eval_rows AS (
  SELECT l.prev, l.next, p.predicted
  FROM labeled l LEFT JOIN pred p ON l.prev = p.prev WHERE l.is_eval)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN predicted = next THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN predicted IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
       CAST(SUM(CASE WHEN predicted = next THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS accuracy_micro
FROM eval_rows
""",
    doc="in-engine model evaluation: temporal train/test split of the "
    "first-order Markov next-event model (e_markov_transitions) — train "
    "the argmax-transition predictor on the first half of the time "
    "range, score top-1 next-event accuracy on the second half, exactly "
    "(integer floor-division micro-units; the split point is exact "
    "midpoint timestamp arithmetic, no percentile sampling).  The "
    "paradigm every training-data pipeline needs in-engine: holdout "
    "evaluation WITHOUT exporting to a modeling stack.  Scale: one "
    "user-keyed sort shuffle for the lag window (shared by both "
    "splits), a |types|^2 training aggregate whose argmax window is "
    "partitioned by prev-state, a broadcast prediction join onto the "
    "eval stream, and a single scalar reduce.  1-row split-point panel "
    "rides a broadcast cross join.",
)
def e_next_event_acc(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev"),
    )
    # exact midpoint in microsecond space: min + (max-min)/2 with integer
    # division — identical to DuckDB's timestamp midpoint arithmetic
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.agg(
        (F.min(us) + F.floor((F.max(us) - F.min(us)) / 2).cast("long")).alias("split_us")
    )
    labeled = (
        seq.where(F.col("prev").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            "prev",
            F.col("event_type").alias("next"),
            (F.unix_micros(F.col("ts").cast("timestamp")) >= F.col("split_us")).alias(
                "is_eval"
            ),
        )
        # train and eval both read this — materialize so the user-keyed
        # lag-window shuffle runs ONCE, not once per split branch
        .localCheckpoint()
    )
    train = (
        labeled.where(~F.col("is_eval"))
        .groupBy("prev", "next")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rk = F.row_number().over(
        Window.partitionBy("prev").orderBy(F.col("n").desc(), "next")
    )
    pred = (
        train.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select("prev", F.col("next").alias("predicted"))
    )
    ev_rows = labeled.where(F.col("is_eval")).join(F.broadcast(pred), "prev", "left")
    correct = F.sum(F.when(F.col("predicted") == F.col("next"), 1).otherwise(0))
    n = F.count(F.lit(1))
    num = correct.cast("decimal(38,0)") * F.lit(1_000_000).cast("decimal(38,0)")
    den = n.cast("decimal(38,0)")
    return ev_rows.agg(
        n.cast("long").alias("n_eval"),
        correct.cast("long").alias("n_correct"),
        F.sum(F.when(F.col("predicted").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen"),
        ((num - num % den) / den).cast("long").alias("accuracy_micro"),
    )


@register(
    "q_k_anonymity",
    oracle="""
WITH classes AS MATERIALIZED (
  SELECT c_nationkey, c_mktsegment,
         COUNT(*) AS class_n,
         COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) AS l_div
  FROM customer GROUP BY 1, 2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(class_n) AS BIGINT) AS k_anonymity,
       CAST(MIN(l_div) AS BIGINT) AS l_diversity,
       CAST(SUM(CASE WHEN class_n < 10 THEN class_n ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(SUM(CASE WHEN class_n < 10 THEN class_n ELSE 0 END) * 1000000
            // SUM(class_n) AS BIGINT) AS risk_share_micro
FROM classes
""",
    doc="privacy-governance audit the training-data pipeline runs before "
    "release: k-anonymity (smallest quasi-identifier equivalence class "
    "over nation x market-segment), l-diversity (fewest distinct "
    "sensitive-attribute values — account-balance bands — in any "
    "class), and the exact row count + micro-unit share sitting in "
    "classes below the k=10 re-identification threshold (Sweeney 2002; "
    "Machanavajjhala 2007).  Scale: ONE quasi-identifier groupBy with "
    "partial aggregation (count + distinct-band), then a scalar reduce "
    "over the |QI-combinations|-sized class table — row volume never "
    "leaves the first aggregate.",
)
def q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    band = F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_n"),
        F.countDistinct(band).alias("l_div"),
    )
    at_risk = F.sum(F.when(F.col("class_n") < 10, F.col("class_n")).otherwise(0))
    total = F.sum("class_n")
    num = at_risk.cast("decimal(38,0)") * F.lit(1_000_000).cast("decimal(38,0)")
    den = total.cast("decimal(38,0)")
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("class_n").cast("long").alias("k_anonymity"),
        F.min("l_div").cast("long").alias("l_diversity"),
        at_risk.cast("long").alias("rows_at_risk"),
        ((num - num % den) / den).cast("long").alias("risk_share_micro"),
    )


@register(
    "q_partition_checksums",
    oracle="""
WITH hashed AS (
  SELECT date_trunc('month', l_shipdate) AS month_start,
         CAST('0x' || substr(md5(concat_ws('|',
              CAST(l_orderkey AS VARCHAR),
              CAST(l_linenumber AS VARCHAR),
              CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
              CAST(l_shipdate AS VARCHAR))), 1, 15) AS BIGINT) AS h
  FROM lineitem)
SELECT CAST(month_start AS DATE) AS month_start,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS checksum
FROM hashed GROUP BY 1 ORDER BY 1
""",
    doc="partition-level integrity manifest: an order-independent, "
    "MERGEABLE checksum (sum of portable 60-bit row hashes mod the "
    "Mersenne prime 2^61-1) plus exact row count per shipdate month — "
    "what replication / backfill / migration verification diffs "
    "between two copies of a table to localize divergence to a "
    "partition without comparing rows.  Order-independence means the "
    "checksum is insensitive to file layout and shuffle order; "
    "mergeability means per-file checksums roll up to partition and "
    "table level.  Scale: embarrassingly parallel map + ONE "
    "partial-agg'd groupBy on the partition key; no joins, no windows.",
)
def q_partition_checksums(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    h = portable_hash64(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            cents.cast("string"),
            F.col("l_shipdate").cast("string"),
        )
    )
    mersenne = 2_305_843_009_213_693_951
    return (
        li.select(F.trunc("l_shipdate", "month").alias("month_start"), h.alias("h"))
        .groupBy("month_start")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(mersenne))
            .cast("long")
            .alias("checksum"),
        )
        .orderBy("month_start")
    )


# ------------------------------------------------- shipping-lag DQ audit
@register(
    "q_shipping_lag_audit",
    oracle="""
WITH j AS (
  SELECT o.o_orderpriority AS priority,
         datediff('day', o.o_orderdate, l.l_shipdate) AS ship_days,
         CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END AS viol
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_items,
       FLOOR(CAST(SUM(ship_days) AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100
         AS avg_ship_days,
       CAST(MIN(ship_days) AS BIGINT) AS min_ship_days,
       CAST(MAX(ship_days) AS BIGINT) AS max_ship_days,
       CAST(SUM(viol) AS BIGINT) AS n_temporal_violations
FROM j GROUP BY priority
ORDER BY priority
""",
    doc="cross-table temporal-logic audit per order priority: the "
    "order->ship day lag profile (exact integer datediffs; the mean is "
    "one mirrored division) plus the count of line items shipping "
    "BEFORE their order date — the data-quality check q_data_checks' "
    "null/unique/FK suite cannot express, because it compares columns "
    "across tables.  A violation count above zero on a fresh load "
    "means the ingest pipeline corrupted dates (clock skew, timezone "
    "double-apply, column swap); the min/max lags catch the same bugs "
    "when they stay on the legal side of zero.  Scale: one fact-sized "
    "equi-join (orderkey) and one map-side-combined rollup to "
    "|priorities| rows.",
)
def q_shipping_lag_audit(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").alias("ship_days"),
        F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0).alias("viol"),
    )
    return (
        j.groupBy("priority")
        .agg(
            F.count("*").alias("n_items"),
            (
                F.floor(F.sum("ship_days").cast("double") / F.count("*") * 100 + 0.5)
                / 100
            ).alias("avg_ship_days"),
            F.min("ship_days").cast("long").alias("min_ship_days"),
            F.max("ship_days").cast("long").alias("max_ship_days"),
            F.sum("viol").alias("n_temporal_violations"),
        )
        .orderBy("priority")
    )


# ------------------------------------------------- supplier KPI scorecard
@register(
    "q_supplier_scorecard",
    oracle="""
WITH kpi AS (
  SELECT l.l_suppkey,
         CAST(SUM(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)) AS BIGINT)
           AS revenue_cents,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned,
         CAST(SUM(datediff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT)
           AS ship_day_sum
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY l.l_suppkey),
card AS (
  SELECT s.s_suppkey, n.n_name, k.revenue_cents, k.n_items,
         FLOOR(CAST(k.n_returned AS DOUBLE) / k.n_items * 1000000 + 0.5)
           / 1000000 AS return_rate,
         FLOOR(CAST(k.ship_day_sum AS DOUBLE) / k.n_items * 100 + 0.5) / 100
           AS avg_ship_days,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY k.revenue_cents DESC, s.s_suppkey)
           AS nation_rank
  FROM kpi k
  JOIN supplier s ON s.s_suppkey = k.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey)
SELECT n_name, CAST(nation_rank AS INT) AS nation_rank, s_suppkey,
       revenue_cents, n_items, return_rate, avg_ship_days
FROM card
WHERE nation_rank <= 3
ORDER BY n_name, nation_rank
""",
    doc="composite supplier scorecard: one fact pass reduces four KPIs "
    "per supplier (net revenue in exact cents, item count, return "
    "rate, average order->ship lag), dimensions join after the "
    "rollup, and a nation-partitioned rank cuts the top-3 per nation "
    "— the wide-KPI-then-rank shape every vendor-management dashboard "
    "runs.  Exactness: KPI numerators stay integer; the two rates are "
    "mirrored single divisions.  Scale: ONE fact-sized equi-join + "
    "one partial-agg'd supplier rollup (KPIs reduce together, the "
    "fact is scanned once); supplier/nation joins happen on the "
    "|suppliers|-sized rollup with the nation dim broadcast; the rank "
    "window is nation-partitioned, never global.",
)
def q_supplier_scorecard(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_returnflag", "l_shipdate",
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    kpi = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            )
            .cast("long")
            .alias("revenue_cents"),
            F.count("*").alias("n_items"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "n_returned"
            ),
            F.sum(F.datediff("l_shipdate", "o_orderdate")).alias("ship_day_sum"),
        )
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue_cents").desc(), F.col("s_suppkey")
    )
    card = (
        kpi.join(s, kpi.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "s_suppkey",
            "revenue_cents",
            "n_items",
            (
                F.floor(
                    F.col("n_returned").cast("double") / F.col("n_items") * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("return_rate"),
            (
                F.floor(
                    F.col("ship_day_sum").cast("double") / F.col("n_items") * 100 + 0.5
                )
                / 100
            ).alias("avg_ship_days"),
        )
        .withColumn("nation_rank", F.row_number().over(w))
    )
    return (
        card.where(F.col("nation_rank") <= 3)
        .select(
            "n_name", "nation_rank", "s_suppkey", "revenue_cents",
            "n_items", "return_rate", "avg_ship_days",
        )
        .orderBy("n_name", "nation_rank")
    )


# ------------------------------------------------- blocklist safety screen
_BLOCKLIST = (("slow", "latency"), ("big", "capacity"), ("filter", "ops"))


@register(
    "t_blocklist_screen",
    oracle=f"""
WITH bl(term, category) AS (VALUES {", ".join(f"('{t}', '{c}')" for t, c in _BLOCKLIST)}),
toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok FROM documents),
hits AS (SELECT t.doc_id, b.category
         FROM toks t JOIN bl b ON t.tok = b.term)
SELECT category,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_flagged,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM hits
GROUP BY category
ORDER BY category
""",
    doc="blocklist safety screen (the curation gate run before any "
    "content ships to training): whitespace tokens equi-join a tiny "
    "categorized term blocklist; per category, the count of flagged "
    "documents (distinct) and total term hits — at production scale "
    "the list is thousands of terms and the SAME broadcast equi-join "
    "shape holds (token explode never meets tokens outside the list).  "
    "Deliberately term-exact: regex/fuzzy variants belong to "
    "t_pii_redact's family.  Scale: one token explode + one broadcast "
    "join + a two-phase distinct rollup per category.",
)
def t_blocklist_screen(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import tokens as _ws_tokens

    bl = spark.createDataFrame(list(_BLOCKLIST), ["term", "category"])
    toks = load_table(spark, sf, "documents").select(
        "doc_id", F.explode(_ws_tokens("text")).alias("tok")
    )
    hits = toks.join(F.broadcast(bl), toks.tok == bl.term)
    return (
        hits.groupBy("category")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_flagged"),
            F.count("*").alias("n_hits"),
        )
        .orderBy("category")
    )


# ------------------------------------------------- ABC/XYZ classification
@register(
    "q_abc_xyz",
    oracle="""
WITH bm AS (
  SELECT p.p_brand AS brand,
         CAST((EXTRACT(YEAR FROM l.l_shipdate) - 1992) * 12
              + EXTRACT(MONTH FROM l.l_shipdate) - 1 AS BIGINT) AS m,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(SUM(ROUND(l.l_extendedprice * 100)) AS BIGINT) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2),
b AS (
  SELECT brand, CAST(SUM(rev) AS BIGINT) AS rev,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(qty) AS BIGINT) AS s_q,
         SUM(CAST(qty AS HUGEINT) * qty) AS s_qq
  FROM bm GROUP BY brand),
tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS t_rev FROM b),
ranked AS (
  SELECT a.brand, a.rev, a.n_months, a.s_q, a.s_qq,
         CAST(SUM(o.rev) AS BIGINT) AS cum_rev
  FROM b a JOIN b o
    ON (o.rev > a.rev) OR (o.rev = a.rev AND o.brand <= a.brand)
  GROUP BY a.brand, a.rev, a.n_months, a.s_q, a.s_qq),
cls AS (
  SELECT r.brand, r.rev,
         FLOOR(CAST(r.cum_rev AS DOUBLE) / t.t_rev * 1000000 + 0.5) / 1000000
           AS cum_share,
         sqrt(CAST(r.n_months * r.s_qq - CAST(r.s_q AS HUGEINT) * r.s_q AS DOUBLE))
           / r.s_q AS cv_raw
  FROM ranked r CROSS JOIN tot t)
SELECT brand, rev AS revenue_cents, cum_share,
       CASE WHEN cum_share <= 0.8 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc,
       FLOOR(cv_raw * 1000000 + 0.5) / 1000000 AS demand_cv,
       CASE WHEN cv_raw < 0.5 THEN 'X'
            WHEN cv_raw < 1.0 THEN 'Y' ELSE 'Z' END AS xyz
FROM cls
ORDER BY brand
""",
    doc="ABC/XYZ inventory classification per brand: ABC from the "
    "cumulative revenue share (A <= 80%, B <= 95%) computed by a "
    "rank-cumsum THETA-self-join on the bounded brand panel — never an "
    "unpartitioned window — and XYZ from the coefficient of variation "
    "of MONTHLY demand (X < 0.5, Y < 1.0), whose numerator n*Sqq - Sq^2 "
    "stays widened-integer inside one mirrored sqrt.  The planning "
    "matrix every supply chain segments stock by (A-X = automate, C-Z "
    "= review manually).  Scale: one fact-sized rollup to (brand, "
    "month), a brand rollup, and |brands|^2 panel joins (25 brands — "
    "constant).",
)
def q_abc_xyz(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    bm = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            ((F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1)
            .cast("long")
            .alias("m"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100)).cast("long").alias("rev"),
        )
    )
    b = bm.groupBy("brand").agg(
        F.sum("rev").alias("rev"),
        F.count("*").alias("n_months"),
        F.sum("qty").alias("s_q"),
        F.sum(dec(F.col("qty")) * F.col("qty")).alias("s_qq"),
    ).localCheckpoint()  # 25-row panel feeds the theta-self-join twice
    tot = b.agg(F.sum("rev").alias("t_rev"))
    a, o = b.alias("a"), b.alias("o")
    ranked = (
        a.join(
            F.broadcast(o),
            (F.col("o.rev") > F.col("a.rev"))
            | ((F.col("o.rev") == F.col("a.rev")) & (F.col("o.brand") <= F.col("a.brand"))),
        )
        .groupBy(
            F.col("a.brand").alias("brand"),
            F.col("a.rev").alias("rev"),
            F.col("a.n_months").alias("n_months"),
            F.col("a.s_q").alias("s_q"),
            F.col("a.s_qq").alias("s_qq"),
        )
        .agg(F.sum(F.col("o.rev")).alias("cum_rev"))
    )
    cv_raw = F.sqrt(
        (dec(F.col("n_months")) * F.col("s_qq") - F.col("s_q").cast("decimal(38,0)") * F.col("s_q")).cast(
            "double"
        )
    ) / F.col("s_q")
    cum_share = (
        F.floor(F.col("cum_rev").cast("double") / F.col("t_rev") * 1000000 + 0.5)
        / 1000000
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "brand",
            F.col("rev").alias("revenue_cents"),
            cum_share.alias("cum_share"),
            F.when(cum_share <= 0.8, "A").when(cum_share <= 0.95, "B").otherwise("C").alias("abc"),
            (F.floor(cv_raw * 1000000 + 0.5) / 1000000).alias("demand_cv"),
            F.when(cv_raw < 0.5, "X").when(cv_raw < 1.0, "Y").otherwise("Z").alias("xyz"),
        )
        .orderBy("brand")
    )


# ----------------------------------------------- stupid-backoff LM score
@register(
    "t_trigram_backoff",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t,
                     {portable_hash64_sql("CAST(doc_id AS VARCHAR) || 'lm'")} % 5 = 0
                       AS is_eval
              FROM documents),
tr AS (SELECT doc_id, t FROM toks WHERE NOT is_eval),
ev AS (SELECT doc_id, t FROM toks WHERE is_eval AND len(t) >= 3),
c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
       FROM (SELECT unnest(t) AS tok FROM tr) GROUP BY tok),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_toks,
               CAST(COUNT(*) AS BIGINT) AS v FROM c1),
b2 AS (SELECT concat_ws(' ', t[i], t[i+1]) AS b, CAST(COUNT(*) AS BIGINT) AS c
       FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
             FROM tr WHERE len(t) >= 2) GROUP BY b),
c3 AS (SELECT concat_ws(' ', t[i], t[i+1], t[i+2]) AS g, CAST(COUNT(*) AS BIGINT) AS c
       FROM (SELECT t, unnest(generate_series(1, len(t)-2)) AS i
             FROM tr WHERE len(t) >= 3) GROUP BY g),
eg AS (SELECT doc_id,
              t[i+1] AS w2, t[i+2] AS w3,
              concat_ws(' ', t[i], t[i+1]) AS b12,
              concat_ws(' ', t[i+1], t[i+2]) AS b23,
              concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM ev)),
sc AS (SELECT eg.doc_id,
              CASE WHEN COALESCE(c3.c, 0) > 0 THEN 1
                   WHEN COALESCE(b23c.c, 0) > 0 THEN 2 ELSE 3 END AS branch,
              CASE WHEN COALESCE(c3.c, 0) > 0
                     THEN -ln(CAST(c3.c AS DOUBLE) / b12c.c)
                   WHEN COALESCE(b23c.c, 0) > 0
                     THEN -ln(0.4 * CAST(b23c.c AS DOUBLE) / w2c.c)
                   ELSE -ln(0.16 * (CAST(COALESCE(w3c.c, 0) AS DOUBLE) + 1)
                            / (tot.t_toks + tot.v)) END AS nl
       FROM eg
       LEFT JOIN c3 ON c3.g = eg.g
       LEFT JOIN b2 b12c ON b12c.b = eg.b12
       LEFT JOIN b2 b23c ON b23c.b = eg.b23
       LEFT JOIN c1 w2c ON w2c.tok = eg.w2
       LEFT JOIN c1 w3c ON w3c.tok = eg.w3
       CROSS JOIN tot)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(CASE WHEN branch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
       CAST(SUM(CASE WHEN branch = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
       CAST(SUM(CASE WHEN branch = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_or_oov,
       ROUND(AVG(nl), 6) AS avg_neg_logscore
FROM sc GROUP BY doc_id
ORDER BY doc_id
""",
    doc="stupid-backoff trigram language-model scoring on a HELD-OUT "
    "split (the CCNet-style LM quality filter, fully in-engine): "
    "1/5 of documents (portable doc_id hash) are scored against "
    "trigram/bigram/unigram count tables built from the other 4/5, so "
    "the backoff ladder actually exercises — trigram hit -> "
    "c3/c2(w1w2); bigram hit -> 0.4·c2(w2w3)/c1(w2); else the 0.16·"
    "Laplace unigram floor (c1(w3)+1)/(T+V), which also absorbs OOV "
    "tokens without ln(0).  Per eval doc: mean negative log score plus "
    "per-branch hit counts, the telemetry that separates 'fluent but "
    "unseen domain' (bigram backoffs) from 'word salad' (unigram "
    "floor).  Scale: three train count tables (map-side-combined "
    "groupBys keyed by short ngram strings) equi-joined onto the "
    "exploded eval trigram stream — no self-joins, no broadcast of "
    "corpus-sized tables — then a per-doc rollup.",
)
def t_trigram_backoff(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        tokens("text").alias("t"),
        (
            F.pmod(
                portable_hash64(F.concat(F.col("doc_id").cast("string"), F.lit("lm"))),
                F.lit(5),
            )
            == 0
        ).alias("is_eval"),
    ).localCheckpoint()  # feeds the three train tables and the eval stream
    tr = toks.where(~F.col("is_eval"))
    ev = toks.where(F.col("is_eval") & (F.size("t") >= 3))
    c1 = (
        tr.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = c1.agg(
        F.sum("c").cast("long").alias("t_toks"), F.count(F.lit(1)).cast("long").alias("v")
    )
    b2 = (
        tr.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t)-1), i -> concat_ws(' ', slice(t, i, 2)))"
                )
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c3 = (
        tr.where(F.size("t") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t)-2), i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    eg = ev.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t)-2), i -> struct("
                "element_at(t, i+1) AS w2, element_at(t, i+2) AS w3, "
                "concat_ws(' ', slice(t, i, 2)) AS b12, "
                "concat_ws(' ', slice(t, i+1, 2)) AS b23, "
                "concat_ws(' ', slice(t, i, 3)) AS g))"
            )
        ).alias("p"),
    ).select("doc_id", "p.*")
    j = (
        eg.join(c3.withColumnRenamed("c", "c3c"), "g", "left")
        .join(b2.select(F.col("b").alias("b12"), F.col("c").alias("b12c")), "b12", "left")
        .join(b2.select(F.col("b").alias("b23"), F.col("c").alias("b23c")), "b23", "left")
        .join(c1.select(F.col("tok").alias("w2"), F.col("c").alias("w2c")), "w2", "left")
        .join(c1.select(F.col("tok").alias("w3"), F.col("c").alias("w3c")), "w3", "left")
        .crossJoin(F.broadcast(tot))
    )
    hit3 = F.coalesce(F.col("c3c"), F.lit(0)) > 0
    hit2 = F.coalesce(F.col("b23c"), F.lit(0)) > 0
    branch = F.when(hit3, 1).when(hit2, 2).otherwise(3)
    nl = (
        F.when(hit3, -F.log(F.col("c3c").cast("double") / F.col("b12c")))
        .when(hit2, -F.log(0.4 * F.col("b23c").cast("double") / F.col("w2c")))
        .otherwise(
            -F.log(
                0.16
                * (F.coalesce(F.col("w3c"), F.lit(0)).cast("double") + 1)
                / (F.col("t_toks") + F.col("v"))
            )
        )
    )
    return (
        j.select("doc_id", branch.alias("branch"), nl.alias("nl"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.sum(F.when(F.col("branch") == 1, 1).otherwise(0)).cast("long").alias("n_hit3"),
            F.sum(F.when(F.col("branch") == 2, 1).otherwise(0)).cast("long").alias("n_hit2"),
            F.sum(F.when(F.col("branch") == 3, 1).otherwise(0))
            .cast("long")
            .alias("n_uni_or_oov"),
            F.round(F.avg("nl"), 6).alias("avg_neg_logscore"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------- temperature mixing
_MIX_BUDGET = 1_000_000


@register(
    "t_mix_temperature",
    oracle=f"""
WITH s AS (
  SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens,
               CAST(SUM(CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                             AS BIGINT)) AS BIGINT) AS z_micro FROM s)
SELECT s.source, s.n_docs, s.n_tokens,
       FLOOR(CAST(s.n_tokens AS DOUBLE) / tot.t_tokens * 1000000 + 0.5) / 1000000
         AS p_natural,
       FLOOR(FLOOR(sqrt(CAST(s.n_tokens AS DOUBLE)) * 1000000) / tot.z_micro
             * 1000000 + 0.5) / 1000000 AS p_temp,
       CAST(FLOOR(FLOOR(sqrt(CAST(s.n_tokens AS DOUBLE)) * 1000000) / tot.z_micro
                  * {_MIX_BUDGET}) AS BIGINT) AS alloc_tokens,
       FLOOR(FLOOR(FLOOR(sqrt(CAST(s.n_tokens AS DOUBLE)) * 1000000) / tot.z_micro
                   * {_MIX_BUDGET})
             / CAST(s.n_tokens AS DOUBLE) * 1000000 + 0.5) / 1000000 AS epochs
FROM s CROSS JOIN tot
ORDER BY s.source
""",
    doc="temperature-scaled training-mix planner (the multilingual/"
    "multi-source sampling rule, alpha = 0.5): per source, the natural "
    "token share and the temperature share p_s ∝ n_s^0.5 — sqrt, not "
    "pow(x, alpha), so both engines compute the exact IEEE value with "
    "no libm-pow divergence, and each source's sqrt is quantized to "
    "integer micro-units BEFORE the normalizer sum, so aggregation "
    "order cannot move the shares — plus the token allocation under a 1M-"
    "token budget and the implied EPOCHS per source (allocation over "
    "available tokens: the number every mix review asks for, because "
    "epochs >> 1 on a small source means memorization risk, the reason "
    "temperature sampling exists).  Scale: one map-side-combined "
    "per-source rollup (sources are bounded), a 1-row total panel "
    "crossed back over the source table.",
)
def t_mix_temperature(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    s = d.groupBy("source").agg(
        F.sum(token_count("text")).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tot = s.agg(
        F.sum("n_tokens").cast("long").alias("t_tokens"),
        # per-source sqrt quantized to integer micro-units BEFORE the sum:
        # the normalizer is an exact integer, so no float-summation-order
        # divergence across engines/partitionings
        F.sum(F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000).cast("long"))
        .cast("long")
        .alias("z_micro"),
    )
    w = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000)
    alloc = F.floor(w / F.col("z_micro") * _MIX_BUDGET)
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (
                F.floor(F.col("n_tokens").cast("double") / F.col("t_tokens") * 1000000 + 0.5)
                / 1000000
            ).alias("p_natural"),
            (F.floor(w / F.col("z_micro") * 1000000 + 0.5) / 1000000).alias("p_temp"),
            alloc.cast("long").alias("alloc_tokens"),
            (
                F.floor(alloc / F.col("n_tokens").cast("double") * 1000000 + 0.5)
                / 1000000
            ).alias("epochs"),
        )
        .orderBy("source")
    )
