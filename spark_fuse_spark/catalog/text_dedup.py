"""Text-analysis and deduplication query suite over ``documents``.

The probabilistic dedup strategies (MinHash-LSH, SimHash) are still
oracle-checked: the hash primitives in ``functions.hashing`` are
engine-portable (md5-based), so the DuckDB oracle replays the identical
hash/band pipeline in SQL — generated programmatically below from the
same coefficient family the Spark side uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_P, minhash_coefficients, portable_hash64, portable_hash64_sql
from ..functions.text import (
    doc_fingerprint,
    tokens,
    language_id,
    normalize_whitespace,
    punct_ratio,
    quality_score,
    stopword_ratio,
    subword_token_count,
    token_count,
    BPE_SPLIT_PATTERN,
    STOPWORDS,
)
from ..operators.dedup import (
    containment_pairs,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..tables import load_table
from . import register

# ---------------------------------------------------------------- SQL helpers
# DuckDB twins of functions.text primitives (single-quoted regexes: backslash
# is literal inside SQL strings, so '\s+' arrives at RE2 as \s+).
_NORM = "trim(regexp_replace({col}, '\\s+', ' ', 'g'))"
_TOKS = "regexp_split_to_array(trim(lower(regexp_replace({col}, '\\s+', ' ', 'g'))), ' ')"


def _shingle_sql(k: int, toks: str = "t") -> str:
    """Distinct k-word shingles from a token list column ``toks``."""
    if k == 1:
        return f"list_distinct({toks})"
    parts = ", ".join(f"{toks}[i+{j}]" for j in range(k))
    return (
        f"list_distinct(list_transform(generate_series(1, len({toks})-{k - 1}), "
        f"i -> concat_ws(' ', {parts})))"
    )


def _sw_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"[{words}]"


def _jaccard_cte(k: int, threshold: float) -> str:
    """CTE chain computing exact jaccard pairs ≥ threshold (named ``exact``)."""
    return f"""
toks AS (SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents),
sh AS (SELECT doc_id, {_shingle_sql(k)} AS sh FROM toks WHERE len(t) >= {k}),
ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
exact AS (
  SELECT id_a, id_b, ROUND(shared / (na + nb - shared), 6) AS jaccard
  FROM pairs WHERE shared / (na + nb - shared) >= {threshold})
"""


# -------------------------------------------------------------------- queries
@register(
    "t_normalize_tokens",
    oracle=f"""
SELECT doc_id,
       {_NORM.format(col="text")} AS norm_text,
       CAST(len({_TOKS.format(col="text")}) AS BIGINT) AS n_tokens
FROM documents
""",
    doc="normalize_whitespace (reference F1) + whitespace token count. "
    "Pure codegen expressions — text scoring at scan speed.",
)
def t_normalize(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        normalize_whitespace("text").alias("norm_text"),
        token_count("text").alias("n_tokens"),
    )


_BPE_SQL = BPE_SPLIT_PATTERN.replace("'", "''")


@register(
    "t_token_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT) AS subword_tokens,
       ROUND(CAST(length(text) AS DOUBLE)
             / NULLIF(len(regexp_extract_all(text, '{_BPE_SQL}')), 0), 6)
         AS chars_per_subword
FROM documents
ORDER BY doc_id
""",
    doc="Token counting two ways (brief: 'whitespace + a BPE-ish regex'): "
    "whitespace tokens and GPT-2-style pre-tokenizer matches via "
    "regexp_count — both pure codegen, one scan, no Python.  The "
    "chars-per-subword ratio is the standard tokens-from-bytes estimator "
    "for training-data budgeting.",
)
def t_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    sub = subword_token_count("text")
    return d.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        sub.alias("subword_tokens"),
        F.round(
            F.length("text").cast("double") / F.nullif(sub, F.lit(0)), 6
        ).alias("chars_per_subword"),
    ).orderBy("doc_id")


@register(
    "t_stratified_sample",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's42'), 1, 15) AS BIGINT)
      % 1000000
      < CASE WHEN lang = 'en' THEN 500000
             WHEN lang = 'de' THEN 250000
             ELSE 100000 END
GROUP BY lang
ORDER BY lang
""",
    doc="deterministic stratified sampling: per-language keep rates via a "
    "portable hash gate (en 50%, de 25%, others 10%) — reproducible "
    "across engines/partitionings/re-runs, unlike RNG sampleBy; the "
    "oracle replays the exact same md5 decision per row.  No shuffle: "
    "the gate is a per-row predicate pushed into the scan's filter stage.",
)
def t_sample(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sampling import stratified_hash_sample

    d = load_table(spark, sf, "documents")
    sampled = stratified_hash_sample(
        d, "doc_id", "lang", {"en": 0.5, "de": 0.25}, default_fraction=0.1, salt="s42"
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


@register(
    "t_corpus_build",
    oracle=f"""
WITH n AS (
  SELECT doc_id, text, lang, CAST(length(text) AS DOUBLE) AS len,
         {_TOKS.format(col="text")} AS toks
  FROM documents),
m AS (
  SELECT doc_id, text, lang,
    CASE WHEN len >= 50 AND len <= 20000 THEN 1.0 ELSE least(len / 50.0, 1.0) END AS length_ok,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / greatest(length(text), 1)
      + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1)
      AS noise,
    len(list_filter(toks, tk -> list_contains({_sw_sql('en')}, tk))) / greatest(len(toks), 1)
      AS swr
  FROM n),
q AS (
  SELECT doc_id, text, lang
  FROM m
  WHERE ROUND(length_ok * 0.4 + greatest(0.0, 1.0 - noise * 4) * 0.4
              + least(swr * 5, 1.0) * 0.2, 6) >= 0.45),
dd AS (
  SELECT doc_id, text, lang,
         MIN(doc_id) OVER (PARTITION BY {portable_hash64_sql(_NORM.format(col="lower(text)"))})
           AS keeper
  FROM q),
s AS (
  SELECT doc_id, text, lang FROM dd
  WHERE doc_id = keeper
    AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cb'), 1, 15) AS BIGINT)
        % 1000000
        < CASE WHEN lang = 'en' THEN 500000
               WHEN lang = 'de' THEN 250000
               ELSE 100000 END)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_BPE_SQL}'))) AS BIGINT) AS total_tokens
FROM s
GROUP BY lang
ORDER BY lang
""",
    doc="end-to-end corpus build: quality gate (>= 0.45) -> exact dedup "
    "(keep lowest doc_id per content fingerprint) -> deterministic "
    "stratified sampling (en 50% / de 25% / 10%) -> per-language doc and "
    "BPE-ish token budget.  Every stage is the catalog operator itself, "
    "composed; the oracle replays the full pipeline in SQL.  Scale shape: "
    "one scan, codegen scoring, ONE fingerprint shuffle (the dedup "
    "window), then a per-row sample gate and a partial-agg rollup.",
)
def t_corpus_build(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.sampling import stratified_hash_sample

    d = load_table(spark, sf, "documents")
    q = d.where(F.round(quality_score("text"), 6) >= 0.45)
    dd = q.withColumn(
        "keeper",
        F.min("doc_id").over(Window.partitionBy(doc_fingerprint("text"))),
    ).where(F.col("doc_id") == F.col("keeper"))
    s = stratified_hash_sample(
        dd, "doc_id", "lang", {"en": 0.5, "de": 0.25}, default_fraction=0.1, salt="cb"
    )
    return (
        s.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(subword_token_count("text")).cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "t_quality_score",
    oracle=f"""
WITH n AS (
  SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS len,
         {_TOKS.format(col="text")} AS toks
  FROM documents),
m AS (
  SELECT doc_id,
    CASE WHEN len >= 50 AND len <= 20000 THEN 1.0 ELSE least(len / 50.0, 1.0) END AS length_ok,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / greatest(length(text), 1)
      + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1)
      AS noise,
    len(list_filter(toks, tk -> list_contains({_sw_sql('en')}, tk))) / greatest(len(toks), 1)
      AS swr
  FROM n)
SELECT doc_id,
       ROUND(length_ok * 0.4 + greatest(0.0, 1.0 - noise * 4) * 0.4
             + least(swr * 5, 1.0) * 0.2, 6) AS quality
FROM m
""",
    doc="composite quality heuristic (length band, punct/digit noise, "
    "stopword ratio) — the training-data quality-scoring operator.",
)
def t_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", F.round(quality_score("text"), 6).alias("quality"))


@register(
    "t_language_id",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents),
hits AS (
  SELECT doc_id,
{", ".join(f"    len(list_filter(t, tk -> list_contains({_sw_sql(code)}, tk))) AS h_{code}"
           for code in sorted(STOPWORDS))}
  FROM toks),
best AS (
  SELECT doc_id,
         greatest({", ".join(f"h_{c}" for c in sorted(STOPWORDS))}) AS mx,
{chr(10).join(f"         h_{c}," for c in sorted(STOPWORDS))}
         1 AS _dummy
  FROM hits)
SELECT doc_id,
       CASE WHEN mx <= 0 THEN 'und'
{chr(10).join(f"            WHEN h_{c} = mx THEN '{c}'" for c in sorted(STOPWORDS))}
       END AS lang_pred
FROM best
""",
    doc="heuristic language ID: per-language stopword hit counts, argmax "
    "with deterministic tie-break (language-code order).",
)
def t_langid(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", language_id("text").alias("lang_pred"))


@register(
    "t_stopword_punct",
    oracle=f"""
WITH toks AS (SELECT doc_id, text, {_TOKS.format(col="text")} AS t FROM documents)
SELECT doc_id,
  ROUND(len(list_filter(t, tk -> list_contains({_sw_sql('en')}, tk)))
        / greatest(len(t), 1), 6) AS stopword_ratio,
  ROUND((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        / greatest(length(text), 1), 6) AS punct_ratio
FROM toks
""",
    doc="per-document stopword and punctuation ratios.",
)
def t_ratios(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.round(stopword_ratio("text", "en"), 6).alias("stopword_ratio"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
    )


@register(
    "t_doc_fingerprint",
    oracle=f"""
SELECT doc_id,
       {portable_hash64_sql(_NORM.format(col="lower(text)"))} AS fingerprint
FROM documents
""",
    doc="portable 60-bit content fingerprint (md5-derived; identical "
    "across engines).",
)
def t_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


@register(
    "d_dedup_exact",
    oracle=f"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM (SELECT doc_id, {portable_hash64_sql(_NORM.format(col="lower(text)"))} AS fp
      FROM documents)
GROUP BY fp
""",
    doc="exact dedup: hash-groupBy on the content fingerprint, keep lowest "
    "id. One fixed-width-key shuffle regardless of document size.",
)
def d_exact(spark: SparkSession, sf: str) -> DataFrame:
    return dedup_exact(load_table(spark, sf, "documents"))


@register(
    "d_ngram_jaccard",
    oracle=f"WITH {_jaccard_cte(3, 0.5)} SELECT id_a, id_b, jaccard FROM exact",
    doc="EXACT 3-shingle Jaccard pairs ≥ 0.5 via inverted-index self-join "
    "— documents only meet when they share a shingle.",
)
def d_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf, "documents"), k=3, threshold=0.5)


@register(
    "d_containment",
    oracle=f"""
WITH {_jaccard_cte(3, 0.0).split("exact AS")[0].rstrip().rstrip(",")},
cont AS (
  SELECT id_a, id_b, na, nb,
         ROUND(shared / LEAST(na, nb), 6) AS containment
  FROM pairs WHERE shared / LEAST(na, nb) >= 0.9)
SELECT CASE WHEN na < nb OR (na = nb AND id_a < id_b) THEN id_a ELSE id_b END
         AS id_contained,
       CASE WHEN na < nb OR (na = nb AND id_a < id_b) THEN id_b ELSE id_a END
         AS id_container,
       containment
FROM cont
""",
    doc="EXACT shingle-containment pairs >= 0.9 — the asymmetric dedup "
    "companion to d_ngram_jaccard: a short doc embedded in a long one "
    "has containment ~1 while its Jaccard is diluted below any usable "
    "threshold by the union denominator.  Same inverted-index plan "
    "(documents only meet on shared shingles); output orients each pair "
    "as (contained, container) by distinct-shingle count.",
)
def d_containment(spark: SparkSession, sf: str) -> DataFrame:
    return containment_pairs(load_table(spark, sf, "documents"), k=3, threshold=0.9)


def _minhash_oracle(
    k: int, num_hashes: int, bands: int, threshold: float, seed: int,
    cand_filter: str = "",
) -> str:
    coeffs = minhash_coefficients(num_hashes, seed)
    r = num_hashes // bands
    mins = ",\n".join(
        f"  MIN(CAST((CAST(h AS HUGEINT) * {a} + {b}) % {MERSENNE_P} AS BIGINT)) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS band, sha256(concat_ws(',', "
        + ", ".join(f"CAST(m{i * r + j} AS VARCHAR)" for j in range(r))
        + ")) AS bh FROM sig"
        for i in range(bands)
    )
    return f"""
WITH {_jaccard_cte(k, threshold)},
hs AS (SELECT doc_id, {portable_hash64_sql('s')} AS h
       FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
sig AS (SELECT doc_id,
{mins}
FROM hs GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                                   AND a.doc_id < b.doc_id{(' AND ' + cand_filter) if cand_filter else ''})
SELECT c.id_a, c.id_b, e.jaccard
FROM cand c JOIN exact e ON c.id_a = e.id_a AND c.id_b = e.id_b
"""


@register(
    "d_minhash_lsh",
    oracle=_minhash_oracle(k=3, num_hashes=32, bands=8, threshold=0.5, seed=42),
    doc="MinHash(32) + LSH(8 bands × 4 rows) candidates, verified with "
    "exact Jaccard ≥ 0.5. Oracle replays the identical portable-hash "
    "pipeline in SQL, so even the probabilistic stage is hash-checked. "
    "Scale: shuffle is O(docs × bands), never O(n²).",
)
def d_minhash(spark: SparkSession, sf: str) -> DataFrame:
    # the sf* documents table is ONE small parquet file → Spark reads it
    # as a single partition; the interpreted shingle/hash expressions are
    # CPU-bound, so spread them across cores (at scale the scan already
    # has thousands of splits and this repartition would be omitted)
    docs = load_table(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    return minhash_lsh_pairs(docs, k=3, num_hashes=32, bands=8, threshold=0.5, seed=42)


def _simhash_oracle(k: int, max_hamming: int) -> str:
    blocks = max_hamming + 1
    width = 60 // blocks
    votes = ",\n".join(
        f"  SUM(CASE WHEN (h >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS v{bit}"
        for bit in range(60)
    )
    sh_sum = " + ".join(f"(CASE WHEN v{bit} > 0 THEN {1 << bit} ELSE 0 END)" for bit in range(60))
    block_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {i} AS blk, (simhash >> {i * width}) & {(1 << width) - 1} AS bv "
        "FROM sims"
        for i in range(blocks)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents),
sh AS (SELECT doc_id, {_shingle_sql(k)} AS sh FROM toks WHERE len(t) >= {k}),
hs AS (SELECT doc_id, {portable_hash64_sql('s')} AS h
       FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
bits AS (SELECT doc_id,
{votes}
FROM hs GROUP BY doc_id),
sims AS (SELECT doc_id, CAST({sh_sum} AS BIGINT) AS simhash FROM bits),
blk AS ({block_selects})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM blk a JOIN blk b ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register(
    "d_simhash",
    oracle=_simhash_oracle(k=1, max_hamming=8),
    doc="SimHash(60-bit) near-dup pairs, Hamming ≤ 8, candidates via "
    "pigeonhole block join (agree on ≥1 of 9... blocks), verified with "
    "bit_count(xor). Oracle replays the identical bit-vote construction.",
)
def d_simhash(spark: SparkSession, sf: str) -> DataFrame:
    # single-file input → repartition for CPU parallelism (see d_minhash_lsh)
    docs = load_table(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    out = simhash_pairs(docs, k=1, max_hamming=8)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _embedding_lsh_buckets_sql(
    dims: int, tables: int, planes_per_table: int, seed: int
) -> str:
    """UNION ALL of per-table sign-bit bucket assignments, replaying the
    identical LCG plane literals the Spark operator uses."""
    from ..operators.similarity import _pseudo_planes

    table_selects = []
    for t in range(tables):
        planes = _pseudo_planes(planes_per_table, dims, seed + t)
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(e, CAST([{', '.join(repr(x) for x in plane)}] AS DOUBLE[])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes)
        )
        table_selects.append(f"SELECT vec_id, {t} AS t, CAST({terms} AS BIGINT) AS bkt FROM v")
    return "\nUNION ALL\n".join(table_selects)


def _embedding_lsh_oracle(
    dims: int, threshold: float, tables: int, planes_per_table: int, seed: int
) -> str:
    """DuckDB twin of ``embedding_lsh_pairs``: replays the identical plane
    literals (LCG-deterministic), bucket assembly, within-bucket candidate
    join, and exact-cosine verify."""
    buckets = _embedding_lsh_buckets_sql(dims, tables, planes_per_table, seed)
    return f"""
WITH {_embedding_lsh_ctes(buckets, threshold)}
SELECT id_a, id_b, cosine FROM pairs
"""


def _embedding_lsh_ctes(buckets: str, threshold: float) -> str:
    """Shared CTE chain (vectors → multi-table buckets → candidates →
    verified pairs) used by the pair oracle and the semantic-dedup
    closure oracle."""
    return f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS ({buckets}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         FROM b a JOIN b c ON a.t = c.t AND a.bkt = c.bkt AND a.vec_id < c.vec_id),
pairs AS (
  SELECT cand.id_a, cand.id_b,
         ROUND(list_cosine_similarity(va.e, vb.e), 6) AS cosine
  FROM cand
  JOIN v va ON cand.id_a = va.vec_id
  JOIN v vb ON cand.id_b = vb.vec_id
  WHERE list_cosine_similarity(va.e, vb.e) >= {threshold})"""


@register(
    "d_embedding_neardup",
    oracle=_embedding_lsh_oracle(dims=64, threshold=0.4, tables=12, planes_per_table=4, seed=42),
    doc="embedding near-dup via multi-table hyperplane LSH candidates + "
    "exact cosine verify (candidates ∩ {cosine ≥ 0.4}). No cross join "
    "anywhere: buckets come from deterministic sign-bit hashing, pairs "
    "from within-bucket groupBy expansion — shuffle O(rows × tables). "
    "The brute-force baseline remains available as "
    "operators.dedup.embedding_neardup_pairs.",
)
def d_embed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import embedding_lsh_pairs

    return embedding_lsh_pairs(
        load_table(spark, sf, "embeddings"),
        dims=64,
        vec_col="embedding",
        id_col="vec_id",
        threshold=0.4,
        tables=12,
        planes_per_table=4,
        seed=42,
        # single-file input → spread the CPU-heavy projection/verify
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "t_filter_audit",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, text,
         CAST(length(text) AS BIGINT) AS n_chars,
         {_TOKS.format(col="text")} AS toks
  FROM documents),
m AS (
  SELECT doc_id, lang, n_chars,
    (length(text) - length(regexp_replace(text, '[[:punct:]0-9]', '', 'g')))
      / greatest(length(text), 1) AS noise,
    len(list_filter(toks, tk -> list_contains({_sw_sql('en')}, tk)))
      / greatest(len(toks), 1) AS swr,
    len(list_distinct(toks)) / greatest(len(toks), 1) AS distinct_ratio
  FROM t),
r AS (
  SELECT doc_id, lang, n_chars,
         concat_ws(',',
           CASE WHEN n_chars < 50 THEN 'too_short' END,
           CASE WHEN n_chars > 20000 THEN 'too_long' END,
           CASE WHEN noise > 0.25 THEN 'noisy' END,
           CASE WHEN lang = 'en' AND swr < 0.05 THEN 'low_stopword' END,
           CASE WHEN distinct_ratio < 0.5 THEN 'repetitive' END) AS reasons
  FROM m)
SELECT doc_id, lang, n_chars, reasons, reasons = '' AS keep
FROM r
ORDER BY doc_id
""",
    doc="explainable filter audit (the Dolma/RefinedWeb-style verdict "
    "table): every document gets a comma-joined, fixed-order list of "
    "NAMED failure reasons (too_short / too_long / noisy / "
    "low_stopword / repetitive) and a keep flag — the artifact a "
    "curation review actually reads, and the input to per-reason loss "
    "accounting (group by reasons).  All five signals are per-row "
    "Catalyst expressions over one scan (array_distinct for the "
    "repetition proxy — no token-level shuffle); the only exchange is "
    "the output sort.",
)
def t_filter_audit(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import STOPWORDS, tokens

    d = load_table(spark, sf, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        (
            (
                F.length("text")
                - F.length(F.regexp_replace("text", r"[\p{Punct}0-9]", ""))
            )
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("noise"),
        tokens("text").alias("toks"),
    )
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    m = t.select(
        "doc_id",
        "lang",
        "n_chars",
        "noise",
        (
            F.size(F.filter("toks", lambda x: F.array_contains(sw, x)))
            / F.greatest(F.size("toks"), F.lit(1))
        ).alias("swr"),
        (
            F.size(F.array_distinct("toks")) / F.greatest(F.size("toks"), F.lit(1))
        ).alias("distinct_ratio"),
    )
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_chars") < 50, F.lit("too_short")),
        F.when(F.col("n_chars") > 20000, F.lit("too_long")),
        F.when(F.col("noise") > 0.25, F.lit("noisy")),
        F.when((F.col("lang") == "en") & (F.col("swr") < 0.05), F.lit("low_stopword")),
        F.when(F.col("distinct_ratio") < 0.5, F.lit("repetitive")),
    )
    return (
        m.select(
            "doc_id",
            "lang",
            "n_chars",
            reasons.alias("reasons"),
            (reasons == "").alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_script_mix",
    oracle=r"""
WITH c AS (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS n,
         CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT)
           AS latin_cnt,
         CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT)
           AS cjk_cnt,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
           AS digit_cnt
  FROM documents)
SELECT doc_id, lang,
       ROUND(latin_cnt / greatest(n, 1), 6) AS latin_frac,
       ROUND(cjk_cnt / greatest(n, 1), 6) AS cjk_frac,
       ROUND(digit_cnt / greatest(n, 1), 6) AS digit_frac,
       CASE WHEN cjk_cnt > latin_cnt THEN 'cjk' ELSE 'latin' END AS dominant_script
FROM c
ORDER BY doc_id
""",
    doc="writing-system (script) detection by Unicode codepoint ranges — "
    "the signal that catches mislabeled languages and mixed-script spam "
    "BEFORE n-gram language id runs (a doc whose chars are 40% CJK is "
    "not 'en' whatever its trigrams say): per-document Latin / CJK / "
    "digit character fractions plus a dominant-script verdict, all from "
    "count-by-regex-strip arithmetic (codepoint-aware length on both "
    "engines).  Pure per-row codegen over one scan; the output sort is "
    "the only exchange.",
)
def t_script_mix(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    n = F.length("text").cast("long")
    latin = (n - F.length(F.regexp_replace("text", "[A-Za-z]", "")).cast("long")).alias(
        "latin_cnt"
    )
    cjk = (
        n - F.length(F.regexp_replace("text", r"[\x{4e00}-\x{9fff}]", "")).cast("long")
    ).alias("cjk_cnt")
    digit = (n - F.length(F.regexp_replace("text", "[0-9]", "")).cast("long")).alias(
        "digit_cnt"
    )
    c = d.select("doc_id", "lang", n.alias("n"), latin, cjk, digit)
    g = F.greatest(F.col("n"), F.lit(1))
    return c.select(
        "doc_id",
        "lang",
        F.round(F.col("latin_cnt") / g, 6).alias("latin_frac"),
        F.round(F.col("cjk_cnt") / g, 6).alias("cjk_frac"),
        F.round(F.col("digit_cnt") / g, 6).alias("digit_frac"),
        F.when(F.col("cjk_cnt") > F.col("latin_cnt"), F.lit("cjk"))
        .otherwise(F.lit("latin"))
        .alias("dominant_script"),
    ).orderBy("doc_id")


@register(
    "d_minhash_incremental",
    oracle=_minhash_oracle(
        k=3, num_hashes=32, bands=8, threshold=0.5, seed=42,
        cand_filter="(a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)",
    ),
    doc="continuous-crawl near-dup (operators/dedup."
    "incremental_minhash_pairs): odd doc_ids play today's batch, even "
    "ids the already-deduped corpus; band buckets mix both (cross-batch "
    "dups must collide) but old x old candidate pairs are dropped "
    "BEFORE exact-Jaccard verification — the expensive stage runs on "
    "new-touching candidates only, so daily cost tracks batch size, "
    "not corpus size.  Signatures are deterministic, so the old side's "
    "bands can come from a persisted band table instead of recompute.  "
    "Oracle replays the full pipeline with the same pair restriction.",
)
def d_minhash_incr(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import incremental_minhash_pairs

    docs = load_table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    flagged = docs.withColumn("is_new", F.col("doc_id") % 2 == 1)
    out = incremental_minhash_pairs(flagged, "is_new", k=3, threshold=0.5)
    return out.orderBy("id_a", "id_b")


@register(
    "t_contrastive_triplets",
    oracle=f"""
WITH RECURSIVE {_jaccard_cte(3, 0.5)},
sym AS (SELECT id_a AS anchor_id, id_b AS positive_id, jaccard FROM exact
        UNION ALL
        SELECT id_b, id_a, jaccard FROM exact),
pos AS (
  SELECT anchor_id, positive_id, jaccard
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY jaccard DESC, positive_id) AS rk
        FROM sym)
  WHERE rk = 1),
ranked AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk
           FROM documents),
n AS (SELECT COUNT(*) AS n FROM documents),
neg AS (
  SELECT p.anchor_id, p.positive_id, p.jaccard,
         ((r.rk - 1 + 1 + {portable_hash64_sql("CAST(p.anchor_id AS VARCHAR) || 'neg'")} % (n.n - 1)) % n.n) + 1
           AS neg_rk
  FROM pos p JOIN ranked r ON p.anchor_id = r.doc_id CROSS JOIN n)
SELECT neg.anchor_id, neg.positive_id, ROUND(neg.jaccard, 6) AS jaccard,
       r2.doc_id AS negative_id
FROM neg JOIN ranked r2 ON neg.neg_rk = r2.rk
ORDER BY anchor_id
""",
    doc="contrastive-pair mining for embedding training: every document "
    "with a near-dup partner becomes an anchor, its highest-Jaccard "
    "partner the positive (tie-broken by id), and the negative is a "
    "deterministic pseudo-random OTHER document — hash-offset over the "
    "dense doc rank, so the sample is reproducible across runs and "
    "engines with no RNG state (the hash offset never lands on the "
    "anchor itself; a rare collision with the positive is harmless "
    "noise, standard for in-batch negatives).  Scale: pairs come from "
    "the inverted-index Jaccard join; the dense corpus rank comes from "
    "the two-phase distributed prefix sum (operators/packing."
    "with_prefix_sum: range partition + per-partition local windows + a "
    "bounded per-partition offsets broadcast) — NEVER a global "
    "single-partition row_number over the corpus — and the negative "
    "join is rank-equi.",
)
def t_triplets(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.packing import with_prefix_sum

    docs = load_table(spark, sf, "documents")
    # both halves of the sym union read the pairs: checkpoint them so the
    # pair pipeline runs once
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5).localCheckpoint(eager=False)
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("positive_id"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("anchor_id"), F.col("id_a").alias("positive_id"), "jaccard"
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("jaccard").desc(), F.col("positive_id")
    )
    pos = (
        sym.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    # dense rank 1..n over doc_id WITHOUT a single-partition window:
    # rank = exclusive-prefix-count of earlier docs + 1 (two bounded
    # shuffles; identical to ROW_NUMBER() OVER (ORDER BY doc_id) because
    # doc_id is unique)
    ranked = with_prefix_sum(
        docs.select("doc_id").withColumn("__one", F.lit(1)),
        order_col="doc_id",
        value_col="__one",
        out_col="__rk0",
    ).select("doc_id", (F.col("__rk0") + 1).alias("rk"))
    n_panel = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n")))
    h = portable_hash64(F.concat(F.col("anchor_id").cast("string"), F.lit("neg")))
    neg = (
        pos.join(ranked, pos.anchor_id == ranked.doc_id)
        .crossJoin(n_panel)
        .select(
            "anchor_id",
            "positive_id",
            F.round("jaccard", 6).alias("jaccard"),
            (((F.col("rk") - 1 + 1 + h % (F.col("n") - 1)) % F.col("n")) + 1).alias(
                "neg_rk"
            ),
        )
    )
    r2 = ranked.select(F.col("doc_id").alias("negative_id"), F.col("rk").alias("neg_rk"))
    return neg.join(r2, "neg_rk").select(
        "anchor_id", "positive_id", "jaccard", "negative_id"
    ).orderBy("anchor_id")


@register(
    "t_span_corruption",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS.format(col="text")}) AS tok,
         generate_subscripts({_TOKS.format(col="text")}, 1) AS pos
  FROM documents),
g AS (
  SELECT doc_id, pos, tok,
         {portable_hash64_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} % 1000000 < 50000
           AS start_gate
  FROM toks),
m AS (
  SELECT doc_id, pos, tok,
         COALESCE(MAX(CASE WHEN start_gate THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 0) = 1 AS masked
  FROM g),
s AS (
  SELECT doc_id, pos, tok, masked,
         masked AND NOT COALESCE(LAG(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
           AS span_start
  FROM m),
q AS (
  SELECT doc_id, pos, tok, masked, span_start,
         SUM(CASE WHEN span_start THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM s)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN NOT masked THEN tok
                       WHEN span_start THEN '<X' || CAST(sid AS VARCHAR) || '>' END,
                  ' ' ORDER BY pos), '') AS masked_text,
       COALESCE(string_agg(CASE WHEN masked AND span_start
                         THEN '<X' || CAST(sid AS VARCHAR) || '> ' || tok
                       WHEN masked THEN tok END,
                  ' ' ORDER BY pos), '') AS target_text,
       CAST(MAX(sid) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       ROUND(SUM(CASE WHEN masked THEN 1 ELSE 0 END) / COUNT(*), 6) AS corruption_rate
FROM q
GROUP BY doc_id
ORDER BY doc_id
""",
    doc="T5/UL2-style span-corruption data prep (Raffel et al. 2020 "
    "denoising objective): deterministic hash gates pick ~5% of token "
    "positions as span starts, spans of 3 merge into masked runs, each "
    "run is replaced by an incrementing sentinel in the input and "
    "expanded after its sentinel in the target — (masked_text, "
    "target_text) pairs ready for seq2seq denoising, reproducible "
    "across runs/engines with zero RNG state.  Scale: one (doc, pos) "
    "explode + windows over a single doc-key sort shuffle + one "
    "ordered-agg rollup; no Python anywhere.",
)
def t_span_corrupt(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    gate = (
        portable_hash64(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string"))
        )
        % 1_000_000
        < 50_000
    )
    g = toks.withColumn("start_gate", gate)
    w3 = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-2, 0)
    m = g.withColumn(
        "masked",
        F.coalesce(
            F.max(F.col("start_gate").cast("int")).over(w3), F.lit(0)
        ) == 1,
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    s = m.withColumn(
        "span_start",
        F.col("masked") & ~F.coalesce(F.lag("masked").over(wl), F.lit(False)),
    )
    wc = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q = s.withColumn(
        "sid", F.sum(F.col("span_start").cast("long")).over(wc)
    )
    sentinel = F.concat(F.lit("<X"), F.col("sid").cast("string"), F.lit(">"))
    inp = (
        F.when(~F.col("masked"), F.col("tok"))
        .when(F.col("span_start"), sentinel)
    )
    tgt = F.when(
        F.col("masked"),
        F.when(F.col("span_start"), F.concat(sentinel, F.lit(" "), F.col("tok"))).otherwise(
            F.col("tok")
        ),
    )

    def joined(col):
        return F.array_join(
            F.filter(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", col.alias("t")))),
                    lambda st: st.t,
                ),
                lambda x: x.isNotNull(),
            ),
            " ",
        )

    return (
        q.groupBy("doc_id")
        .agg(
            joined(inp).alias("masked_text"),
            joined(tgt).alias("target_text"),
            F.max("sid").alias("n_spans"),
            F.sum(F.col("masked").cast("long")).alias("n_masked"),
            F.round(
                F.sum(F.col("masked").cast("long")) / F.count(F.lit(1)), 6
            ).alias("corruption_rate"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_fim_transform",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(col="text")} AS t,
         len({_TOKS.format(col="text")}) AS n
  FROM documents),
cuts AS (
  SELECT doc_id, t, n,
         1 + {portable_hash64_sql("CAST(doc_id AS VARCHAR) || 'fim1'")} % (n - 2) AS c1
  FROM t WHERE n >= 10),
cuts2 AS (
  SELECT doc_id, t, n, c1,
         c1 + 1 + {portable_hash64_sql("CAST(doc_id AS VARCHAR) || 'fim2'")} % (n - c1 - 1) AS c2
  FROM cuts)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
       '<PRE> ' || array_to_string(t[1:c1], ' ')
         || ' <SUF> ' || array_to_string(t[c2+1:n], ' ')
         || ' <MID> ' || array_to_string(t[c1+1:c2], ' ') AS psm_text
FROM cuts2
ORDER BY doc_id
""",
    doc="fill-in-the-middle transform (Bavarian et al. 2022): each "
    "document splits at two hash-deterministic cut points into "
    "prefix/middle/suffix and is re-serialized in PSM order "
    "(<PRE> p <SUF> s <MID> m) — the infilling objective code models "
    "train on, with all three segments guaranteed non-empty and the "
    "cut choice reproducible across runs/engines with no RNG.  Pure "
    "per-row array slicing over one scan; the output sort is the only "
    "exchange.",
)
def t_fim(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    t = docs.select("doc_id", tokens("text").alias("t")).withColumn(
        "n", F.size("t")
    ).where(F.col("n") >= 10)
    h1 = portable_hash64(F.concat(F.col("doc_id").cast("string"), F.lit("fim1")))
    h2 = portable_hash64(F.concat(F.col("doc_id").cast("string"), F.lit("fim2")))
    cuts = t.withColumn("c1", (F.lit(1) + h1 % (F.col("n") - 2))).withColumn(
        "c2", F.col("c1") + 1 + h2 % (F.col("n") - F.col("c1") - 1)
    )
    psm = F.concat(
        F.lit("<PRE> "),
        F.array_join(F.expr("slice(t, 1, c1)"), " "),
        F.lit(" <SUF> "),
        F.array_join(F.expr("slice(t, c2 + 1, n - c2)"), " "),
        F.lit(" <MID> "),
        F.array_join(F.expr("slice(t, c1 + 1, c2 - c1)"), " "),
    )
    return cuts.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        psm.alias("psm_text"),
    ).orderBy("doc_id")


def _lsh_recall_oracle(k: int, num_hashes: int, bands: int, threshold: float, seed: int) -> str:
    """Counts-level twin of the MinHash pipeline: exact pairs, LSH
    candidates (with >= 1 shared shingle, matching the Spark verify,
    which drops pairs sharing none), true positives, recall."""
    from ..functions.hashing import minhash_coefficients

    coeffs = minhash_coefficients(num_hashes, seed)
    r = num_hashes // bands
    mins = ",\n".join(
        f"  MIN(CAST((CAST(h AS HUGEINT) * {a} + {b}) % {MERSENNE_P} AS BIGINT)) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS band, sha256(concat_ws(',', "
        + ", ".join(f"CAST(m{i * r + j} AS VARCHAR)" for j in range(r))
        + ")) AS bh FROM sig"
        for i in range(bands)
    )
    return f"""
WITH {_jaccard_cte(k, threshold)},
allj AS (
  SELECT id_a, id_b, shared / (na + nb - shared) AS jaccard FROM pairs),
hs AS (SELECT doc_id, {portable_hash64_sql('s')} AS h
       FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
sig AS (SELECT doc_id,
{mins}
FROM hs GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                                   AND a.doc_id < b.doc_id),
cj AS (SELECT c.id_a, c.id_b, j.jaccard
       FROM cand c JOIN allj j ON c.id_a = j.id_a AND c.id_b = j.id_b),
nx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM exact),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs FROM cj),
tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_positives
       FROM cj WHERE jaccard >= {threshold})
SELECT nx.n_exact_pairs, nc.n_candidate_pairs, tp.n_true_positives,
       ROUND(CAST(tp.n_true_positives AS DOUBLE)
             / CAST(nx.n_exact_pairs AS DOUBLE), 6) AS recall
FROM nx CROSS JOIN nc CROSS JOIN tp
"""


@register(
    "d_lsh_recall_audit",
    oracle=_lsh_recall_oracle(k=3, num_hashes=32, bands=8, threshold=0.5, seed=42),
    doc="in-engine recall audit of the MinHash LSH index: exact "
    "prefix-filtered Jaccard pairs (the ground truth) vs the banded "
    "candidate set — n_exact, n_candidates (banded pairs sharing >= 1 "
    "shingle), true positives, recall@0.5.  This is how an "
    "operator team MEASURES its approximate-dedup quality instead of "
    "trusting the 1-(1-s^r)^b formula: run the audit on a sample "
    "stratum, tune bands/rows, then roll out.  Scale: both candidate "
    "sets are the existing O(docs x bands) / prefix-join shapes, "
    "verified once by set intersection over their flagged union; the "
    "audit adds only count aggregates.",
)
def d_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import (
        _band_candidates,
        _checkpointed_sets,
        _jaccard_prefix_candidates,
        _minhash_mins,
        _shared_shingles,
    )

    docs = load_table(spark, sf, "documents")
    # ONE exploded-shingle frame, ONE shingle-set table and ONE verify
    # for both pipelines: every count the audit reports can be read off
    # a single verify over the UNION of the exact prefix candidates and
    # the banded candidates, each pair flagged ``__b`` = 1 when banded.
    # Prefix filtering is exact (every Jaccard >= 0.5 pair is a prefix
    # candidate — the same guarantee d_ngram_jaccard rests on), so
    #   n_exact           = union-verified pairs with jaccard >= 0.5
    #   n_candidate_pairs = union-verified pairs with __b = 1
    #                       (the verify keeps pairs sharing >= 1 shingle)
    #   n_true_positives  = __b = 1 AND jaccard >= 0.5.
    # The comparisons run on the UNROUNDED shared/(na+nb-shared).
    e, sets = _checkpointed_sets(docs, "text", "doc_id", 3)
    banded = _band_candidates(_minhash_mins(e, 32, 42), 32, 8)
    union_cands = (
        _jaccard_prefix_candidates(sets, 0.5)
        .withColumn("__b", F.lit(0))
        .unionByName(banded.withColumn("__b", F.lit(1)))
        .groupBy("id_a", "id_b")
        .agg(F.max("__b").alias("__b"))
    )
    shared = _shared_shingles(union_cands, sets)
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    counts = shared.agg(
        F.coalesce(F.sum((jac >= 0.5).cast("long")), F.lit(0)).alias("n_exact_pairs"),
        F.coalesce(F.sum("__b").cast("long"), F.lit(0)).alias("n_candidate_pairs"),
        F.coalesce(
            F.sum(F.when((F.col("__b") == 1) & (jac >= 0.5), 1)), F.lit(0)
        ).cast("long").alias("n_true_positives"),
    )
    return counts.select(
        "n_exact_pairs",
        "n_candidate_pairs",
        "n_true_positives",
        F.round(
            F.col("n_true_positives").cast("double")
            / F.col("n_exact_pairs").cast("double"),
            6,
        ).alias("recall"),
    )


@register(
    "t_lang_confusion",
    oracle=f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS.format(col="text")} AS t FROM documents),
hits AS (
  SELECT doc_id, lang,
{", ".join(f"    len(list_filter(t, tk -> list_contains({_sw_sql(code)}, tk))) AS h_{code}"
           for code in sorted(STOPWORDS))}
  FROM toks),
best AS (
  SELECT doc_id, lang,
         greatest({", ".join(f"h_{c}" for c in sorted(STOPWORDS))}) AS mx,
{chr(10).join(f"         h_{c}," for c in sorted(STOPWORDS))}
         1 AS _dummy
  FROM hits),
pred AS (
  SELECT doc_id, lang AS lang_true,
         CASE WHEN mx <= 0 THEN 'und'
{chr(10).join(f"              WHEN h_{c} = mx THEN '{c}'" for c in sorted(STOPWORDS))}
         END AS lang_pred
  FROM best)
SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang_true) AS DOUBLE), 6)
         AS row_share
FROM pred
GROUP BY lang_true, lang_pred
ORDER BY lang_true, lang_pred
""",
    doc="language-ID confusion matrix: the stopword-argmax classifier "
    "(t_language_id) evaluated against the stored lang label — per "
    "(true, predicted) counts and row-normalized shares, the "
    "classifier-evaluation rollup every heuristic filter should ship "
    "with before it gates a corpus.  Scale: per-row prediction is "
    "pure codegen; the matrix is one partial-agg'd rollup to "
    "|langs|^2 rows with a window over that tiny relation.",
)
def t_lang_conf(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    pred = d.select(
        F.col("lang").alias("lang_true"), language_id("text").alias("lang_pred")
    )
    counts = pred.groupBy("lang_true", "lang_pred").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang_true")
    return (
        counts.withColumn(
            "row_share",
            F.round(F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6),
        )
        .orderBy("lang_true", "lang_pred")
    )


@register(
    "t_bpe_first_merges",
    oracle=f"""
WITH toks AS (SELECT {_TOKS.format(col="text")} AS t FROM documents),
words AS (SELECT unnest(t) AS w FROM toks),
wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       FROM words WHERE length(w) >= 2 GROUP BY w),
pairs AS (
  SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
  FROM wf),
pc AS (
  SELECT substr(w, i, 1) AS left_sym, substr(w, i + 1, 1) AS right_sym,
         CAST(SUM(freq) AS BIGINT) AS pair_freq
  FROM pairs GROUP BY 1, 2)
SELECT left_sym, right_sym, pair_freq
FROM pc
ORDER BY pair_freq DESC, left_sym, right_sym
LIMIT 30
""",
    doc="the first BPE merge round (Sennrich et al. 2016): adjacent "
    "character-pair frequencies over the word-frequency table — the "
    "top pair IS the first merge a tokenizer trainer would make; "
    "iterating this (re-tokenize, re-count) trains the vocabulary.  "
    "Counting over DISTINCT words weighted by frequency (not raw "
    "tokens) is the standard trick: the pair stage is O(|vocab| x "
    "word-length), independent of corpus size once the word-frequency "
    "table exists.  Scale: one word-count shuffle (map-side partial), "
    "then the pair rollup on the vocabulary relation only; top-30 via "
    "TakeOrdered.",
)
def t_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    wf = (
        d.select(F.explode(tokens("text")).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs = wf.select(
        "freq",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> struct(substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r))"
            )
        ).alias("__i", "p"),
    ).select(F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym"), "freq")
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").alias("pair_freq"))
        .orderBy(F.col("pair_freq").desc(), "left_sym", "right_sym")
        .limit(30)
    )


@register(
    "t_novelty_curve",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents),
sh AS (SELECT doc_id, {_shingle_sql(8)} AS sh FROM toks WHERE len(t) >= 8),
ex AS (SELECT doc_id, {portable_hash64_sql('s')} AS h
       FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
first AS (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h),
per_doc AS (
  SELECT ex.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN first.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_grams
  FROM ex JOIN first ON ex.h = first.h
  GROUP BY ex.doc_id)
SELECT CAST(doc_id // 50 AS BIGINT) AS doc_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS grams,
       CAST(SUM(novel_grams) AS BIGINT) AS novel,
       ROUND(CAST(SUM(novel_grams) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE), 6)
         AS novelty
FROM per_doc
GROUP BY CAST(doc_id // 50 AS BIGINT)
ORDER BY doc_bucket
""",
    doc="corpus novelty decay curve: per ingestion bucket (doc_id "
    "order), the micro-averaged fraction of distinct 8-gram shingles "
    "whose FIRST corpus occurrence is in that document — how fast a "
    "growing corpus stops contributing new content, the curve that "
    "justifies dedup budgets and crawl-stopping rules.  Micro-average "
    "(exact integer gram sums per bucket, ONE final division) rather "
    "than a mean of per-doc floats, so reduction order can't move it.  "
    "Scale: the gram explode is the standard shingle-stage cost; "
    "first-occurrence is ONE min-aggregate on the gram hash; no "
    "self-join.",
)
def t_novelty(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    t = d.select("doc_id", tokens("text").alias("t")).where(F.size("t") >= 8)
    ex = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(t)-7), "
                "i -> concat_ws(' ', slice(t, i, 8))))"
            )
        ).alias("s"),
    ).select("doc_id", portable_hash64("s").alias("h"))
    first = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        ex.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel_grams"),
        )
    )
    return (
        per_doc.groupBy(F.expr("doc_id DIV 50").alias("doc_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_grams").alias("grams"),
            F.sum("novel_grams").alias("novel"),
        )
        .select(
            "doc_bucket",
            "n_docs",
            "grams",
            "novel",
            F.round(
                F.col("novel").cast("double") / F.col("grams").cast("double"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_bucket")
    )


@register(
    "t_preference_pairs",
    oracle=f"""
WITH n AS (
  SELECT doc_id, lang, text, CAST(length(text) AS DOUBLE) AS len,
         {_TOKS.format(col="text")} AS toks
  FROM documents),
m AS (
  SELECT doc_id, lang,
    CASE WHEN len >= 50 AND len <= 20000 THEN 1.0 ELSE least(len / 50.0, 1.0) END AS length_ok,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / greatest(length(text), 1)
      + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1)
      AS noise,
    len(list_filter(toks, tk -> list_contains({_sw_sql('en')}, tk))) / greatest(len(toks), 1)
      AS swr
  FROM n),
q AS (SELECT doc_id, lang,
             ROUND(length_ok * 0.4 + greatest(0.0, 1.0 - noise * 4) * 0.4
                   + least(swr * 5, 1.0) * 0.2, 6) AS quality
      FROM m),
ranked AS (
  SELECT doc_id, lang, quality,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)
              AS BIGINT) AS rk_top,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality ASC, doc_id)
              AS BIGINT) AS rk_bot
  FROM q)
SELECT t.lang, t.rk_top AS pair_rank,
       t.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
       ROUND(t.quality - b.quality, 6) AS quality_gap
FROM ranked t JOIN ranked b ON t.lang = b.lang AND t.rk_top = b.rk_bot
WHERE t.rk_top <= 8 AND t.quality > b.quality AND t.doc_id <> b.doc_id
ORDER BY t.lang, pair_rank
""",
    doc="preference-pair construction (DPO/RLHF-style): per language, the "
    "i-th HIGHEST-quality document is paired with the i-th LOWEST as "
    "(chosen, rejected), i <= 8, keeping only pairs with a strictly "
    "positive quality gap — the deterministic skeleton of preference-"
    "dataset mining (ranks replace sampling so both engines agree "
    "exactly).  Scale: quality is pure per-row codegen; both rank "
    "windows partition by lang (never global); the pair join is "
    "k-bounded per group.",
)
def t_preference_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").select(
        "doc_id", "lang", F.round(quality_score("text"), 6).alias("quality")
    )
    w_top = Window.partitionBy("lang").orderBy(F.col("quality").desc(), "doc_id")
    w_bot = Window.partitionBy("lang").orderBy(F.col("quality").asc(), "doc_id")
    ranked = d.select(
        "doc_id", "lang", "quality",
        F.row_number().over(w_top).cast("long").alias("rk_top"),
        F.row_number().over(w_bot).cast("long").alias("rk_bot"),
    )
    t = ranked.select(
        "lang", F.col("rk_top").alias("pair_rank"),
        F.col("doc_id").alias("chosen_doc"), F.col("quality").alias("q_top"),
    ).where(F.col("pair_rank") <= 8)
    b = ranked.select(
        "lang", F.col("rk_bot").alias("pair_rank"),
        F.col("doc_id").alias("rejected_doc"), F.col("quality").alias("q_bot"),
    )
    return (
        t.join(b, ["lang", "pair_rank"])
        .where((F.col("q_top") > F.col("q_bot")) & (F.col("chosen_doc") != F.col("rejected_doc")))
        .select(
            "lang", "pair_rank", "chosen_doc", "rejected_doc",
            F.round(F.col("q_top") - F.col("q_bot"), 6).alias("quality_gap"),
        )
        .orderBy("lang", "pair_rank")
    )


def _bbit_oracle(k: int, num_hashes: int, bands: int, threshold: float, seed: int) -> str:
    coeffs = minhash_coefficients(num_hashes, seed)
    r = num_hashes // bands
    mins = ",\n".join(
        f"  MIN(CAST((CAST(h AS HUGEINT) * {a} + {b}) % {MERSENNE_P} AS BIGINT)) % 4 AS b{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS band, "
        + ", ".join(f"b{i * r + j} AS v{j}" for j in range(r))
        + " FROM sig"
        for i in range(bands)
    )
    band_eq = " AND ".join(f"a.v{j} = b.v{j}" for j in range(r))
    agree = " + ".join(
        f"CASE WHEN sa.b{i} = sb.b{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
WITH {_jaccard_cte(k, threshold)},
hs AS (SELECT doc_id, {portable_hash64_sql('s')} AS h
       FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
sig AS (SELECT doc_id,
{mins}
FROM hs GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND {band_eq}
                                   AND a.doc_id < b.doc_id),
scored AS (
  SELECT c.id_a, c.id_b,
         ROUND(GREATEST(0.0,
           (CAST(({agree}) AS DOUBLE) / {num_hashes} - 0.25) / 0.75), 6)
           AS bbit_estimate
  FROM cand c JOIN sig sa ON c.id_a = sa.doc_id
              JOIN sig sb ON c.id_b = sb.doc_id)
SELECT s.id_a, s.id_b, s.bbit_estimate, e.jaccard
FROM scored s JOIN exact e ON s.id_a = e.id_a AND s.id_b = e.id_b
"""


@register(
    "d_minhash_bbit",
    oracle=_bbit_oracle(k=3, num_hashes=30, bands=6, threshold=0.5, seed=42),
    doc="b-bit MinHash near-dup pairs (b = 2, Li & Koenig 2010): keep only "
    "the low 2 bits of each of 30 permutation minima — the whole "
    "signature fits in 60 bits, an 8x memory cut over full minima, "
    "which at corpus scale keeps the dedup index in memory.  Banded "
    "candidates (6 bands x 5 b-bit rows) admit extra chance collisions "
    "(1/4 per value); exact Jaccard verifies them away, and every "
    "output pair carries BOTH the bias-corrected b-bit estimate "
    "(s_hat = (agree - 1/4)/(3/4)) and the exact Jaccard so the "
    "compression error is auditable per pair.  The oracle replays the "
    "identical portable-hash permutation family in SQL.",
)
def d_bbit(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import bbit_minhash_pairs

    docs = load_table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return bbit_minhash_pairs(docs, k=3, num_hashes=30, bands=6, threshold=0.5, seed=42)


# ---------------------------------------------------- token-budget select
@register(
    "t_token_budget_select",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len({_TOKS.format(col="text")}) AS BIGINT) AS tk,
         CAST(FLOOR(ROUND((CASE WHEN length(text) >= 50 AND length(text) <= 20000
                          THEN 1.0
                          ELSE least(CAST(length(text) AS DOUBLE) / 50.0, 1.0) END) * 0.4
           + greatest(0.0, 1.0 -
               ((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
                  / greatest(length(text), 1)
                + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                  / greatest(length(text), 1)) * 4) * 0.4
           + least(len(list_filter({_TOKS.format(col="text")},
                                   tk2 -> list_contains({_sw_sql('en')}, tk2)))
                   / greatest(len({_TOKS.format(col="text")}), 1) * 5.0, 1.0) * 0.2,
           6)  * 1000000 + 0.5) AS BIGINT) AS q_micro
  FROM documents),
keyed AS MATERIALIZED (
  SELECT doc_id, lang, tk, q_micro,
         (1000000 - q_micro) * 8589934592 + doc_id AS k
  FROM scored),
panel AS (SELECT CAST(SUM(tk) // 2 AS BIGINT) AS budget FROM keyed),
cum AS (
  SELECT lang, tk, q_micro, SUM(tk) OVER (ORDER BY k) AS cum_incl FROM keyed),
kept AS (SELECT * FROM cum CROSS JOIN panel WHERE cum_incl <= budget)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(tk) AS BIGINT) AS tokens_kept,
       CAST(MIN(q_micro) AS BIGINT) AS min_quality_micro
FROM kept GROUP BY lang ORDER BY lang
""",
    doc="token-budget curation — the selection pass every "
    "fixed-compute training run needs: rank documents by the composite "
    "quality heuristic (quantized ONCE to micro-units so the order is "
    "engine-identical, doc_id tie-break via a packed sort key) and "
    "keep the maximal quality-ranked prefix whose token sum fits a "
    "budget of half the corpus tokens; report kept docs / tokens / "
    "quality floor per language.  Scale: the running token total comes "
    "from the two-phase distributed prefix sum over the packed key — "
    "never a global sort or single-partition window; the budget is a "
    "1-row broadcast panel; everything else is partial-agg'd groupBys.",
)
def t_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import quality_score, token_count
    from ..operators.packing import with_prefix_sum

    d = load_table(spark, sf, "documents")
    q_micro = F.floor(F.round(quality_score("text"), 6) * 1_000_000 + 0.5).cast("long")
    keyed = d.select(
        "doc_id",
        "lang",
        token_count("text").alias("tk"),
        q_micro.alias("q_micro"),
    ).select(
        "lang",
        "tk",
        "q_micro",
        ((F.lit(1_000_000) - F.col("q_micro")) * F.lit(8_589_934_592) + F.col("doc_id")).alias("k"),
    )
    panel = keyed.agg(F.floor(F.sum("tk") / 2).cast("long").alias("budget"))
    cum = with_prefix_sum(keyed, "k", "tk", out_col="cum_ex")
    kept = (
        cum.crossJoin(F.broadcast(panel))
        .where(F.col("cum_ex") + F.col("tk") <= F.col("budget"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("tk").cast("long").alias("tokens_kept"),
            F.min("q_micro").cast("long").alias("min_quality_micro"),
        )
        .orderBy("lang")
    )


# ------------------------------------------- quality x dedup interaction
@register(
    "t_quality_dedup_audit",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         {portable_hash64_sql(_NORM.format(col="lower(text)"))} AS fp,
         CAST(FLOOR(ROUND((CASE WHEN length(text) >= 50 AND length(text) <= 20000
                          THEN 1.0
                          ELSE least(CAST(length(text) AS DOUBLE) / 50.0, 1.0) END) * 0.4
           + greatest(0.0, 1.0 -
               ((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
                  / greatest(length(text), 1)
                + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                  / greatest(length(text), 1)) * 4) * 0.4
           + least(len(list_filter({_TOKS.format(col="text")},
                                   tk2 -> list_contains({_sw_sql('en')}, tk2)))
                   / greatest(len({_TOKS.format(col="text")}), 1) * 5.0, 1.0) * 0.2,
           6) * 1000000 + 0.5) AS BIGINT) AS q_micro
  FROM documents),
keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM scored GROUP BY fp),
banded AS (
  SELECT s.q_micro // 50000 AS band,
         CASE WHEN s.doc_id = k.keep_id THEN 1 ELSE 0 END AS kept
  FROM scored s JOIN keep k ON s.fp = k.fp)
SELECT CAST(band AS BIGINT) AS quality_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(kept) * 1000000 // COUNT(*) AS BIGINT) AS keep_rate_micro
FROM banded GROUP BY band ORDER BY band
""",
    doc="cross-family pipeline audit: does exact dedup eat the good "
    "documents?  Bands the corpus by the composite quality heuristic "
    "(fixed 0.05-wide micro-unit bands) and reports, per band, how "
    "many documents survive keep-lowest-id exact dedup — the "
    "quality-survival interaction every curation pipeline should check "
    "before tuning thresholds (if duplicates concentrate in HIGH "
    "bands, dedup and quality filtering double-count the same mass).  "
    "Scale: one fingerprint hash-agg (the d_dedup_exact shuffle), one "
    "fp-keyed join back, one 5-row band rollup — exact integers "
    "throughout.",
)
def t_quality_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import doc_fingerprint, quality_score

    d = load_table(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        doc_fingerprint("text").alias("fp"),
        F.floor(F.round(quality_score("text"), 6) * 1_000_000 + 0.5)
        .cast("long")
        .alias("q_micro"),
    )
    keep = scored.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    banded = scored.join(keep, "fp").select(
        F.floor(F.col("q_micro") / 50_000).alias("band"),
        F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0).alias("kept"),
    )
    num = F.sum("kept").cast("decimal(38,0)") * F.lit(1_000_000).cast("decimal(38,0)")
    den = F.count(F.lit(1)).cast("decimal(38,0)")
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            ((num - num % den) / den).cast("long").alias("keep_rate_micro"),
        )
        .select(
            F.col("band").cast("long").alias("quality_band"),
            "n_docs",
            "n_kept",
            "keep_rate_micro",
        )
        .orderBy("quality_band")
    )


# ------------------------------------------------ hard-negative mining
_HARDNEG_CUTOFF = 0.5  # candidates at/above this Jaccard are positives, not negatives


@register(
    "t_hard_negatives",
    oracle=f"""
WITH {_jaccard_cte(3, 0.0).split("exact AS")[0].rstrip().rstrip(",")},
sym AS (SELECT id_a AS anchor_id, id_b AS cand_id, na, nb, shared FROM pairs
        UNION ALL
        SELECT id_b AS anchor_id, id_a AS cand_id, nb AS na, na AS nb, shared
        FROM pairs),
cand AS (SELECT anchor_id, cand_id, CAST(shared AS BIGINT) AS shared,
                ROUND(shared / (na + nb - shared), 6) AS jaccard
         FROM sym WHERE shared / (na + nb - shared) < {_HARDNEG_CUTOFF}),
best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                      ORDER BY shared DESC, cand_id) AS rk
         FROM cand)
SELECT anchor_id, cand_id AS negative_id, shared, jaccard
FROM best WHERE rk = 1
ORDER BY anchor_id
""",
    doc="hard-negative mining for retrieval/embedding training: for each "
    "anchor document, the candidate sharing the MOST distinct 3-shingles "
    "while staying BELOW the near-dup Jaccard cutoff (0.5) — lexically "
    "close enough to be hard, not close enough to be a duplicate-"
    "positive.  The complement of t_contrastive_triplets' pseudo-random "
    "easy negatives; together they cover the standard two-tier negative "
    "mix.  Scale: candidates come from the SAME inverted-index shingle "
    "self-join as d_ngram_jaccard (documents only meet on shared "
    "shingles — never all-pairs); the argmax is a window over each "
    "anchor's candidate list, partitioned by anchor.  Ties break on the "
    "smaller candidate id for cross-engine determinism.",
)
def t_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import _exploded_shingles, _shingle_census

    # the pair table feeds BOTH halves of the sym union and alias-renamed
    # subtrees get no exchange reuse, so without sharing the whole
    # inverted-index join ran twice (verified on the final AQE plan).
    # The LAZY checkpoint stores only the doc-pair table (bounded by
    # pairs sharing >= 1 shingle — far smaller than the shingle explode,
    # which deliberately stays UNshared: retaining a corpus-scale block
    # set across suite queries measurably thrashed the shared storage
    # pool, and re-running the explode once per join leg is cheaper).
    e = _exploded_shingles(load_table(spark, sf, "documents"), "text", "doc_id", 3)
    pairs = _shingle_census(e).localCheckpoint(eager=False)
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("cand_id"),
        "na",
        "nb",
        "shared",
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("cand_id"),
            F.col("nb").alias("na"),
            F.col("na").alias("nb"),
            "shared",
        )
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    cand = sym.where(jac < _HARDNEG_CUTOFF).select(
        "anchor_id",
        "cand_id",
        F.col("shared").cast("long").alias("shared"),
        F.round(jac, 6).alias("jaccard"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("shared").desc(), F.col("cand_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("anchor_id", F.col("cand_id").alias("negative_id"), "shared", "jaccard")
        .orderBy("anchor_id")
    )


# ------------------------------------------------ boilerplate detection
_BOILER_K = 3  # shingle width
_BOILER_DF = 3  # document-frequency threshold: appearing in >= DF docs


@register(
    "t_boilerplate_detect",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents),
sh AS (SELECT doc_id, {_shingle_sql(_BOILER_K)} AS sh FROM toks
       WHERE len(t) >= {_BOILER_K}),
ex AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY s),
boiler AS (SELECT s FROM df WHERE df >= {_BOILER_DF}),
per_doc AS (
  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler
  FROM ex e LEFT JOIN boiler b ON b.s = e.s
  GROUP BY e.doc_id)
SELECT doc_id, n_grams, n_boiler,
       FLOOR(CAST(n_boiler AS DOUBLE) / n_grams * 1000000 + 0.5) / 1000000
         AS boiler_ratio
FROM per_doc
ORDER BY doc_id
""",
    doc="boilerplate detection (the cleanup step web-crawl pipelines run "
    "before dedup): a 3-shingle is 'boilerplate' when it appears in >= 3 "
    "DISTINCT documents (headers, footers, nav chrome, license blurbs "
    "repeat across pages; real content doesn't), and each document "
    "reports the fraction of its distinct shingles that are boilerplate "
    "— the direct input to a drop-or-trim curation gate.  Scale: one "
    "shingle explode (hashed 8-byte keys), one map-side-combined "
    "document-frequency count, one shingle-keyed LEFT join back — the "
    "same inverted-index shape as d_ngram_jaccard, never all-pairs; "
    "the DF threshold makes the boiler set a small fraction of the "
    "vocabulary.",
)
def t_boilerplate_detect(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import _exploded_shingles

    e = _exploded_shingles(
        load_table(spark, sf, "documents"), "text", "doc_id", _BOILER_K
    ).select(F.col("__id").alias("doc_id"), F.col("__h").alias("s"))
    df_t = e.groupBy("s").agg(F.count("*").alias("df"))
    boiler = df_t.where(F.col("df") >= _BOILER_DF).select("s").withColumn(
        "is_boiler", F.lit(1)
    )
    per_doc = (
        e.join(boiler, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias("n_boiler"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        (
            F.floor(F.col("n_boiler").cast("double") / F.col("n_grams") * 1000000 + 0.5)
            / 1000000
        ).alias("boiler_ratio"),
    ).orderBy("doc_id")


# -------------------------------------------- similarity transitivity audit
@register(
    "d_transitivity_audit",
    oracle=f"""
WITH {_jaccard_cte(3, 0.5)},
edges AS (SELECT id_a AS u, id_b AS v FROM exact),
adj AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
wedges AS (
  SELECT a.v AS lo, b.v AS hi
  FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v),
wedge_t AS (SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS n_paths FROM wedges
            GROUP BY lo, hi),
closed AS (
  SELECT w.lo, w.hi, w.n_paths,
         CASE WHEN e.u IS NOT NULL THEN 1 ELSE 0 END AS is_closed
  FROM wedge_t w LEFT JOIN edges e ON e.u = w.lo AND e.v = w.hi),
panel AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_2path,
         CAST(SUM(is_closed) AS BIGINT) AS n_closed,
         CAST(SUM(n_paths) AS BIGINT) AS n_wedges
  FROM closed)
SELECT n_wedges, n_pairs_2path, n_closed,
       n_pairs_2path - n_closed AS n_violations,
       FLOOR(CAST(n_closed AS DOUBLE) / n_pairs_2path * 1000000 + 0.5)
         / 1000000 AS transitivity_rate
FROM panel
""",
    doc="transitivity audit of the >= 0.5 Jaccard similarity graph: "
    "near-duplication is used as if it were an equivalence relation "
    "(connected components become dedup clusters), but Jaccard at a "
    "threshold is NOT transitive — this measures how badly, counting "
    "distinct 2-path-connected pairs (A~B~C) whose closing edge A~C is "
    "missing.  A low transitivity_rate warns that cluster-based "
    "survivorship (d_dedup_clusters) is chaining dissimilar documents "
    "through hubs and the threshold needs raising.  Scale: wedges come "
    "from a node-keyed adjacency self-join (O(sum deg^2), the "
    "triangle-count shape), deduped to distinct endpoint pairs by one "
    "partial-agg'd groupBy, closed by ONE edge-keyed LEFT join — all "
    "counts exact integers, one mirrored ratio.",
)
def d_transitivity_audit(spark: SparkSession, sf: str) -> DataFrame:
    edges = (
        ngram_jaccard_pairs(load_table(spark, sf, "documents"), k=3, threshold=0.5)
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .localCheckpoint()  # feeds adjacency twice + the closing-edge probe
    )
    adj = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    a = adj.select(F.col("u").alias("mid"), F.col("v").alias("lo"))
    b = adj.select(F.col("u").alias("mid"), F.col("v").alias("hi"))
    wedges = (
        a.join(b, "mid")
        .where(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("n_paths"))
    )
    closed = wedges.join(
        edges.select(F.col("u").alias("lo"), F.col("v").alias("hi")).withColumn(
            "is_closed", F.lit(1)
        ),
        ["lo", "hi"],
        "left",
    )
    panel = closed.agg(
        F.count("*").alias("n_pairs_2path"),
        F.sum(F.coalesce(F.col("is_closed"), F.lit(0))).alias("n_closed"),
        F.sum("n_paths").alias("n_wedges"),
    )
    return panel.select(
        "n_wedges",
        "n_pairs_2path",
        "n_closed",
        (F.col("n_pairs_2path") - F.col("n_closed")).alias("n_violations"),
        (
            F.floor(
                F.col("n_closed").cast("double") / F.col("n_pairs_2path") * 1000000
                + 0.5
            )
            / 1000000
        ).alias("transitivity_rate"),
    )


# --------------------------------------------------- group-aware holdout
@register(
    "t_group_holdout",
    oracle=f"""
WITH {_jaccard_cte(3, 0.5)},
assign AS (
  SELECT doc_id, source,
         {portable_hash64_sql("source || 'holdout'")} % 5 = 0 AS holdout,
         CAST(len({_TOKS.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents),
splits AS (
  SELECT CAST(SUM(CASE WHEN holdout THEN 0 ELSE 1 END) AS BIGINT) AS n_docs_train,
         CAST(SUM(CASE WHEN holdout THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_holdout,
         CAST(COUNT(DISTINCT CASE WHEN NOT holdout THEN source END) AS BIGINT)
           AS n_sources_train,
         CAST(COUNT(DISTINCT CASE WHEN holdout THEN source END) AS BIGINT)
           AS n_sources_holdout,
         CAST(SUM(CASE WHEN holdout THEN n_tokens ELSE 0 END) AS BIGINT)
           AS holdout_tokens
  FROM assign),
leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS neardup_pairs_total,
         CAST(SUM(CASE WHEN fa.holdout <> fb.holdout THEN 1 ELSE 0 END) AS BIGINT)
           AS pairs_straddling
  FROM exact e
  JOIN assign fa ON fa.doc_id = e.id_a
  JOIN assign fb ON fb.doc_id = e.id_b)
SELECT s.n_docs_train, s.n_docs_holdout, s.n_sources_train, s.n_sources_holdout,
       s.holdout_tokens, l.neardup_pairs_total, l.pairs_straddling,
       CASE WHEN l.neardup_pairs_total = 0 THEN 0.0
            ELSE FLOOR(CAST(l.pairs_straddling AS DOUBLE) / l.neardup_pairs_total
                       * 1000000 + 0.5) / 1000000 END AS straddle_frac
FROM splits s CROSS JOIN leak l
""",
    doc="group-aware train/holdout split + leakage audit: documents are "
    "assigned to the holdout by hashing their SOURCE (portable md5 "
    "hash, ~1/5 of sources), never individually — the split every "
    "eval-design review asks for, because a doc-level split puts "
    "near-identical crawl copies on both sides and inflates eval "
    "scores.  The audit then measures what source-level splitting "
    "CANNOT fix: near-dup pairs (exact 3-shingle Jaccard >= 0.5, the "
    "d_ngram_jaccard machinery with its hot-shingle prefix guard) that "
    "straddle the split because the duplicates live in DIFFERENT "
    "sources — reported as pairs_straddling / straddle_frac, the "
    "number a leakage-aware curator feeds back into cross-source "
    "dedup (d_cross_source_leakage) before freezing the benchmark.  "
    "Scale: the assignment is a pure per-row hash (no shuffle); the "
    "audit joins the bounded pair list to a 2-column flag table; "
    "count panels cross into one row.",
)
def t_group_holdout(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    assign = docs.select(
        "doc_id",
        "source",
        (F.pmod(portable_hash64(F.concat(F.col("source"), F.lit("holdout"))), F.lit(5)) == 0).alias(
            "holdout"
        ),
        token_count("text").alias("n_tokens"),
    ).localCheckpoint()  # feeds the split panel and both pair-flag joins
    splits = assign.agg(
        F.sum(F.when(F.col("holdout"), 0).otherwise(1)).cast("long").alias("n_docs_train"),
        F.sum(F.when(F.col("holdout"), 1).otherwise(0)).cast("long").alias("n_docs_holdout"),
        F.countDistinct(F.when(~F.col("holdout"), F.col("source"))).cast("long").alias(
            "n_sources_train"
        ),
        F.countDistinct(F.when(F.col("holdout"), F.col("source"))).cast("long").alias(
            "n_sources_holdout"
        ),
        F.sum(F.when(F.col("holdout"), F.col("n_tokens")).otherwise(0)).cast("long").alias(
            "holdout_tokens"
        ),
    )
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    fa = assign.select(F.col("doc_id").alias("id_a"), F.col("holdout").alias("ha"))
    fb = assign.select(F.col("doc_id").alias("id_b"), F.col("holdout").alias("hb"))
    leak = (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .agg(
            F.count("*").cast("long").alias("neardup_pairs_total"),
            F.sum(F.when(F.col("ha") != F.col("hb"), 1).otherwise(0))
            .cast("long")
            .alias("pairs_straddling"),
        )
    )
    return splits.crossJoin(F.broadcast(leak)).select(
        "n_docs_train",
        "n_docs_holdout",
        "n_sources_train",
        "n_sources_holdout",
        "holdout_tokens",
        "neardup_pairs_total",
        "pairs_straddling",
        F.when(F.col("neardup_pairs_total") == 0, F.lit(0.0))
        .otherwise(
            F.floor(
                F.col("pairs_straddling").cast("double")
                / F.col("neardup_pairs_total")
                * 1000000
                + 0.5
            )
            / 1000000
        )
        .alias("straddle_frac"),
    )


# ----------------------------------------- blocked edit-distance near-dup
_LEV_PREFIX = 12
_LEV_SIG = 40
_LEV_MAX = 8


@register(
    "d_levenshtein_blocked",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         substr(text, 1, {_LEV_SIG}) AS sig,
         substr(text, 1, {_LEV_PREFIX}) AS blk
  FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(levenshtein(a.sig, b.sig) AS BIGINT) AS edit_dist
  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id)
SELECT id_a, id_b, edit_dist
FROM pairs WHERE edit_dist <= {_LEV_MAX}
ORDER BY id_a, id_b
""",
    doc="blocked edit-distance near-duplicate pairs (the string-metric leg "
    "of the dedup family, complementing set-based Jaccard/MinHash and "
    "bit-based SimHash): candidate pairs are generated ONLY within "
    f"exact-prefix blocks (first {_LEV_PREFIX} chars — crawl near-dups "
    "share prefixes; substitute any cheap canonical key), then scored "
    f"with Levenshtein over a {_LEV_SIG}-char signature and kept at "
    f"distance <= {_LEV_MAX}.  Spark's thresholded levenshtein "
    "(early-exit banded DP, cost O(len*threshold) not O(len^2)) computes "
    "the distance; both engines agree on the kept pairs and distances.  "
    "Scale: the self-join is an equi-join on the block key — never "
    "all-pairs; pair volume is sum over blocks of |block|^2, so the "
    "block key's selectivity is the knob (lengthen the prefix or add a "
    "length band for hot blocks, the same skew treatment as "
    "d_jaccard_prefix's rarest-shingle guard).  The quadratic stage "
    "touches only the bounded signature, not full documents.",
)
def d_levenshtein_blocked(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.substring("text", 1, _LEV_SIG).alias("sig"),
        F.substring("text", 1, _LEV_PREFIX).alias("blk"),
    )
    a = d.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), "blk"
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), "blk"
    )
    pairs = a.join(b, "blk").where(F.col("id_a") < F.col("id_b"))
    # thresholded levenshtein: returns -1 when the distance exceeds the
    # bound, so the filter keeps real distances only — and the banded DP
    # makes the per-pair cost linear in the threshold at 100 TB
    dist = F.levenshtein("sig_a", "sig_b", _LEV_MAX)
    return (
        pairs.select("id_a", "id_b", dist.cast("long").alias("edit_dist"))
        .where(F.col("edit_dist") >= 0)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------------- winnowing
_WINNOW_K = 8   # char k-gram length
_WINNOW_W = 4   # window of consecutive k-gram hashes per fingerprint
_WINNOW_MAXDF = 10


@register(
    "d_winnowing",
    oracle=f"""
WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
           FROM documents),
h AS (SELECT doc_id,
             CASE WHEN length(t) >= {_WINNOW_K}
                  THEN list_transform(range(1, length(t) - {_WINNOW_K - 2}),
                         i -> {portable_hash64_sql(f"substr(t, CAST(i AS INT), {_WINNOW_K})")})
                  ELSE [] END AS hs
      FROM d),
fpl AS (SELECT doc_id,
               CASE WHEN len(hs) > 0
                    THEN list_distinct(list_transform(
                           range(1, greatest(len(hs) - {_WINNOW_W - 1}, 1) + 1),
                           j -> list_aggregate(list_slice(hs, j, j + {_WINNOW_W - 1}), 'min')))
                    ELSE [] END AS fps
        FROM h),
fps AS (SELECT doc_id, UNNEST(fps) AS fingerprint FROM fpl),
rare AS (SELECT fingerprint FROM fps GROUP BY fingerprint
         HAVING COUNT(*) <= {_WINNOW_MAXDF}),
kept AS (SELECT f.doc_id, f.fingerprint FROM fps f JOIN rare USING (fingerprint)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM kept GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS shared
          FROM kept a JOIN kept b
            ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT id_a, id_b, shared,
       ROUND(shared / (sa.n + sb.n - shared), 6) AS jaccard
FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
ORDER BY jaccard DESC, id_a, id_b
""",
    doc="winnowing fingerprint near-dup pairs (Schleimer, Wilkerson & "
    "Aiken 2003 — the MOSS algorithm): per document, hash every 8-char "
    "k-gram with the portable md5 hash and keep the minimum of each "
    "4-hash sliding window, guaranteeing any shared substring of length "
    ">= 11 chars leaves a shared fingerprint while selecting only "
    "~2/(w+1) of the k-grams — position-robust contamination/plagiarism "
    "detection the shingle families miss when edits shift token "
    "boundaries.  Pairs come from the inverted-index self-join on "
    "fingerprints with a doc-frequency cap (> 10 docs = boilerplate, "
    "dropped BEFORE the join — the hot-key discipline of "
    "minhash_lsh_pairs), Jaccard over the retained sets, >= 2 shared.  "
    "All per-doc array work is narrow Catalyst; the wide stages touch "
    "only selected fingerprints (operators/dedup.winnowing_pairs).",
)
def d_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import winnowing_pairs

    docs = load_table(spark, sf, "documents")
    pairs = winnowing_pairs(
        docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W,
        max_df=_WINNOW_MAXDF, min_shared=2,
    )
    return pairs.orderBy(F.col("jaccard").desc(), "id_a", "id_b")


# ----------------------------------------------------------------- RAKE
_RAKE_DOCS = 100   # bounded output: first N english docs
_RAKE_TOPK = 3


def _rake_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH d AS (SELECT doc_id, {_TOKS.format(col="text")} AS t
           FROM documents WHERE lang = 'en' AND doc_id < {_RAKE_DOCS}),
marked AS (SELECT doc_id,
                  list_transform(t, w -> CASE WHEN w IN ({stops})
                                              THEN chr(167) ELSE w END) AS mt
           FROM d),
phl AS (SELECT doc_id,
               list_filter(list_transform(
                 string_split(array_to_string(mt, ' '), chr(167)),
                 p -> trim(p)), p -> p <> '') AS phs
        FROM marked),
p1 AS (SELECT doc_id, UNNEST(phs) AS phrase,
              generate_subscripts(phs, 1) AS pidx FROM phl),
w1 AS (SELECT doc_id, pidx, phrase,
              UNNEST(string_split(phrase, ' ')) AS word,
              generate_subscripts(string_split(phrase, ' '), 1) AS wpos,
              len(string_split(phrase, ' ')) AS plen
       FROM p1),
stats AS (SELECT doc_id, word,
                 CAST(COUNT(*) AS BIGINT) AS freq,
                 CAST(SUM(plen) AS BIGINT) AS deg
          FROM w1 GROUP BY 1, 2),
sw AS (SELECT w1.doc_id, w1.pidx, w1.phrase, w1.wpos,
              CAST(s.deg AS DOUBLE) / s.freq AS wscore
       FROM w1 JOIN stats s ON w1.doc_id = s.doc_id AND w1.word = s.word),
phsc AS (SELECT doc_id, pidx, phrase, list(wscore ORDER BY wpos) AS l
         FROM sw GROUP BY 1, 2, 3),
uniq AS (SELECT DISTINCT doc_id, phrase,
                ROUND(list_reduce(l, (x, y) -> x + y), 6) AS score
         FROM phsc),
top AS (SELECT doc_id, phrase, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, phrase) AS rk
        FROM uniq)
SELECT doc_id, phrase, score, CAST(rk AS INT) AS rank
FROM top WHERE rk <= {_RAKE_TOPK}
ORDER BY doc_id, rank
"""


@register(
    "t_keyword_rake",
    oracle=_rake_oracle(),
    doc="RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010): "
    "candidate phrases are maximal token runs between stopwords; each "
    "word scores degree/frequency (degree = sum of host-phrase lengths "
    "over its occurrences — rewards words living in long collocations); "
    "a phrase scores the sum of its member word scores; top-3 phrases "
    "per document.  The unsupervised keyword tagger for corpus "
    "indexing/labeling — no model, no IDF table, per-document only.  "
    "Determinism: degree/freq are exact integers, the single division "
    "is one IEEE op, and the phrase score folds LEFT-TO-RIGHT over "
    "words in phrase order (F.aggregate vs list_reduce) — never a "
    "float sum in engine-chosen row order.  Scale: everything is "
    "per-document (two explodes, two doc-keyed aggregates, one top-k "
    "window); no corpus-wide state at all, so it maps over 100 TB "
    "embarrassingly.  Output bounded to the first 100 english docs.",
)
def t_keyword_rake(spark: SparkSession, sf: str) -> DataFrame:
    docs = (
        load_table(spark, sf, "documents")
        .where((F.col("lang") == "en") & (F.col("doc_id") < _RAKE_DOCS))
    )
    stops = list(STOPWORDS["en"])
    t = tokens("text")
    marked = F.transform(
        t, lambda w: F.when(w.isin(stops), F.lit("§")).otherwise(w)
    )
    phrases = F.filter(
        F.transform(
            F.split(F.concat_ws(" ", marked), "§"), lambda p: F.trim(p)
        ),
        lambda p: p != "",
    )
    p1 = docs.select("doc_id", phrases.alias("phs")).select(
        "doc_id", F.posexplode("phs").alias("pidx", "phrase")
    )
    words = F.split(F.col("phrase"), " ")
    w1 = p1.select(
        "doc_id",
        "pidx",
        "phrase",
        F.size(words).alias("plen"),
        F.posexplode(words).alias("wpos", "word"),
    )
    stats = w1.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    sw = w1.join(stats, ["doc_id", "word"]).select(
        "doc_id",
        "pidx",
        "phrase",
        "wpos",
        (F.col("deg").cast("double") / F.col("freq")).alias("wscore"),
    )
    phsc = sw.groupBy("doc_id", "pidx", "phrase").agg(
        F.sort_array(F.collect_list(F.struct("wpos", "wscore"))).alias("l")
    )
    score = F.round(
        F.aggregate(
            F.transform(F.col("l"), lambda x: x["wscore"]),
            F.lit(0.0),
            lambda x, y: x + y,
        ),
        6,
    )
    uniq = phsc.select("doc_id", "phrase", score.alias("score")).distinct()
    wtop = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "phrase")
    return (
        uniq.withColumn("rank", F.row_number().over(wtop))
        .where(F.col("rank") <= _RAKE_TOPK)
        .orderBy("doc_id", "rank")
    )


# --------------------------------------------- readability (Flesch family)
@register(
    "t_readability",
    oracle="""
WITH d AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS w,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s,
         CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                       len(regexp_extract_all(text, '[^ ]+'))) AS BIGINT) AS sy
  FROM documents),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS words,
         CAST(SUM(s) AS BIGINT) AS sentences,
         CAST(SUM(sy) AS BIGINT) AS syllables
  FROM d GROUP BY source)
SELECT source, n_docs, words, sentences, syllables,
       ROUND(206.835 - 1.015 * (words * 1.0 / sentences)
             - 84.6 * (syllables * 1.0 / words), 4) AS flesch_ease,
       ROUND(0.39 * (words * 1.0 / sentences)
             + 11.8 * (syllables * 1.0 / words) - 15.59, 4) AS fk_grade
FROM agg
ORDER BY source
""",
    doc="readability scoring per corpus source (Flesch 1948 reading "
    "ease + Flesch-Kincaid grade, Kincaid et al. 1975) with the "
    "classic deterministic syllable heuristic: a syllable is a maximal "
    "vowel group ([aeiouy]+), clamped to >= the word count (every word "
    "carries at least one syllable) — the quality-binning signal "
    "training-data pipelines use to stratify corpora by difficulty.  "
    "All three counters are per-doc exact bigints (regexp match "
    "counts, identical RE classes on both engines) summed per source; "
    "the two formulas are single IEEE expressions rounded at the end.  "
    "Scale: one document scan, one source-keyed partial aggregate — "
    "no UDF, the regexp machinery runs in whole-stage codegen.",
)
def t_readability(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    w = F.regexp_count(F.col("text"), F.lit(r"[^ ]+")).cast("long")
    s = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("long"), F.lit(1).cast("long")
    )
    sy = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")).cast("long"), w
    )
    agg = (
        d.select("source", w.alias("w"), s.alias("s"), sy.alias("sy"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").cast("long").alias("words"),
            F.sum("s").cast("long").alias("sentences"),
            F.sum("sy").cast("long").alias("syllables"),
        )
    )
    wps = F.col("words") * 1.0 / F.col("sentences")
    spw = F.col("syllables") * 1.0 / F.col("words")
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.round(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 4).alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - F.lit(15.59), 4).alias("fk_grade"),
    ).orderBy("source")


# ------------------------------------------ pairwise source vocab overlap
@register(
    "t_vocab_overlap",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT source, unnest({_TOKS.format(col="text")}) AS tk
  FROM documents),
vsz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab FROM tok GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM tok a JOIN tok b ON a.tk = b.tk AND a.source < b.source
  GROUP BY 1, 2)
SELECT i.src_a, i.src_b, va.vocab AS vocab_a, vb.vocab AS vocab_b, i.inter,
       ROUND(i.inter * 1.0 / (va.vocab + vb.vocab - i.inter), 6) AS jaccard,
       ROUND(i.inter * 1.0 / LEAST(va.vocab, vb.vocab), 6) AS containment
FROM inter i
JOIN vsz va ON i.src_a = va.source
JOIN vsz vb ON i.src_b = vb.source
ORDER BY jaccard DESC, src_a, src_b
LIMIT 25
""",
    doc="pairwise source-vocabulary overlap: exact Jaccard and "
    "containment of the DISTINCT token sets of every source pair, top "
    "25 by Jaccard — the corpus-governance readout for mixture design "
    "(near-identical sources waste mixture weight; d_cross_source_"
    "leakage finds duplicated DOCUMENTS, this finds homogeneous "
    "VOCABULARIES).  Computed as an inverted-index equi-join on token "
    "(tokens appearing in both sources pair up; never a source x "
    "source cross join), so the pair work is O(shared-token "
    "postings), the same scale shape as the shingle dedup family.  "
    "Counts exact bigints; two divisions rounded at the end; total "
    "order (jaccard DESC, pair) under the LIMIT.  Scale: distinct "
    "(source, token) is one partial-agg'd shuffle; sources are "
    "bounded (20 here), so the vocab panels broadcast.",
)
def t_vocab_overlap(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import tokens

    d = load_table(spark, sf, "documents")
    tok = d.select("source", F.explode(tokens("text")).alias("tk")).distinct()
    vsz = tok.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    a = tok.select(F.col("source").alias("src_a"), "tk")
    b = tok.select(F.col("source").alias("src_b"), "tk")
    inter = (
        a.join(b, ["tk"])
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    va = vsz.select(F.col("source").alias("src_a"), F.col("vocab").alias("vocab_a"))
    vb = vsz.select(F.col("source").alias("src_b"), F.col("vocab").alias("vocab_b"))
    return (
        inter.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "inter",
            F.round(
                F.col("inter")
                * 1.0
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
            F.round(F.col("inter") * 1.0 / F.least("vocab_a", "vocab_b"), 6).alias(
                "containment"
            ),
        )
        .orderBy(F.col("jaccard").desc(), "src_a", "src_b")
        .limit(25)
    )
