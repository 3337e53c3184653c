"""Training-data pipeline suite: clustering, packing, contamination,
PII, chunking, repetition — the operations a 100 TB pre-training corpus
build needs beyond pairwise dedup.

Registered LAST in ``load_all`` so the driver's budgeted walk reaches
the round-1 backlog first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.bpe import (
    bpe_encode,
    bpe_encode_sql,
    with_bpe_token_count,
    word_frequency,
)
from ..functions.text import token_count
from ..operators.dedup import ngram_jaccard_pairs
from ..operators.graph import dedup_clusters
from ..operators.packing import pack_sequences
from ..tables import load_table
from . import register
from ..functions.hashing import portable_hash64_sql
from .text_dedup import _BPE_SQL, _jaccard_cte, _NORM, _shingle_sql, _sw_sql, _TOKS


@register(
    "d_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_jaccard_cte(3, 0.5)},
edges AS (SELECT id_a AS u, id_b AS v FROM exact
          UNION SELECT id_b, id_a FROM exact),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
labels AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
           FROM reach GROUP BY u),
assigned AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM assigned
ORDER BY doc_id
""",
    doc="near-dup CLUSTERS, not just pairs: exact 3-shingle Jaccard >= 0.5 "
    "pairs -> alternating large-star/small-star connected components "
    "(Kiveris et al.) -> full-corpus cluster assignment with canonical "
    "keeper per component.  filter(is_canonical) IS the deduped corpus. "
    "Scale: every CC round is two groupBy-on-node-id shuffles; the oracle "
    "replays the closure with a recursive CTE.",
)
def d_clusters(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    # the checkpointed label table carries no size stats, so the planner
    # can't auto-broadcast it; the dup rate at these SFs is known-small,
    # which is exactly the case the explicit hint exists for
    return dedup_clusters(docs, pairs, broadcast_labels=True).orderBy("doc_id")


@register(
    "t_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents),
p AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM t)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS seq_first,
       CAST(CASE WHEN n_tokens <= 0 THEN start_offset // 512
                 ELSE (start_offset + n_tokens - 1) // 512 END AS BIGINT)
         AS seq_last,
       CAST(CASE WHEN n_tokens <= 0 THEN 1
                 ELSE (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1
            END AS BIGINT) AS n_seqs
FROM p
ORDER BY doc_id
""",
    doc="GPT-style sequence packing: concatenate documents in doc_id order "
    "and chop the whitespace-token stream into 512-token context windows; "
    "each doc gets its global start offset and first/last window index. "
    "The global running offset uses a two-phase distributed prefix sum "
    "(range partition -> parallel local windows -> bounded per-partition "
    "offset broadcast) — NO data-sized single-partition window stage; the "
    "oracle replays it with a plain global window.",
)
def t_pack(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return (
        pack_sequences(d, "doc_id", "n_tokens", budget=512)
        .select("doc_id", "n_tokens", "start_offset", "seq_first", "seq_last", "n_seqs")
        .orderBy("doc_id")
    )


# Frozen BPE merge table: 24 rounds of functions.bpe.train_bpe over the
# sf0.01 documents word-frequency table (pair freqs at training time in
# the trailing comments).  Frozen-as-literal is the production shape — a
# tokenizer is trained ONCE and then applied as a fixed artifact to
# every later corpus — and it is what lets DuckDB replay the exact fold
# (bpe_encode_sql) for full oracle pairing at any SF.
_BPE_MERGES: "list[tuple[str, str]]" = [
    ("e", "r"),      # 4568
    ("i", "n"),      # 2760
    ("o", "w"),      # 2747
    ("o", "r"),      # 2696
    ("s", "t"),      # 2676
    ("m", "er"),     # 1852
    ("a", "t"),      # 1845
    ("l", "u"),      # 1831
    ("a", "r"),      # 1758
    ("p", "ar"),     # 1758
    ("j", "o"),      # 964
    ("jo", "in"),    # 964
    ("a", "s"),      # 947
    ("as", "h"),     # 947
    ("h", "ash"),    # 947
    ("r", "ow"),     # 943
    ("at", "c"),     # 937
    ("atc", "h"),    # 937
    ("b", "atch"),   # 937
    ("a", "n"),      # 936
    ("c", "an"),     # 936
    ("s", "can"),    # 936
    ("c", "o"),      # 934
    ("c", "u"),      # 934
]


@register(
    "t_bpe_apply",
    oracle=f"""
WITH toks AS (SELECT {_TOKS.format(col="text")} AS t FROM documents),
words AS (SELECT unnest(t) AS w FROM toks),
wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY w),
enc AS (SELECT w, freq, {bpe_encode_sql('w', _BPE_MERGES)} AS syms FROM wf),
tok AS (SELECT w, freq, unnest(syms) AS token FROM enc)
SELECT token,
       CAST(length(token) AS BIGINT) AS token_len,
       CAST(SUM(freq) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
FROM tok GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 40
""",
    doc="APPLY a trained BPE tokenizer corpus-wide (the other half of "
    "t_bpe_first_merges, which trains): fold the frozen 24-rule merge "
    "table over every DISTINCT word (rank-ordered left-to-right merge "
    "passes as one nested Catalyst aggregate — JVM-side, no Python), "
    "weight by word frequency, and roll up the resulting subword "
    "vocabulary — top tokens by corpus occurrences with their lengths "
    "and distinct-word reach.  The oracle replays the IDENTICAL fold "
    "via nested list_reduce, so the whole approximate-free encode path "
    "is hash-checked.  Scale: encode cost is O(|vocab|), not O(corpus) "
    "— the distinct-first rewrite (SURVEY §4.3.4); the corpus pays one "
    "word-count shuffle and the rollup is partial-agg'd on subword "
    "tokens.",
)
def t_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    wf = word_frequency(docs, "text")
    tok = wf.select(
        "w", "freq", F.explode(bpe_encode("w", _BPE_MERGES)).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.sum("freq").alias("n_occurrences"),
            F.countDistinct("w").alias("n_words"),
        )
        .select(
            "token",
            F.length("token").cast("long").alias("token_len"),
            "n_occurrences",
            "n_words",
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(40)
    )


@register(
    "t_pack_sequences_bpe",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS w FROM toks),
wc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY doc_id, w),
vocab AS (SELECT DISTINCT w FROM wc),
enc AS (SELECT w, CAST(len({bpe_encode_sql('w', _BPE_MERGES)}) AS BIGINT) AS n_syms
        FROM vocab),
dt AS (SELECT doc_id, CAST(SUM(cnt * n_syms) AS BIGINT) AS n_tokens
       FROM wc JOIN enc USING (w) GROUP BY doc_id),
t AS (SELECT d.doc_id, COALESCE(dt.n_tokens, 0) AS n_tokens
      FROM documents d LEFT JOIN dt ON d.doc_id = dt.doc_id),
p AS (SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
      FROM t)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 256 AS BIGINT) AS seq_first,
       CAST(CASE WHEN n_tokens <= 0 THEN start_offset // 256
                 ELSE (start_offset + n_tokens - 1) // 256 END AS BIGINT)
         AS seq_last,
       CAST(CASE WHEN n_tokens <= 0 THEN 1
                 ELSE (start_offset + n_tokens - 1) // 256 - start_offset // 256 + 1
            END AS BIGINT) AS n_seqs
FROM p
ORDER BY doc_id
""",
    doc="sequence packing on EXACT tokenizer counts: t_pack_sequences "
    "re-parameterized from the whitespace approximation to the token "
    "count the model actually sees — per-document BPE subword counts "
    "from the frozen merge table (distinct-word encode, broadcast "
    "(word -> n_subtokens) map, weighted per-doc sum), then the same "
    "two-phase distributed prefix sum chops the stream into 256-token "
    "context windows.  This is the count/packing loop a real "
    "pre-training pipeline runs; the whitespace variant stays as the "
    "cheap screening pass.  Scale: encode O(|vocab|); corpus side adds "
    "one explode + two key-local aggregations and a broadcast join on "
    "top of t_pack_sequences' bounded prefix-sum plan — still no "
    "data-sized single-partition stage.",
)
def t_pack_bpe(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    counts = with_bpe_token_count(
        d, "doc_id", "text", _BPE_MERGES, out_col="n_tokens"
    ).select("doc_id", "n_tokens")
    return (
        pack_sequences(counts, "doc_id", "n_tokens", budget=256)
        .select("doc_id", "n_tokens", "start_offset", "seq_first", "seq_last", "n_seqs")
        .orderBy("doc_id")
    )


@register(
    "t_bpe_fertility",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS w FROM toks),
wc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY doc_id, w),
vocab AS (SELECT DISTINCT w FROM wc),
enc AS (SELECT w, CAST(len({bpe_encode_sql('w', _BPE_MERGES)}) AS BIGINT) AS n_syms
        FROM vocab),
dt AS (SELECT doc_id, CAST(SUM(cnt * n_syms) AS BIGINT) AS n_bpe
       FROM wc JOIN enc USING (w) GROUP BY doc_id),
per_doc AS (
  SELECT d.source, d.lang,
         CAST(len({_TOKS.format(col="d.text")}) AS BIGINT) AS n_words,
         COALESCE(dt.n_bpe, 0) AS n_bpe,
         CAST(strlen(d.text) AS BIGINT) AS n_bytes
  FROM documents d LEFT JOIN dt ON d.doc_id = dt.doc_id),
agg AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS n_words,
         CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
         CAST(SUM(n_bytes) AS BIGINT) AS n_bytes
  FROM per_doc GROUP BY source, lang)
SELECT source, lang, n_docs, n_words, n_bpe_tokens, n_bytes,
       CASE WHEN n_words > 0
            THEN CAST(CAST(n_bpe_tokens AS HUGEINT) * 1000000 // n_words AS BIGINT)
       END AS fertility_micro,
       CASE WHEN n_bpe_tokens > 0
            THEN CAST(CAST(n_bytes AS HUGEINT) * 1000000 // n_bpe_tokens AS BIGINT)
       END AS bytes_per_token_micro
FROM agg
ORDER BY source, lang
""",
    doc="tokenizer fertility / compression audit — the mix-decision "
    "metric a pre-training pipeline reads before setting per-source "
    "sampling weights (round-8 verdict #3): per (source, lang) cell, "
    "subword FERTILITY (BPE tokens per whitespace word — how much the "
    "tokenizer fragments that slice; high fertility = the model pays "
    "more sequence length for the same text) and COMPRESSION (bytes "
    "per BPE token — how much raw corpus one token of budget buys).  "
    "Counts come from with_bpe_token_count's distinct-first pricing on "
    "the frozen t_bpe_apply merge table, so the metrics are the EXACT "
    "counts the model would see, not whitespace approximations; both "
    "ratios are exact integer micro-units (HUGEINT/decimal product, "
    "floor division — bit-identical across engines, sf1000-safe).  "
    "Scale: encode O(|vocab|); corpus pays one word-count explode and "
    "one (source, lang) partial-agg'd rollup — ~sources x langs rows "
    "out regardless of corpus size.",
)
def t_bpe_fertility(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").select("doc_id", "source", "lang", "text")
    counts = with_bpe_token_count(d, "doc_id", "text", _BPE_MERGES, out_col="n_bpe")
    per_doc = counts.select(
        "source",
        "lang",
        token_count("text").alias("n_words"),
        F.col("n_bpe"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    agg = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe").alias("n_bpe_tokens"),
        F.sum("n_bytes").alias("n_bytes"),
    )
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_bytes",
        F.when(
            F.col("n_words") > 0,
            F.expr(
                "CAST(CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000 DIV n_words AS BIGINT)"
            ),
        ).alias("fertility_micro"),
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.expr(
                "CAST(CAST(n_bytes AS DECIMAL(38,0)) * 1000000 DIV n_bpe_tokens AS BIGINT)"
            ),
        ).alias("bytes_per_token_micro"),
    ).orderBy("source", "lang")


_GATE = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ev'), 1, 15) AS BIGINT) "
    "% 1000000 < 50000"
)


_CONTAM_ORACLE = (
    """
WITH toks AS (SELECT doc_id, __TOKS__ AS t FROM documents),
sh AS (SELECT doc_id, __SHINGLES__ AS sh FROM toks WHERE len(t) >= 5),
ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
h AS (SELECT doc_id, n, __H64__ AS h FROM ex),
ev AS (SELECT * FROM h WHERE __GATE__),
tr AS (SELECT * FROM h WHERE NOT (__GATE__)),
pairs AS (
  SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, ev.n AS ne,
         COUNT(*) AS shared_ngrams
  FROM tr JOIN ev ON tr.h = ev.h
  GROUP BY 1, 2, 3)
SELECT train_id, eval_id, shared_ngrams,
       ROUND(shared_ngrams / ne, 6) AS overlap_frac
FROM pairs WHERE shared_ngrams >= 2
ORDER BY train_id, eval_id
"""
    .replace("__TOKS__", _TOKS.format(col="text"))
    .replace("__SHINGLES__", _shingle_sql(5))
    .replace("__H64__", portable_hash64_sql("s"))
    .replace("__GATE__", _GATE)
)


@register(
    "t_contamination",
    oracle=_CONTAM_ORACLE,
    doc="benchmark-contamination check: deterministic 5% hash-gate eval "
    "split, then distinct 5-shingle overlap between every train and eval "
    "doc via the inverted-index equi-join with the (small) eval side "
    "broadcast — the training corpus is never shuffled.  overlap_frac is "
    "shared / eval-doc shingles, the contamination convention.",
)
def t_contamination(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import cross_corpus_overlap
    from ..operators.sampling import sample_gate

    d = load_table(spark, sf, "documents")
    gate = sample_gate("doc_id", 0.05, salt="ev")
    return (
        cross_corpus_overlap(
            d.where(~gate), d.where(gate), k=5, min_shared=2
        )
        .orderBy("train_id", "eval_id")
    )


@register(
    "t_pii_redact",
    oracle="""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
    '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS redacted,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text,
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text,
    '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn
FROM documents
ORDER BY doc_id
""",
    doc="PII redaction: email / IPv4 / SSN patterns replaced with "
    "placeholder tokens plus per-kind match counts — pure codegen "
    "regexp_replace/regexp_count, scan-speed.  Patterns restricted to "
    "syntax with identical Java-regex and RE2 semantics so the oracle "
    "replays them verbatim.",
)
def t_pii(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import pii_count, redact_pii

    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        redact_pii("text").alias("redacted"),
        pii_count("text", "email").alias("n_email"),
        pii_count("text", "ipv4").alias("n_ipv4"),
        pii_count("text", "ssn").alias("n_ssn"),
    ).orderBy("doc_id")


@register(
    "t_repetition",
    oracle="""
WITH toks AS (SELECT doc_id, __TOKS__ AS t FROM documents),
base AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd FROM toks),
bg AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i + 1])) AS g
       FROM toks WHERE len(t) >= 2),
cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS topc, SUM(c) AS total FROM cnt GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS n_tokens,
       ROUND(b.nd / greatest(b.n, 1), 6) AS distinct_token_frac,
       ROUND(COALESCE(t.topc / t.total, 0.0), 6) AS top_bigram_frac
FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
ORDER BY b.doc_id
""".replace("__TOKS__", _TOKS.format(col="text")),
    doc="repetition quality filters (Gopher-style): distinct-token "
    "fraction and most-frequent-bigram share per document.  Bigram mode "
    "needs a real distribution, so it shuffles — but keyed by (doc, "
    "bigram) with map-side partial counts, then a per-doc rollup; both "
    "shuffles carry one row per DISTINCT doc-bigram, not per token.",
)
def t_repetition(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import tokens

    d = load_table(spark, sf, "documents").select("doc_id", tokens("text").alias("t"))
    base = d.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("t")) / F.greatest(F.size("t"), F.lit(1)), 6
        ).alias("distinct_token_frac"),
    )
    bigrams = (
        d.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat(
                        F.element_at(F.col("t"), i), F.lit(" "), F.element_at(F.col("t"), i + 1)
                    ),
                )
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("topc"), F.sum("c").alias("total"))
        .select(
            "doc_id", F.round(F.col("topc") / F.col("total"), 6).alias("top_bigram_frac")
        )
    )
    return (
        base.join(bigrams, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "distinct_token_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_chunk_documents",
    oracle="""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(length(text), 1), 150)) AS i
  FROM documents)
SELECT doc_id,
       CAST((i - 1) // 150 AS BIGINT) AS chunk_idx,
       CAST(i AS BIGINT) AS chunk_start,
       substr(text, CAST(i AS INT), 200) AS chunk_text
FROM starts
ORDER BY doc_id, chunk_idx
""",
    doc="RAG-style document chunking: 200-char windows at stride 150 "
    "(50-char overlap) via sequence+explode+substring — one scan, rows "
    "multiply by ceil(len/stride) with NO shuffle; chunk provenance "
    "(doc_id, chunk_idx, chunk_start) kept for citation back-refs.",
)
def t_chunk(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(150))
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.floor((F.col("i") - 1) / 150).cast("long").alias("chunk_idx"),
            F.col("i").cast("long").alias("chunk_start"),
            F.expr("substring(text, i, 200)").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "q_hll_sketch",
    oracle=None,  # sketch bytes are engine-specific; rows-only check
    doc="mergeable distinct-count sketches (Apache DataSketches HLL, "
    "built into Spark): per-type user sketches built directly AND as a "
    "union of per-day partial sketches — both estimates stay inside "
    "HLL's error bound (union is mergeable, though sparse->dense "
    "promotion means not bit-identical), proving the sketch is safe to "
    "roll up incrementally (the pattern that replaces exact "
    "count-distinct at 100 TB).  Estimates are deterministic for a "
    "fixed dataset; no SQL oracle because the sketch registers are "
    "engine-specific.",
)
def q_hll(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users")
    )
    daily = (
        e.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users_merged"))
    )
    return (
        direct.join(daily, "event_type")
        .select("event_type", "approx_users", "approx_users_merged")
        .orderBy("event_type")
    )


@register(
    "d_jaccard_prefix",
    oracle=f"WITH {_jaccard_cte(3, 0.5)} SELECT id_a, id_b, jaccard FROM exact",
    doc="EXACT 3-shingle Jaccard pairs >= 0.5 via PREFIX FILTERING "
    "(AllPairs/PPJoin): per-doc shingles ranked rarest-first, self-join "
    "restricted to the first n-ceil(t*n)+1 of each doc plus a length "
    "filter, then each candidate verified by intersecting the two docs' "
    "sorted shingle sets.  Result is "
    "IDENTICAL to d_ngram_jaccard (same oracle); the plan trades two "
    "O(shingles) fixed-width shuffles (frequency agg + per-doc set) for "
    "a candidate join over Sum pf(h)^2 instead of Sum df(h)^2 — the win "
    "appears on Zipfian real-corpus shingle distributions where the "
    "head shingles dominate the plain join (at this synthetic near-"
    "uniform SF the plain join is still cheaper; both are shipped).",
)
def d_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import jaccard_prefix_pairs

    docs = load_table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return jaccard_prefix_pairs(docs, k=3, threshold=0.5)


# built from the SAME SQL-twin helpers the Spark-side functions pair
# with (fingerprint = portable hash of the normalized lowered text, the
# gate = the sampling hash gate), so edits to those helpers propagate;
# NOT EXISTS rather than NOT IN because anti-join is null-safe
_INC_GATE_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'inc'), 1, 15) AS BIGINT) "
    "% 1000000 < 100000"
)
_INC_ORACLE = (
    """
WITH f AS (SELECT doc_id, __FP__ AS fingerprint FROM documents),
new AS (SELECT * FROM f WHERE __GATE__),
old AS (SELECT * FROM f WHERE NOT (__GATE__))
SELECT MIN(doc_id) AS doc_id, fingerprint
FROM new
WHERE NOT EXISTS (SELECT 1 FROM old WHERE old.fingerprint = new.fingerprint)
GROUP BY fingerprint
ORDER BY doc_id
"""
    .replace("__FP__", portable_hash64_sql(_NORM.format(col="lower(text)")))
    .replace("__GATE__", _INC_GATE_SQL)
)


@register(
    "d_incremental_dedup",
    oracle=_INC_ORACLE,
    doc="incremental corpus dedup: a 10% hash-gated slice plays the "
    "'new crawl batch'; keep only new docs whose content fingerprint is "
    "absent from the existing corpus AND dedup within the batch "
    "(keep-lowest-id).  Scale shape: ONE anti-join + ONE group-by, both "
    "keyed on the 60-bit fingerprint — in production the existing side "
    "is the pre-built fingerprint index table, so a daily increment "
    "never rescans the corpus text.",
)
def d_incremental(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import doc_fingerprint
    from ..operators.sampling import sample_gate

    d = load_table(spark, sf, "documents").withColumn(
        "fingerprint", doc_fingerprint("text")
    )
    gate = sample_gate("doc_id", 0.10, salt="inc")
    new, existing = d.where(gate), d.where(~gate)
    return (
        new.join(
            existing.select("fingerprint"), "fingerprint", "left_anti"
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


# NOTE: this CTE restates the quality formula from functions.text
# quality_score; the canonical SQL twins live in catalog/text_dedup.py
# (t_quality_score / t_corpus_build) — keep all three in lockstep.
_QUALITY_M_CTE = """
n AS (
  SELECT doc_id, source, text, CAST(length(text) AS DOUBLE) AS len,
         __TOKS__ AS toks
  FROM documents),
m AS (
  SELECT doc_id, source,
    CASE WHEN len >= 50 AND len <= 20000 THEN 1.0 ELSE least(len / 50.0, 1.0) END AS length_ok,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / greatest(length(text), 1)
      + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1)
      AS noise,
    len(list_filter(toks, tk -> list_contains(__SW__, tk))) / greatest(len(toks), 1)
      AS swr,
    len(regexp_extract_all(text, '__BPE__')) AS subtok
  FROM n),
q AS (
  SELECT doc_id, source, subtok,
         length_ok * 0.4 + greatest(0.0, 1.0 - noise * 4) * 0.4
           + least(swr * 5, 1.0) * 0.2 AS quality
  FROM m)
""".replace("__TOKS__", _TOKS.format(col="text"))




_SQ_ORACLE = ("""
WITH __QCTE_PLACEHOLDER__
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(quality), 6) AS mean_quality,
       ROUND(AVG(CASE WHEN quality >= 0.45 THEN 1.0 ELSE 0.0 END), 6) AS pass_rate,
       CAST(SUM(subtok) AS BIGINT) AS total_tokens
FROM q
GROUP BY source
ORDER BY source
"""
    .replace("__QCTE_PLACEHOLDER__", _QUALITY_M_CTE)
    .replace("__SW__", _sw_sql("en"))
    .replace("__BPE__", _BPE_SQL)
)

@register(
    "t_source_quality",
    oracle=_SQ_ORACLE,
    doc="per-source corpus triage (the C4-style 'which domains do we "
    "keep' rollup): doc count, mean quality, share passing the >= 0.45 "
    "gate, and total BPE-ish token budget per source.  One scan, pure "
    "codegen scoring, one partial-agg shuffle keyed by source.",
)
def t_source_quality(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import quality_score, subword_token_count

    d = load_table(spark, sf, "documents")
    q = F.col("__q")
    return (
        d.withColumn("__q", quality_score("text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg(q), 6).alias("mean_quality"),
            F.round(
                F.avg(F.when(q >= 0.45, F.lit(1.0)).otherwise(F.lit(0.0))), 6
            ).alias("pass_rate"),
            F.sum(subword_token_count("text")).cast("long").alias("total_tokens"),
        )
        .orderBy("source")
    )


@register(
    "e_funnel",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS s1 FROM events WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS s2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.s1 GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS s3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.s2 GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(CASE WHEN s3.s3 IS NOT NULL THEN 3
                 WHEN s2.s2 IS NOT NULL THEN 2
                 WHEN s1.s1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS funnel_stage,
       strftime(s1.s1, '%Y-%m-%d %H:%M:%S') AS first_view,
       strftime(s2.s2, '%Y-%m-%d %H:%M:%S') AS first_click_after_view,
       strftime(s3.s3, '%Y-%m-%d %H:%M:%S') AS first_purchase_after_click
FROM u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id
ORDER BY 1
""",
    doc="ordered conversion funnel (view -> click -> purchase, strictly "
    "increasing event times): per-user stage timestamps from THREE "
    "chained conditional window-mins over ONE user-key partitioning — "
    "the shuffle happens once and all three stages reuse it (vs the "
    "oracle's three self-join aggregates).  The classic product-"
    "analytics operator, expressed at scan+single-shuffle cost.",
)
def e_funnel(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id")
    e = load_table(spark, sf, "events")
    s1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    df = e.withColumn("s1", s1)
    s2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("s1")), F.col("ts"))
    ).over(w)
    df = df.withColumn("s2", s2)
    s3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("s2")), F.col("ts")
        )
    ).over(w)
    df = df.withColumn("s3", s3)
    return (
        df.groupBy("user_id")
        .agg(
            F.max("s1").alias("s1"), F.max("s2").alias("s2"), F.max("s3").alias("s3")
        )
        .select(
            "user_id",
            (
                F.when(F.col("s3").isNotNull(), 3)
                .when(F.col("s2").isNotNull(), 2)
                .when(F.col("s1").isNotNull(), 1)
                .otherwise(0)
            ).cast("int").alias("funnel_stage"),
            F.date_format("s1", "yyyy-MM-dd HH:mm:ss").alias("first_view"),
            F.date_format("s2", "yyyy-MM-dd HH:mm:ss").alias("first_click_after_view"),
            F.date_format("s3", "yyyy-MM-dd HH:mm:ss").alias("first_purchase_after_click"),
        )
        .orderBy("user_id")
    )


@register(
    "e_retention",
    oracle="""
WITH cohort AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT e.user_id, c.cohort_week,
         date_trunc('week', e.ts) AS activity_week
  FROM events e JOIN cohort c ON e.user_id = c.user_id)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort_week, activity_week) // 7 AS BIGINT)
         AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM activity
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="weekly retention cohorts: users bucketed by first-event week, "
    "counted in each later activity week.  The cohort label rides the "
    "same user-key window partitioning as the activity dedup — one "
    "shuffle keyed by user, one rollup keyed by (cohort, offset).",
)
def e_retention(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id")
    e = load_table(spark, sf, "events")
    df = (
        e.withColumn("cohort_week", F.date_trunc("week", F.min("ts").over(w)))
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", "ts").alias("activity_week"),
        )
        .distinct()
    )
    return (
        df.groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff("activity_week", "cohort_week") / 7
            ).cast("long").alias("week_offset"),
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


def _lex_sql(kind: str) -> str:
    from ..functions.text import SENTIMENT_LEXICON

    return "[" + ", ".join(f"'{w}'" for w in SENTIMENT_LEXICON[kind]) + "]"


@register(
    "t_sentiment",
    oracle="""
WITH toks AS (SELECT doc_id, __TOKS__ AS t FROM documents),
hits AS (
  SELECT doc_id,
         len(list_filter(t, tk -> list_contains(__POS__, tk))) AS p,
         len(list_filter(t, tk -> list_contains(__NEG__, tk))) AS n
  FROM toks)
SELECT doc_id,
       CAST(p AS BIGINT) AS pos_hits,
       CAST(n AS BIGINT) AS neg_hits,
       ROUND(CASE WHEN p + n > 0 THEN CAST(p - n AS DOUBLE) / (p + n)
                  ELSE 0.0 END, 6) AS sentiment
FROM hits
ORDER BY doc_id
"""
    .replace("__TOKS__", _TOKS.format(col="text"))
    .replace("__POS__", _lex_sql("positive"))
    .replace("__NEG__", _lex_sql("negative")),
    doc="lexicon sentiment scoring (SURVEY 7.1 milestone-5 north star "
    "'sentiment via UDF', re-expressed WITHOUT a UDF): polarity-word "
    "hit counts and a [-1,1] valence score as pure Catalyst "
    "filter-counts — one scan, codegen, SQL-replayable.",
)
def t_sentiment(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import SENTIMENT_LEXICON, sentiment_score, tokens

    d = load_table(spark, sf, "documents")

    def hits(kind: str) -> F.Column:
        lex = F.array(*[F.lit(w) for w in SENTIMENT_LEXICON[kind]])
        return F.size(
            F.filter(tokens("text"), lambda t: F.array_contains(lex, t))
        ).cast("long")

    return d.select(
        "doc_id",
        hits("positive").alias("pos_hits"),
        hits("negative").alias("neg_hits"),
        F.round(sentiment_score("text"), 6).alias("sentiment"),
    ).orderBy("doc_id")


@register(
    "t_mix_resample",
    oracle="""
WITH r AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 1.5
              WHEN lang = 'de' THEN 0.5
              ELSE 0.25 END AS rate,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 15) AS BIGINT)
           AS h
  FROM documents),
c AS (
  SELECT doc_id, lang,
         CAST(floor(rate) AS INT)
           + CASE WHEN (h % 1000000) < CAST(FLOOR((rate - floor(rate)) * 1000000) AS BIGINT)
                  THEN 1 ELSE 0 END AS n
  FROM r),
o AS (
  SELECT doc_id, lang, unnest(generate_series(1, n)) AS copy_id
  FROM c WHERE n >= 1)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows_out,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MAX(copy_id) AS BIGINT) AS max_copies
FROM o
GROUP BY lang
ORDER BY lang
""",
    doc="training-mix resampling: per-language target rates (en 1.5x "
    "upsample, de 0.5x, others 0.25x) applied with the deterministic "
    "md5 gate — floor(rate) copies plus a fractional-gate extra, so "
    "expected output = sum(rate) exactly, reproducibly, with no RNG "
    "and no shuffle before the rollup; copy_id keeps provenance.",
)
def t_mix(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sampling import resample_weighted

    d = load_table(spark, sf, "documents").withColumn(
        "rate",
        F.when(F.col("lang") == "en", F.lit(1.5))
        .when(F.col("lang") == "de", F.lit(0.5))
        .otherwise(F.lit(0.25)),
    )
    out = resample_weighted(d, "doc_id", "rate", salt="mix")
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows_out"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.max("copy_id").cast("long").alias("max_copies"),
        )
        .orderBy("lang")
    )


@register(
    "t_unigram_surprisal",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(__TOKS__) AS tok FROM documents),
f AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT SUM(c) AS s FROM f),
sc AS (
  SELECT t.doc_id, -ln(f.c / tot.s) AS lp
  FROM toks t JOIN f ON t.tok = f.tok CROSS JOIN tot)
SELECT doc_id,
       ROUND(AVG(lp), 6) AS avg_surprisal,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM sc
GROUP BY doc_id
ORDER BY doc_id
""".replace("__TOKS__", _TOKS.format(col="text")),
    doc="corpus-statistics LM quality signal (the CCNet-style perplexity "
    "filter, re-expressed without a model): per-document mean unigram "
    "surprisal -ln(count/total) against the corpus's own token "
    "distribution.  Two-pass shape: a vocab-sized frequency table "
    "(broadcast back onto the exploded tokens — the corpus shuffles "
    "once, by token, for the frequency agg) then a per-doc rollup.  "
    "Low surprisal = repetitive/boilerplate, high = noise; both tails "
    "get filtered in a real pipeline.",
)
def t_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import tokens

    d = load_table(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("s"))
    lp = -F.log(F.col("c") / F.col("s"))
    return (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(lp), 6).alias("avg_surprisal"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_tfidf_keywords",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(__TOKS__) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
ranked AS (
  SELECT doc_id, tok, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rn
  FROM scored)
SELECT doc_id, CAST(rn AS INT) AS rank, tok, ROUND(tfidf, 6) AS tfidf
FROM ranked WHERE rn <= 3
ORDER BY doc_id, rank
""".replace("__TOKS__", _TOKS.format(col="text")),
    doc="TF-IDF keyword extraction: top-3 terms per document (ties broken "
    "by token, total order).  Corpus pass shapes: per-(doc,token) tf "
    "agg, vocab-sized df agg broadcast back, 1-row doc-count broadcast, "
    "then a per-doc rank window — the fact rows shuffle by (doc,token) "
    "then by doc, never by anything data-sized twice.",
)
def t_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import tokens

    d = load_table(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf", F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", F.col("rank").cast("int"), "tok", F.round("tfidf", 6).alias("tfidf"))
        .orderBy("doc_id", "rank")
    )


_DECONTAM_ORACLE = (
    """
WITH toks AS (SELECT doc_id, __TOKS__ AS t FROM documents),
sh AS (SELECT doc_id, __SHINGLES__ AS sh FROM toks WHERE len(t) >= 5),
ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
h AS (SELECT doc_id, n, __H64__ AS h FROM ex),
ev AS (SELECT * FROM h WHERE __GATE__),
tr AS (SELECT * FROM h WHERE NOT (__GATE__)),
pairs AS (
  SELECT tr.doc_id AS train_id, ev.n AS ne, COUNT(*) AS shared_ngrams
  FROM tr JOIN ev ON tr.h = ev.h
  GROUP BY tr.doc_id, ev.doc_id, ev.n),
flagged AS (
  SELECT DISTINCT train_id FROM pairs
  WHERE shared_ngrams >= 2 AND ROUND(shared_ngrams / ne, 6) >= 0.3),
j AS (
  SELECT d.source, d.n_chars, f.train_id IS NOT NULL AS dropped
  FROM documents d LEFT JOIN flagged f ON d.doc_id = f.train_id
  WHERE NOT (__GATE__))
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN dropped THEN 0 ELSE n_chars END) AS BIGINT) AS kept_chars
FROM j
GROUP BY source
ORDER BY source
"""
    .replace("__TOKS__", _TOKS.format(col="text"))
    .replace("__SHINGLES__", _shingle_sql(5))
    .replace("__H64__", portable_hash64_sql("s"))
    .replace("__GATE__", _GATE)
)


@register(
    "t_decontaminate",
    oracle=_DECONTAM_ORACLE,
    doc="acts on the t_contamination report: train docs whose overlap "
    "with ANY eval item reaches 30% of that item's shingles are dropped "
    "via a left-anti-style join, and the per-source before/after (docs "
    "dropped, docs kept, character mass kept) comes back as the audit "
    "summary.  Scale: the flagged-id set is duplicate-rate-small and "
    "broadcast; the training corpus is scanned once and never shuffled "
    "except the final per-source rollup.",
)
def t_decontam(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import cross_corpus_overlap
    from ..operators.sampling import sample_gate

    d = load_table(spark, sf, "documents")
    gate = sample_gate("doc_id", 0.05, salt="ev")
    train = d.where(~gate)
    flagged = (
        cross_corpus_overlap(train, d.where(gate), k=5, min_shared=2)
        .where(F.col("overlap_frac") >= 0.3)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    j = train.join(F.broadcast(flagged), "doc_id", "left")
    dropped = F.col("__drop").isNotNull()
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.when(dropped, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.sum(F.when(dropped, 0).otherwise(1)).cast("long").alias("n_kept"),
            F.sum(F.when(dropped, 0).otherwise(F.col("n_chars"))).cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------- semantic dedup
def _semantic_dedup_oracle(
    dims: int, threshold: float, tables: int, planes_per_table: int, seed: int
) -> str:
    from .text_dedup import _embedding_lsh_buckets_sql, _embedding_lsh_ctes

    buckets = _embedding_lsh_buckets_sql(dims, tables, planes_per_table, seed)
    return f"""
WITH RECURSIVE {_embedding_lsh_ctes(buckets, threshold)},
edges AS (SELECT id_a AS u, id_b AS w FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(u, w) AS (
  SELECT u, w FROM edges
  UNION
  SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u WHERE e.w <> r.u),
labels AS (SELECT u AS vec_id, LEAST(u, MIN(w)) AS cluster_id
           FROM reach GROUP BY u),
assigned AS (
  SELECT em.vec_id, COALESCE(l.cluster_id, em.vec_id) AS cluster_id
  FROM embeddings em LEFT JOIN labels l ON em.vec_id = l.vec_id)
SELECT vec_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       vec_id = cluster_id AS is_canonical
FROM assigned
ORDER BY vec_id
"""


@register(
    "d_semantic_dedup",
    oracle=_semantic_dedup_oracle(dims=64, threshold=0.4, tables=12, planes_per_table=4, seed=42),
    doc="SemDeDup-shaped semantic deduplication over EMBEDDINGS (Abbas et "
    "al. 2023 semantics re-expressed without a trained quantizer): "
    "multi-table hyperplane-LSH candidates -> exact cosine >= 0.4 verify "
    "(operators/dedup.embedding_lsh_pairs, never all-pairs) -> "
    "large-star/small-star connected components -> full-corpus cluster "
    "assignment with a keep-lowest-id canonical per semantic group; "
    "filter(is_canonical) IS the semantically deduped corpus.  Scale: "
    "shuffle O(rows x tables) for candidates + two groupBy-on-id rounds "
    "per CC iteration; the oracle replays the closure with a recursive "
    "CTE over the identical plane literals.",
)
def d_semantic(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import embedding_lsh_pairs

    emb = load_table(spark, sf, "embeddings")
    pairs = embedding_lsh_pairs(
        emb,
        dims=64,
        vec_col="embedding",
        id_col="vec_id",
        threshold=0.4,
        tables=12,
        planes_per_table=4,
        seed=42,
        # single-file input → spread the projection/verify CPU
        parallelism=spark.sparkContext.defaultParallelism,
    )
    out = dedup_clusters(emb, pairs, id_col="vec_id", broadcast_labels=True)
    return out.select("vec_id", "cluster_id", "cluster_size", "is_canonical").orderBy(
        "vec_id"
    )


@register(
    "t_dedup_impact",
    oracle=f"""
WITH RECURSIVE {_jaccard_cte(3, 0.5)},
edges AS (SELECT id_a AS u, id_b AS v FROM exact
          UNION SELECT id_b, id_a FROM exact),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
labels AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
           FROM reach GROUP BY u),
assigned AS (
  SELECT d.doc_id, d.source,
         CAST(len({_TOKS.format(col="d.text")}) AS BIGINT) AS n_tokens,
         COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS keep
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
       ROUND(1.0 - CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n_tokens) AS DOUBLE), 6) AS token_savings
FROM assigned
GROUP BY source
ORDER BY source
""",
    doc="dedup impact report: the near-dup clustering's canonical "
    "keep-list (d_dedup_clusters) rolled up per source — docs/tokens "
    "before vs after, token savings fraction — the executive number a "
    "dedup run is judged by, and the per-source attribution that tells "
    "you WHICH feed is redundant.  Scale: the cluster pipeline's own "
    "shapes plus one broadcast label join and a partial-agg'd source "
    "rollup; exact token counts.",
)
def t_dedup_impact(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    clusters = dedup_clusters(docs, pairs, broadcast_labels=True).select(
        "doc_id", "is_canonical"
    )
    labeled = docs.join(clusters, "doc_id").select(
        "source",
        token_count("text").alias("n_tokens"),
        F.col("is_canonical").alias("keep"),
    )
    return (
        labeled.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum("n_tokens").alias("tokens"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)).alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "tokens",
            "tokens_kept",
            F.round(
                1.0 - F.col("tokens_kept").cast("double") / F.col("tokens").cast("double"),
                6,
            ).alias("token_savings"),
        )
        .orderBy("source")
    )


_DECONTAM_SPANS_ORACLE = (
    f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
           AS t
  FROM documents),
tr AS (SELECT * FROM toks WHERE NOT (__GATE__)),
evt AS (SELECT * FROM toks WHERE __GATE__),
evh AS (SELECT DISTINCT __H64__ AS h
        FROM (SELECT unnest({_shingle_sql(5)}) AS s FROM evt WHERE len(t) >= 5)),
pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
        FROM tr WHERE len(t) >= 5),
g AS (SELECT doc_id, i AS s, i + 4 AS e,
             __H64G__ AS h
      FROM pos),
hits AS (SELECT g.doc_id, g.s, g.e FROM g JOIN evh ON g.h = evh.h),
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
  FROM isl),
reg AS (
  SELECT doc_id, isle, CAST(MIN(s) AS BIGINT) AS rs, CAST(MAX(e) AS BIGINT) AS re
  FROM lab GROUP BY doc_id, isle),
regs AS (SELECT doc_id, list({{'rs': rs, 're': re}} ORDER BY rs) AS regs
         FROM reg GROUP BY doc_id),
app AS (
  SELECT tk.doc_id, tk.t,
         COALESCE(r.regs, CAST([] AS STRUCT(rs BIGINT, re BIGINT)[])) AS regs
  FROM tr tk LEFT JOIN regs r ON tk.doc_id = r.doc_id),
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
"""
    .replace("__GATE__", _GATE)
    .replace("__H64__", portable_hash64_sql("s"))
    .replace(
        "__H64G__",
        portable_hash64_sql("concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])"),
    )
)


@register(
    "t_decontaminate_spans",
    oracle=_DECONTAM_SPANS_ORACLE,
    doc="span-level eval decontamination (the GPT-3 appendix-C policy, "
    "5-gram formulation): instead of DROPPING training docs that "
    "overlap the eval set (t_decontaminate), only the overlapping "
    "spans are removed — eval 5-gram hashes (a compact broadcast set) "
    "mark train positions, hit windows merge into disjoint regions, "
    "and a per-row higher-order filter cuts them from the text, "
    "emitting every train doc with removal accounting.  Preserves far "
    "more tokens than doc-level dropping on mildly-contaminated "
    "corpora.  Scale: the train side shuffles once for region merging; "
    "the eval fingerprint set stays broadcast-sized (|eval| x grams).",
)
def t_decontam_spans(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.hashing import portable_hash64
    from ..functions.text import tokens
    from ..operators.sampling import sample_gate
    from ..operators.timeseries import merge_intervals

    docs = load_table(spark, sf, "documents")
    gate = sample_gate("doc_id", 0.05, salt="ev")
    train = docs.where(~gate).select("doc_id", tokens("text").alias("t"))
    ev = docs.where(gate).select(tokens("text").alias("t")).where(F.size("t") >= 5)
    evh = (
        ev.select(
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, size(t)-4), "
                    "i -> concat_ws(' ', slice(t, i, 5))))"
                )
            ).alias("s")
        )
        .select(portable_hash64("s").alias("h"))
        .distinct()
    )
    tr5 = train.where(F.size("t") >= 5)
    g = tr5.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t)-4), i -> concat_ws(' ', slice(t, i, 5)))"
            )
        ).alias("i0", "gram"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("start"),
        (F.col("i0") + 5).alias("end"),
        portable_hash64("gram").alias("h"),
    )
    hits = g.join(F.broadcast(evh), "h")
    regions = merge_intervals(hits.select("doc_id", "start", "end"), "doc_id")
    from ..operators.timeseries import apply_span_cuts

    return apply_span_cuts(train, regions).orderBy("doc_id")


@register(
    "d_cluster_survivorship",
    oracle=f"""
WITH RECURSIVE {_jaccard_cte(3, 0.5)},
edges AS (SELECT id_a AS u, id_b AS v FROM exact
          UNION SELECT id_b, id_a FROM exact),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
labels AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
           FROM reach GROUP BY u),
nq AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS len, text,
         {_TOKS.format(col="text")} AS toks
  FROM documents),
mq AS (
  SELECT doc_id,
    CASE WHEN len >= 50 AND len <= 20000 THEN 1.0 ELSE least(len / 50.0, 1.0) END AS length_ok,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / greatest(length(text), 1)
      + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1)
      AS noise,
    len(list_filter(toks, tk -> list_contains({_sw_sql('en')}, tk))) / greatest(len(toks), 1)
      AS swr
  FROM nq),
q AS (SELECT doc_id,
             ROUND(length_ok * 0.4 + greatest(0.0, 1.0 - noise * 4) * 0.4
                   + least(swr * 5, 1.0) * 0.2, 6) AS quality
      FROM mq),
members AS (
  SELECT l.cluster_id, l.doc_id, q.quality
  FROM labels l JOIN q ON l.doc_id = q.doc_id),
ranked AS (
  SELECT cluster_id, doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
         CAST(MIN(doc_id) OVER (PARTITION BY cluster_id) AS BIGINT) AS min_doc_id
  FROM members)
SELECT cluster_id, cluster_size,
       doc_id AS rep_doc_id, quality AS rep_quality, min_doc_id
FROM ranked WHERE rk = 1
ORDER BY cluster_id
""",
    doc="duplicate-cluster SURVIVORSHIP: instead of keeping the min-id "
    "canonical doc (d_dedup_clusters), keep the HIGHEST-QUALITY member "
    "of each near-dup cluster (quality-desc, doc_id tie-break) — the "
    "policy real corpus builds use so dedup doesn't systematically keep "
    "the worst copy.  Composes the CC cluster machinery with the "
    "quality-score operator; the oracle replays the closure recursively "
    "and ranks with the identical quality formula.  Scale: clusters come "
    "from the star-contraction CC (2 node-keyed shuffles/round); the "
    "rank window partitions by cluster_id; only multi-member clusters "
    "reach the output.",
)
def d_cluster_survivorship(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import quality_score
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    clusters = dedup_clusters(docs, pairs, broadcast_labels=True).where(
        F.col("cluster_size") >= 2
    )
    q = docs.select("doc_id", F.round(quality_score("text"), 6).alias("quality"))
    members = clusters.select("cluster_id", "doc_id").join(q, "doc_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    w_clu = Window.partitionBy("cluster_id")
    return (
        members.select(
            "cluster_id",
            "doc_id",
            "quality",
            F.row_number().over(w_rank).alias("rk"),
            F.count("*").over(w_clu).cast("long").alias("cluster_size"),
            F.min("doc_id").over(w_clu).cast("long").alias("min_doc_id"),
        )
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            "cluster_size",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("quality").alias("rep_quality"),
            "min_doc_id",
        )
        .orderBy("cluster_id")
    )


# ------------------------------------------------------------- Zipf fit
_ZIPF_TOP = 200


@register(
    "t_zipf_fit",
    oracle=f"""
WITH toks AS (
  SELECT unnest({_TOKS.format(col="text")}) AS tok FROM documents),
f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok),
top AS MATERIALIZED (
  SELECT tok, c FROM f ORDER BY c DESC, tok LIMIT {_ZIPF_TOP}),
xy AS (
  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM top),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM xy)
SELECT n AS n_ranks,
       FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000 + 0.5) / 10000
         AS zipf_slope,
       FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n * 10000
             + 0.5) / 10000 AS log_intercept,
       FLOOR((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000 + 0.5)
         / 1000000 AS r2
FROM m
""",
    doc="corpus-statistics law fit: the Zipf exponent of the token "
    "frequency distribution — OLS slope of ln(freq) on ln(rank) over "
    f"the top-{_ZIPF_TOP} tokens (natural text sits near -1; heavily "
    "templated or synthetic corpora drift away, so the slope + R^2 is "
    "a cheap corpus-health gate).  Scale: ONE token-keyed frequency "
    "aggregate, a distributed TakeOrdered cut to the constant "
    f"{_ZIPF_TOP}-row panel (the only window runs over that bounded "
    "panel — the t_vocab_coverage pattern), then a single moment "
    "reduce with the mirrored closed-form slope/intercept/R^2 "
    "expressions (ln + 1e-4/1e-6 rounding — the t_unigram_surprisal "
    "precision convention).",
)
def t_zipf(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import tokens as _tok

    d = load_table(spark, sf, "documents")
    freq = (
        d.select(F.explode(_tok("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # no checkpoint: the single-consumer GlobalLimit must stay visible so
    # the no-unbounded-window plan gate can prove the window input bounded
    top = freq.orderBy(F.col("c").desc(), "tok").limit(_ZIPF_TOP)
    w = Window.orderBy(F.col("c").desc(), "tok")
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    r2 = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return m.select(
        F.col("n").alias("n_ranks"),
        (F.floor(slope * 10000 + 0.5) / 10000).alias("zipf_slope"),
        (F.floor((F.col("sy") - slope * F.col("sx")) / F.col("n") * 10000 + 0.5) / 10000).alias(
            "log_intercept"
        ),
        (F.floor(r2 * 1000000 + 0.5) / 1000000).alias("r2"),
    )


# ------------------------------------------------------------ Heaps' law
@register(
    "t_heaps_fit",
    oracle=f"""
WITH tokpos AS (
  SELECT doc_id, u.tok AS tok, u.i AS pos
  FROM (SELECT doc_id,
               unnest(list_transform({_TOKS.format(col="text")},
                                     (t, i) -> {{'tok': t, 'i': i}})) AS u
        FROM documents)),
doccnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM tokpos GROUP BY 1),
offs AS (
  SELECT doc_id, SUM(cnt) OVER (ORDER BY doc_id) - cnt AS off FROM doccnt),
firstpos AS MATERIALIZED (
  SELECT t.tok, MIN(o.off + t.pos) AS fp
  FROM tokpos t JOIN offs o ON t.doc_id = o.doc_id GROUP BY 1),
panel AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM doccnt),
vk AS MATERIALIZED (
  SELECT k, CAST(p.n * k // 10 AS BIGINT) AS ck,
         CAST(SUM(CASE WHEN f.fp <= p.n * k // 10 THEN 1 ELSE 0 END) AS BIGINT) AS v
  FROM firstpos f CROSS JOIN panel p CROSS JOIN generate_series(1, 10) AS g(k)
  GROUP BY 1, 2),
xy AS (SELECT ln(CAST(ck AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y FROM vk),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM xy)
SELECT (SELECT n FROM panel) AS n_tokens,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM firstpos) AS vocab_total,
       FLOOR((m.n * sxy - sx * sy) / (m.n * sxx - sx * sx) * 10000 + 0.5) / 10000
         AS heaps_beta,
       FLOOR((m.n * sxy - sx * sy) * (m.n * sxy - sx * sy)
             / ((m.n * sxx - sx * sx) * (m.n * syy - sy * sy)) * 1000000 + 0.5)
         / 1000000 AS r2
FROM m
""",
    doc="corpus-statistics law fit #2: the Heaps/Herdan vocabulary-growth "
    "exponent — V(n) ~ K*n^beta fitted by OLS on ln(V) vs ln(n) at the "
    "ten corpus-token deciles (natural text sits near 0.4-0.6; "
    "template-heavy or deduplicated-to-death corpora flatten).  Every "
    "token gets an exact global position (per-doc offsets from the "
    "two-phase distributed prefix sum + in-doc posexplode ordinal), "
    "each vocabulary item keeps its FIRST position, and V(decile "
    "cut) counts first-positions under the cut — exact integers up to "
    "the final mirrored ln/OLS expressions (1e-4/1e-6 rounding).  "
    "Scale: token-keyed and doc-keyed partial-agg shuffles only; the "
    "10-row cut panel broadcasts over the vocab table; the OLS reduce "
    "sees 10 rows.",
)
def t_heaps(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import tokens as _tok
    from ..operators.packing import with_prefix_sum

    d = load_table(spark, sf, "documents")
    tokpos = d.select(
        "doc_id", F.posexplode(_tok("text")).alias("pos0", "tok")
    ).select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    doccnt = tokpos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    offs = with_prefix_sum(doccnt, "doc_id", "cnt", out_col="off").select(
        "doc_id", "off"
    )
    firstpos = (
        tokpos.join(offs, "doc_id")
        .groupBy("tok")
        .agg(F.min(F.col("off") + F.col("pos")).alias("fp"))
    )
    panel = doccnt.agg(F.sum("cnt").cast("long").alias("n"))
    cuts = panel.select(
        "n", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("k")
    ).select("k", F.floor(F.col("n") * F.col("k") / 10).cast("long").alias("ck"))
    vk = (
        firstpos.crossJoin(F.broadcast(cuts))
        .groupBy("k", "ck")
        .agg(F.sum(F.when(F.col("fp") <= F.col("ck"), 1).otherwise(0)).alias("v"))
    )
    xy = vk.select(
        F.log(F.col("ck").cast("double")).alias("x"),
        F.log(F.col("v").cast("double")).alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    r2 = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    tot = panel.select(F.col("n").alias("n_tokens"))
    voc = firstpos.agg(F.count(F.lit(1)).cast("long").alias("vocab_total"))
    return (
        m.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(voc))
        .select(
            "n_tokens",
            "vocab_total",
            (F.floor(slope * 10000 + 0.5) / 10000).alias("heaps_beta"),
            (F.floor(r2 * 1000000 + 0.5) / 1000000).alias("r2"),
        )
    )


# ------------------------------------------------- topic-grouped packing
def _all_stopwords() -> "list[str]":
    from ..functions.text import STOPWORDS

    out = set()
    for words in STOPWORDS.values():
        out.update(words)
    return sorted(out)


_TP_BUDGET = 256


def _topic_packing_oracle() -> str:
    sw = ", ".join(f"'{w}'" for w in _all_stopwords())
    arm = """
pk_{a} AS (
  SELECT doc_id, topic, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY {order}
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS so
  FROM base),
win_{a} AS (
  SELECT doc_id, topic,
         UNNEST(generate_series(so // {b}, (so + n_tokens - 1) // {b})) AS w
  FROM pk_{a}),
cells_{a} AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT topic) AS BIGINT) AS n_topics
  FROM win_{a} GROUP BY w),
agg_{a} AS (
  SELECT '{a}' AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS multi_doc_windows,
         CASE WHEN SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) = 0 THEN 0.0
              ELSE FLOOR(CAST(SUM(CASE WHEN n_docs > 1 AND n_topics = 1
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)
                   * 1000000 + 0.5) / 1000000 END AS mono_topic_share,
         FLOOR(CAST(SUM(n_docs) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
           AS avg_docs_per_window
  FROM cells_{a})"""
    return f"""
WITH toks AS (SELECT doc_id, {{toks}} AS t FROM documents),
ex AS (SELECT doc_id, UNNEST(t) AS tok FROM toks),
cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex
        WHERE tok NOT IN ({sw}) GROUP BY doc_id, tok),
tp AS (SELECT doc_id, tok AS topic
       FROM (SELECT doc_id, tok,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY c DESC, tok) AS rn
             FROM cnt) WHERE rn = 1),
base AS (
  SELECT t.doc_id, COALESCE(tp.topic, '') AS topic,
         CAST(len(t.t) AS BIGINT) AS n_tokens
  FROM toks t LEFT JOIN tp ON tp.doc_id = t.doc_id
  WHERE len(t.t) > 0),
{arm.format(a="topic", order="topic, doc_id", b=_TP_BUDGET)},
{arm.format(a="baseline", order="doc_id", b=_TP_BUDGET)}
SELECT * FROM agg_topic UNION ALL SELECT * FROM agg_baseline
ORDER BY arm DESC
""".format(toks=_TOKS.format(col="text"))


@register(
    "t_topic_packing",
    oracle=_topic_packing_oracle(),
    doc="topic-grouped sequence packing + coherence audit (the in-context-"
    "pretraining layout: packing RELATED documents into the same context "
    "window instead of arbitrary doc_id neighbors): each doc's topic key "
    "is its most frequent non-stopword token (ties to the smallest — a "
    "deterministic proxy; a real pipeline swaps in cluster ids from "
    "d_semantic_dedup over the identical shape), the corpus is packed "
    "into 256-token windows twice — ordered by (topic, doc_id) and by "
    "plain doc_id — and the audit reports, per arm, how many multi-doc "
    "windows are single-topic and the mean docs per window.  Both "
    "packings ride the two-phase distributed prefix sum (the struct "
    "order key range-partitions like any orderable column); the oracle "
    "replays them with plain global windows.  Scale: token counting and "
    "topic argmax are map-side-combined aggregates (argmax via min over "
    "(-count, token) structs — no per-doc sort); window cells are a "
    "bounded explode (n_seqs per doc) into one groupBy.",
)
def t_topic_packing(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import tokens

    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t")).localCheckpoint()
    ex = toks.select("doc_id", F.explode("t").alias("tok"))
    cnt = (
        ex.where(~F.col("tok").isin(_all_stopwords()))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    topic = cnt.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("tok").alias("tok")))
        .getField("tok")
        .alias("topic")
    )
    base = (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        # zero-token docs diverge between pack_sequences (pins one window
        # cell) and the oracle's generate_series (zero rows on a boundary
        # offset) — exclude them in BOTH arms so the two agree
        .where(F.col("n_tokens") > 0)
        .join(topic, "doc_id", "left")
        .select("doc_id", F.coalesce("topic", F.lit("")).alias("topic"), "n_tokens")
        .localCheckpoint()  # feeds both packing arms
    )

    def arm(name: str, order_col: str) -> DataFrame:
        packed = pack_sequences(base.withColumn("__ord", F.expr(order_col)), "__ord", "n_tokens", budget=_TP_BUDGET)
        cells = (
            packed.select(
                "doc_id",
                "topic",
                F.explode(F.sequence("seq_first", "seq_last")).alias("w"),
            )
            .groupBy("w")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.countDistinct("topic").cast("long").alias("n_topics"),
            )
        )
        multi = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        mono_multi = F.sum(
            F.when((F.col("n_docs") > 1) & (F.col("n_topics") == 1), 1).otherwise(0)
        )
        return cells.agg(
            F.lit(name).alias("arm"),
            F.count("*").cast("long").alias("n_windows"),
            multi.cast("long").alias("multi_doc_windows"),
            F.when(multi == 0, F.lit(0.0))
            .otherwise(
                F.floor(mono_multi.cast("double") / multi * 1000000 + 0.5) / 1000000
            )
            .alias("mono_topic_share"),
            (
                F.floor(F.sum("n_docs").cast("double") / F.count("*") * 1000000 + 0.5)
                / 1000000
            ).alias("avg_docs_per_window"),
        )

    return arm("topic", "struct(topic, doc_id)").unionByName(
        arm("baseline", "struct(doc_id)")
    ).orderBy(F.col("arm").desc())
